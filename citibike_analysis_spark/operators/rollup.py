"""Interval rollup (SURVEY.md W4): fixed-grain time-bucket aggregation.

The reference maintains a 15-minute-grain ``availability`` table where
``available_bikes`` is the min over the 3-minute samples in each interval
(reference README.md:196-224). Batch form here; the streaming form with
watermarks lives in ``citibike_analysis_spark.streaming.rollup``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_rollup(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    aggs: list[Column],
    interval: str = "15 minutes",
) -> DataFrame:
    """Tumbling-window aggregation at a fixed grain.

    Output carries ``bucket_ts`` = window start. Map-side partial
    aggregation applies (hash agg on (window, keys)), so the shuffle moves
    one row per (bucket, key) per input partition — at 100 TB this is the
    difference between shuffling samples and shuffling intervals.
    """
    return (
        df.groupBy(F.window(F.col(ts_col), interval).alias("_w"), *keys)
        .agg(*aggs)
        .withColumn("bucket_ts", F.col("_w.start"))
        .drop("_w")
    )
