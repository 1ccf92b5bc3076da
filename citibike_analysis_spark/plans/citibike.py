"""The reference's own pipelines, re-expressed Spark-first (SURVEY.md §3).

Three entry points:

- :func:`interesting_stations_sql` — the §3.1 reduction query
  (reference README.md:232-288) verbatim as Spark SQL over a registered
  ``availability`` view: scan → filtered grouped conditional agg →
  ntile(100)x3 → rank-per-hood → top-1 → semi-join back to the fact.
- :func:`clean_weather` — the §3.2 cleaning chain
  (reference README.md:874-901): derive time_hour → split by
  missing/predicted predicate → drop stale weather cols → left-join the
  patch table on (time_hour, zip) → union by name → dedup.
- :func:`build_refetch_keys` — the §3.2 prelude (README.md:493-586):
  dedup (zip, hour) keys, coarsen to (zip, day), attach one
  representative coordinate per zip via rank=1.

Plus :func:`repair_zip` for the leading-zero fix (README.md:367-390).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from citibike_analysis_spark.functions.temporal import trunc_day, trunc_hour

#: Weather columns carried by the availability fact that the patch
#: replaces (the 8-column drop at reference README.md:888-890).
WEATHER_COLS = (
    "weather_summary",
    "precip_intensity",
    "temperature",
    "humidity",
    "wind_speed",
    "wind_gust",
    "cloud_cover",
    "weather_status",
)


def repair_zip(df: DataFrame, col: str = "zip", width: int = 5) -> DataFrame:
    """Restore leading zeros lost to numeric inference (README.md:367-390).

    The engine's readers declare zip as string so this never triggers on
    our own ingests; provided for repairing foreign extracts.
    """
    return df.withColumn(col, F.lpad(F.col(col).cast("string"), width, "0"))


#: §3.1 — the reduction query, kept textually close to the reference SQL
#: (reference README.md:232-288) so the lifecycle §3.1 mapping is
#: auditable. Differences: none semantically; the final join is written
#: LEFT SEMI to make the reference's a.*-projection semantics explicit
#: (rank() can tie — an inner join would duplicate fact rows).
INTERESTING_STATIONS_SQL = """
WITH variability AS (
    SELECT station_id,
           station_name,
           hood,
           borough,
           max(available_bikes) AS max_bikes,
           sum(CASE WHEN available_bikes = 0 THEN 1 ELSE 0 END) AS times_no_bikes,
           sum(CASE WHEN available_docks = 0 THEN 1 ELSE 0 END) AS times_no_docks
    FROM availability
    WHERE station_status = 'In Service'
    GROUP BY station_id, station_name, hood, borough
),
percentiles AS (
    SELECT *,
           ntile(100) OVER (ORDER BY max_bikes ASC, station_id)      AS max_bikes_percentile,
           ntile(100) OVER (ORDER BY times_no_bikes ASC, station_id) AS no_bikes_percentile,
           ntile(100) OVER (ORDER BY times_no_docks ASC, station_id) AS no_docks_percentile
    FROM variability
),
ranks AS (
    SELECT *,
           rank() OVER (
               PARTITION BY hood
               ORDER BY (max_bikes_percentile + no_bikes_percentile + no_docks_percentile) DESC,
                        station_id
           ) AS rank
    FROM percentiles
    WHERE max_bikes_percentile > {g0} AND no_bikes_percentile > {g1} AND no_docks_percentile > {g2}
),
ranked_by_hood AS (
    SELECT * FROM ranks WHERE rank = 1
)
SELECT a.*
FROM availability a
LEFT SEMI JOIN ranked_by_hood rbh ON a.station_id = rbh.station_id
"""


def interesting_stations_sql(
    spark: SparkSession,
    availability: DataFrame,
    gates: tuple[int, int, int] = (40, 50, 50),
) -> DataFrame:
    """Run the §3.1 reduction query over an availability DataFrame.

    Gates default to the reference's thresholds (README.md:266-269).
    The ntile ORDER BYs carry station_id tie-breaks — the reference's
    don't, which makes its bucket assignment nondeterministic under
    ties; we pin it (documented deviation, SURVEY.md §7 "what's hard").
    """
    availability.createOrReplaceTempView("availability")
    return spark.sql(
        INTERESTING_STATIONS_SQL.format(g0=gates[0], g1=gates[1], g2=gates[2])
    )


def split_missing_weather(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P4 complementary split (README.md:881-885): rows needing repair
    (weather NULL or predicted) vs observed rows."""
    needs_fix = F.col("weather_status").isNull() | (
        F.col("weather_status") == "predicted"
    )
    return df.filter(needs_fix), df.filter(~needs_fix)


def clean_weather(availability: DataFrame, weather_fix: DataFrame) -> DataFrame:
    """§3.2 cleaning chain (README.md:874-901), split-patch-union form.

    1. derive ``time_hour`` (F1);
    2. split into needs-fix / observed halves (P4);
    3. drop the 8 stale weather columns from the needs-fix half (P2);
    4. left-join the hourly patch table on (time_hour, zip) (J2 —
       broadcast: the patch table is ~34K rows against a 5.8M fact);
    5. union by name (J6 — the halves have different column orders, as
       in the reference where pandas aligns by name);
    6. drop exact duplicate rows (A7, the post-union dedup at :900).

    The reference's own invariants (tested in tests/test_citibike.py):
    zero residual NULL/predicted rows, and row-count conservation.
    """
    with_hour = availability.withColumn("time_hour", trunc_hour(F.col("time_interval")))
    needs_fix, observed = split_missing_weather(with_hour)

    stripped = needs_fix.drop(*WEATHER_COLS)
    patched = stripped.join(F.broadcast(weather_fix), ["time_hour", "zip"], "left")

    merged = observed.unionByName(patched.select(*observed.columns))
    return merged.dropDuplicates()


def build_refetch_keys(availability: DataFrame) -> DataFrame:
    """§3.2 prelude (README.md:493-586): the (zip, day, lat, long) re-fetch
    key list.

    - project + dedup (zip, time_hour) for rows needing fix (P1/A7);
    - coarsen hour → day (F2) and dedup again — the reference's manual
      cardinality reduction (22,566 → 1,416 keys, README.md:504,545);
    - attach one representative coordinate per zip: rank() by latitude,
      keep rank 1 (A11/W3, README.md:569-586).
    """
    needs_fix, _ = split_missing_weather(
        availability.withColumn("time_hour", trunc_hour(F.col("time_interval")))
    )
    keys = (
        needs_fix.select("zip", "time_hour")
        .dropDuplicates()
        .withColumn("time_day", trunc_day(F.col("time_hour")))
        .select("zip", "time_day")
        .dropDuplicates()
    )
    coords = (
        availability.select("zip", "latitude", "longitude")
        .dropDuplicates()
        .withColumn(
            "order",
            F.rank().over(
                Window.partitionBy("zip").orderBy("latitude", "longitude")
            ),
        )
        .filter(F.col("order") == 1)
        .drop("order")
    )
    # J1: 27-zip lookup — broadcast; the engine must never plan the
    # correlated per-row scan the reference first wrote (README.md:598-639).
    return keys.join(F.broadcast(coords), "zip", "inner")
