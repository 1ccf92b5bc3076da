"""The benchmark workloads.

Each workload generates its inputs from the seed into a directory it is
given, registers them on a session during set-up, yields the named
operations of one pass, and checks the program's outputs once, outside
the timed passes. An operation ends in the runner's ``act`` (a ``noop``
write), which the runner times and, in a traced run, splits into spans.
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import Future, ThreadPoolExecutor

import duckdb

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# station_analytics: days of 3-minute samples at 858 stations
DAYS = 3
# corpus_dedup: documents and vectors, the counts of the sf0.01 oracle data
DOCS, VECS = 500, 500


def noop(df) -> None:
    """Run a plan to completion without collecting it to the driver."""
    df.write.format("noop").mode("overwrite").save()


def compare(spark_df, expected: Future) -> list[str]:
    """Order-insensitive multiset comparison of a Spark result with the
    (columns, rows) of a DuckDB query, using the repository's oracle
    harness."""
    tests = os.path.join(ROOT, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    from oracle import compare as oracle_compare

    cols, rows = expected.result()
    return oracle_compare(spark_df, cols, rows)


def duck_query(data_dir: str, tables: tuple[str, ...], sql: str) -> tuple[list[str], list[tuple]]:
    """Run ``sql`` on DuckDB with one view per generated table, and only
    those: the generated directories hold a subset of the engine's
    tables."""
    with duckdb.connect() as con:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()


def oracles(data_dir: str, tables: tuple[str, ...], sqls: dict[str, str]) -> dict[str, Future]:
    """Start the DuckDB queries on a background thread, so they run while
    Spark computes the results they are compared with."""
    pool = ThreadPoolExecutor(1, thread_name_prefix="oracle")
    out = {k: pool.submit(duck_query, data_dir, tables, sql) for k, sql in sqls.items()}
    pool.shutdown(wait=False)  # the queued queries still run
    return out


class StationAnalytics:
    """The paper's Citi Bike pipeline on a generated 858-station dataset."""

    name = "station_analytics"
    tables = ("availability", "weather_fix", "samples")

    def __init__(self, data_dir: str, seed: int, tiny: bool):
        self.dir = data_dir
        self.seed = seed
        self.stations, self.days = (120, 1) if tiny else (858, DAYS)

    def generate(self) -> dict:
        self.rows = gen.station_dataset(self.dir, self.seed, self.days, self.stations)
        return self.rows

    def register(self, spark) -> None:
        from citibike_analysis_spark.sources.tables import register_views

        register_views(spark, self.dir, self.tables)

    def _avail(self, spark):
        from citibike_analysis_spark.plans.citibike import repair_zip
        from citibike_analysis_spark.sources.tables import load_table

        return repair_zip(load_table(spark, self.dir, "availability"))

    def ops(self, spark, act):
        from citibike_analysis_spark.operators.asof import asof_join
        from citibike_analysis_spark.operators.spatial import nearby_map, within_distance_pairs
        from citibike_analysis_spark.plans.citibike import (
            build_refetch_keys,
            clean_weather,
            interesting_stations_sql,
        )
        from citibike_analysis_spark.sources.tables import load_table
        from citibike_analysis_spark.streaming.rollup import availability_rollup

        d = self.dir

        def clean():
            act(clean_weather(self._avail(spark), load_table(spark, d, "weather_fix")))

        def refetch():
            act(build_refetch_keys(self._avail(spark)))

        def interesting():
            act(interesting_stations_sql(spark, self._avail(spark)))

        def rollup():
            act(availability_rollup(load_table(spark, d, "samples")))

        def weather_asof():
            left = self._avail(spark).select("zip", "station_id", "time_interval")
            act(asof_join(
                left, load_table(spark, d, "weather_fix"), ["zip"], "time_interval",
                "time_hour", ["temperature", "precip_intensity"], tolerance_seconds=3600,
            ))

        def nearby():
            st = self._avail(spark).select("station_id", "latitude", "longitude").distinct()
            pairs = within_distance_pairs(st, "station_id", "latitude", "longitude", 0.5)
            act(nearby_map(pairs, "a_station_id", "b_station_id"))

        return [
            ("clean_weather", clean),
            ("refetch_keys", refetch),
            ("interesting_stations", interesting),
            ("availability_rollup", rollup),
            ("weather_asof", weather_asof),
            ("nearby_stations", nearby),
        ]

    def checks(self, spark):
        from pyspark.sql import functions as F

        from citibike_analysis_spark.plans.citibike import (
            INTERESTING_STATIONS_SQL,
            clean_weather,
            interesting_stations_sql,
        )
        from citibike_analysis_spark.sources.tables import load_table

        # DuckDB spells Spark's LEFT SEMI JOIN as SEMI JOIN
        sql = INTERESTING_STATIONS_SQL.format(g0=40, g1=50, g2=50).replace(
            "LEFT SEMI JOIN", "SEMI JOIN")
        expected = oracles(self.dir, ("availability",), {"interesting": sql})

        def interesting():
            return compare(interesting_stations_sql(spark, self._avail(spark)), expected["interesting"])

        def clean():
            out = clean_weather(self._avail(spark), load_table(spark, self.dir, "weather_fix"))
            row = out.agg(
                F.count("*").alias("n"),
                F.count(F.when(F.col("weather_status").isNull()
                               | (F.col("weather_status") == "predicted"), 1)).alias("bad"),
            ).first()
            problems = []
            if row["n"] != self.rows["availability"]:
                problems.append(f"row count {row['n']} != {self.rows['availability']}")
            if row["bad"]:
                problems.append(f"{row['bad']} NULL or predicted rows remain")
            return problems

        return [("interesting_stations_vs_duckdb", interesting), ("clean_weather_invariants", clean)]


class CorpusDedup:
    """Two registered corpus plans, q46 (n-gram near-duplicates, then
    connected components) and q77 (k-means SemDeDup)."""

    name = "corpus_dedup"
    queries = ("q46_dedup_clusters", "q77_semantic_dedup")

    def __init__(self, data_dir: str, seed: int, tiny: bool):
        self.dir = data_dir
        self.seed = seed
        self.docs, self.vecs = (150, 150) if tiny else (DOCS, VECS)

    def generate(self) -> dict:
        return gen.corpus_dataset(self.dir, self.seed, self.docs, self.vecs)

    def register(self, spark) -> None:
        from citibike_analysis_spark.plans import all_queries
        from citibike_analysis_spark.sources.tables import register_views

        register_views(spark, self.dir, ("documents", "embeddings"))
        self.specs = all_queries()

    def ops(self, spark, act):
        return [(q, lambda fn=self.specs[q].fn: act(fn(spark, self.dir))) for q in self.queries]

    def checks(self, spark):
        from citibike_analysis_spark.plans import _AUDIT_OF

        targets = [q if self.specs[q].oracle is not None else _AUDIT_OF[q] for q in self.queries]
        expected = oracles(self.dir, ("documents", "embeddings"),
                           {t: self.specs[t].oracle for t in targets})
        # q46's oracle is the slow DuckDB query (about 9 s at 500 documents):
        # check it last, so it runs while Spark computes q109
        return [
            (f"{t}_vs_duckdb",
             lambda t=t: compare(self.specs[t].fn(spark, self.dir), expected[t]))
            for t in reversed(targets)
        ]


WORKLOADS = {w.name: w for w in (StationAnalytics, CorpusDedup)}
