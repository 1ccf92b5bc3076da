"""Golden/property tests for the reference-shaped pipelines (SURVEY.md §5.2.3-4).

Asserts the reference author's own validation invariants
(reference README.md:903-994) plus the semantics corners SURVEY.md §5.2.4
flags: residual-NA = 0, row-count conservation, zip leading zeros,
semi-join non-duplication, union-by-name column-order independence,
and the BASELINE.md regression guard (the zip lookup must plan a broadcast
hash join, never a correlated scan).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from citibike_analysis_spark.plans.citibike import (
    build_refetch_keys,
    clean_weather,
    interesting_stations_sql,
    repair_zip,
)
from tests.fixtures import availability_sdf, weather_fix_sdf


@pytest.fixture(scope="module")
def avail(spark):
    df = availability_sdf(spark)
    df.persist().count()
    return df


@pytest.fixture(scope="module")
def fix(spark):
    df = weather_fix_sdf(spark)
    df.persist().count()
    return df


class TestReductionQuery:
    def test_one_station_per_hood(self, spark, avail):
        out = interesting_stations_sql(spark, avail, gates=(2, 2, 2))
        picked = out.select("station_id", "hood").distinct()
        per_hood = picked.groupBy("hood").count().collect()
        assert per_hood, "gates selected nothing"
        assert all(r["count"] == 1 for r in per_hood)

    def test_semi_join_no_duplication(self, spark, avail):
        out = interesting_stations_sql(spark, avail, gates=(2, 2, 2))
        # every output row is a distinct fact row: (station, interval) unique
        assert (
            out.groupBy("station_id", "time_interval").count().filter("count > 1").count()
            == 0
        )

    def test_row_count_is_sum_of_picked_station_intervals(self, spark, avail):
        out = interesting_stations_sql(spark, avail, gates=(2, 2, 2))
        picked = [r["station_id"] for r in out.select("station_id").distinct().collect()]
        expected = avail.filter(F.col("station_id").isin(picked)).count()
        assert out.count() == expected

    def test_not_in_service_excluded_from_ranking(self, spark, avail):
        out = interesting_stations_sql(spark, avail, gates=(0, 0, 0))
        picked = {r["station_id"] for r in out.select("station_id").distinct().collect()}
        assert 111 not in picked  # station 111 is Not In Service


class TestCleaningPipeline:
    def test_residual_na_zero(self, spark, avail, fix):
        out = clean_weather(avail, fix)
        residual = out.filter(
            F.col("weather_status").isNull() | (F.col("weather_status") == "predicted")
        ).count()
        assert residual == 0  # reference README.md:906,994

    def test_row_count_conserved(self, spark, avail, fix):
        out = clean_weather(avail, fix)
        assert out.count() == avail.count()  # reference README.md:910-994

    def test_union_by_name_column_order_independent(self, spark, avail, fix):
        # J6 corner (SURVEY.md §5.2.4): pandas concat aligns by name;
        # positional union would scramble — clean_weather must not depend
        # on the right half's column order.
        out = clean_weather(avail, fix)
        obs_summary = (
            out.filter(F.col("weather_status") == "observed")
            .select("weather_summary")
            .distinct()
            .collect()
        )
        assert {r[0] for r in obs_summary} <= {"Clear", "Overcast"}


class TestRefetchKeys:
    def test_cardinality_coarsening(self, spark, avail):
        keys = build_refetch_keys(avail)
        n_day_keys = keys.count()
        hourly = (
            avail.filter(
                F.col("weather_status").isNull()
                | (F.col("weather_status") == "predicted")
            )
            .select("zip", F.date_trunc("hour", "time_interval"))
            .distinct()
            .count()
        )
        assert 0 < n_day_keys < hourly  # hour→day coarsening reduced keys

    def test_one_coordinate_per_zip(self, spark, avail):
        keys = build_refetch_keys(avail)
        assert (
            keys.groupBy("zip", "time_day").count().filter("count > 1").count() == 0
        )

    def test_lookup_join_is_broadcast(self, spark, avail):
        # BASELINE.md regression guard: the 42.96s→0.0052s ladder — the
        # zip lookup must plan a broadcast hash join, never a per-row scan.
        plan = build_refetch_keys(avail)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_zip_leading_zeros_preserved(self, spark, avail):
        keys = build_refetch_keys(avail)
        nj = [r["zip"] for r in keys.select("zip").distinct().collect() if r["zip"].startswith("0")]
        assert nj, "NJ zips with leading zeros disappeared"
        assert all(len(z) == 5 for z in nj)


def test_repair_zip(spark):
    df = spark.createDataFrame([(7306,), (10001,)], ["zip"])
    out = repair_zip(df)
    vals = {r["zip"] for r in out.collect()}
    assert vals == {"07306", "10001"}
