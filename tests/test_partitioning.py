"""Focused tests for partitioning.spread (r14) and the pair-stage width
helper — the two primitives this round's layout optimizations ride on.

spread()'s contract has three legs, each load-bearing for a different
claim in OPTIMIZATION_r14.md:
  1. a narrow scan-level frame with fewer partitions than
     defaultParallelism is hash-repartitioned up to it (the bench-scale
     repair for single-row-group scans);
  2. a frame already at/above defaultParallelism is returned UNCHANGED
     (the production no-op guard — at 100 TB scans carry hundreds of
     partitions and the call must not add an exchange);
  3. a plan containing wide nodes (joins/aggregates/windows/...) is
     refused without probing .rdd (which would materialize query stages
     under AQE) — composed callers keep their plan untouched. The test
     is on plan NODE names, so a column whose name contains a wide
     node's name (``Window_id``) does not disable the repair.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from citibike_analysis_spark.partitioning import spread


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_spread_widens_narrow_scan(spark):
    d = _docs(spark)
    assert d.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    s = spread(d, "doc_id")
    assert (
        s.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    # row set unchanged
    assert s.count() == d.count()


def test_spread_noop_when_already_wide(spark):
    target = spark.sparkContext.defaultParallelism
    d = _docs(spark).repartition(target + 3, "doc_id")
    s = spread(d, "doc_id")
    # the guard returns the SAME frame — no exchange added on top
    assert s is d


def test_spread_refuses_wide_plans(spark):
    d = _docs(spark)
    agg = d.groupBy("lang").agg(F.count("*").alias("n"))
    assert spread(agg, "lang") is agg
    joined = d.join(d.select("doc_id"), "doc_id")
    assert spread(joined, "doc_id") is joined


def test_spread_widens_scan_with_node_like_column_name(spark):
    # "Window" inside a column name once matched the whole printed plan
    # and silently refused this narrow scan
    d = _docs(spark).withColumnRenamed("lang", "Window_id")
    s = spread(d, "doc_id")
    assert (
        s.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    assert s.count() == d.count()


def test_spread_refuses_persisted_wide_plan(spark):
    # a persisted aggregate prints as InMemoryRelation over PHYSICAL
    # nodes (HashAggregate, Exchange); probing its .rdd would run the
    # cache job, so it stays refused
    agg = _docs(spark).groupBy("lang").agg(F.count("*").alias("n")).persist()
    try:
        narrow = agg.select("lang")
        assert spread(narrow, "lang") is narrow
    finally:
        agg.unpersist()


def test_spread_refuses_missing_key_gracefully(spark):
    d = _docs(spark)
    # a GENUINELY bogus key column (r14 ADVICE: the old test passed a
    # valid key, so the graceful-degradation claim was untested) must
    # degrade to a no-op — the SAME frame back, never an
    # AnalysisException mid-plan
    assert spread(d, "no_such_column") is d
    # and a valid narrow projection still spreads
    out = spread(d.select("doc_id"), "doc_id")
    assert out.count() == d.count()


def test_pair_stage_width_floor_and_scale(spark):
    from citibike_analysis_spark.operators.similarity import (
        _pair_stage_width,
    )

    floor = spark.sparkContext.defaultParallelism
    # no estimate -> floor
    assert _pair_stage_width(spark, None) == floor
    # tiny estimate -> floor
    assert _pair_stage_width(spark, 1000) == floor
    # corpus-scale estimate -> raised well above the floor
    # (row_bytes=48, advisory default 64 MiB: 1e9 pairs ~ 715 parts)
    wide = _pair_stage_width(spark, 1_000_000_000)
    assert wide > floor
    assert wide == max(floor, 1_000_000_000 * 48 // (64 << 20))
