"""Operator-internal persists are released by cache.cache_scope().

r03 VERDICT "what's wrong" #2: the as-of bucketed join and the sign-LSH /
SemDeDup self-join persists had no owner — storage blocks accumulated for
the session's lifetime (bench.py's measured q58 18s-vs-4.5s effect).
These tests pin the new contract: running the persist-heavy queries
end-to-end inside a ``cache_scope()`` leaves ZERO persistent RDDs behind.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF0001


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _reset(spark) -> None:
    """Order-independent entry state: clearCache() alone misses tracked
    localCheckpoint blocks left by OTHER test files' unscoped operator
    calls (e.g. test_graph's), so a file-order change tripped the
    entry asserts (review follow-up)."""
    from citibike_analysis_spark.cache import release_all

    spark.catalog.clearCache()
    release_all()


def _run_scoped(spark, qname: str) -> None:
    from citibike_analysis_spark.cache import cache_scope
    from citibike_analysis_spark.plans import all_queries

    spec = all_queries()[qname]
    with cache_scope():
        rows = spec.fn(spark, SF0001).collect()
    assert rows is not None


def test_asof_bucketed_join_releases_persists(spark):
    _reset(spark)
    assert _n_persistent(spark) == 0
    _run_scoped(spark, "q58_asof_join_bucketed")
    assert _n_persistent(spark) == 0


def test_sign_lsh_near_dup_releases_persists(spark):
    _reset(spark)
    assert _n_persistent(spark) == 0
    _run_scoped(spark, "q39_embedding_near_dup")
    assert _n_persistent(spark) == 0


def test_minhash_dedup_releases_persists(spark):
    # the dedup operators' reuse() persists route through the same ledger
    _reset(spark)
    assert _n_persistent(spark) == 0
    _run_scoped(spark, "q36_minhash_dedup")
    assert _n_persistent(spark) == 0


def test_nested_scopes_release_only_their_own(spark):
    from citibike_analysis_spark.cache import cache_scope, track

    _reset(spark)
    df_outer = spark.range(10)
    with cache_scope():
        track(df_outer.persist())
        df_outer.count()
        with cache_scope():
            inner = track(spark.range(5).persist())
            inner.count()
        # inner released its own frame only; the outer one is still live
        assert _n_persistent(spark) >= 1
    assert _n_persistent(spark) == 0


def test_connected_components_releases_checkpoints(spark):
    # graph.py's per-round localCheckpoints: rounds N-1 are freed inside
    # the loop; the final round's blocks (which back the returned plan)
    # are released by the scope. Runs both registered CC queries (q46,
    # q62), which share the one operator.
    _reset(spark)
    assert _n_persistent(spark) == 0
    _run_scoped(spark, "q46_dedup_clusters")
    assert _n_persistent(spark) == 0
    _run_scoped(spark, "q62_dedup_clusters_star")
    assert _n_persistent(spark) == 0


@pytest.mark.parametrize(
    "qname",
    [
        "q141_ivfpq_recall_audit",  # refresh-free IVF-PQ probe result
        "q142_streaming_index_maintenance_replay",  # IVF sink + PQ refresh
        "q147_gram_index_coverage",  # returned coverage checkpoint
    ],
)
def test_index_paths_leave_no_untracked_checkpoint(spark, qname):
    # an eager localCheckpoint nobody tracks or frees keeps its blocks
    # until the JVM happens to collect the RDD, so a later clearCache +
    # release_all still saw them (and timed reps started non-empty)
    _reset(spark)
    assert _n_persistent(spark) == 0
    _run_scoped(spark, qname)
    assert _n_persistent(spark) == 0


def test_index_appends_free_their_checkpoints(spark):
    # the recovery-mode LSH append and the gram append checkpoint their
    # anti-join survivors; once the rows have landed nothing stays
    from citibike_analysis_spark.operators.dedup import (
        append_to_gram_index,
        build_gram_index,
    )
    from citibike_analysis_spark.operators.similarity import (
        append_to_lsh_index,
        build_lsh_index,
    )
    from citibike_analysis_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, SF0001, "embeddings")
    d = load_table(spark, SF0001, "documents")
    lsh, grams = "cache_scope_lsh_append", "cache_scope_gram_append"
    params = dict(bits=6, tables=8)
    try:
        build_lsh_index(e.filter(F.col("vec_id") % 2 == 0), lsh, **params)
        build_gram_index(d.filter(F.col("doc_id") % 2 == 0), grams)
        _reset(spark)
        assert _n_persistent(spark) == 0
        append_to_lsh_index(
            e.filter(F.col("vec_id") % 2 == 1), lsh, assume_novel=False, **params
        )
        assert append_to_gram_index(spark, grams, d.filter(F.col("doc_id") % 2 == 1))
        assert _n_persistent(spark) == 0
    finally:
        for t in (lsh, f"{lsh}__vecs", grams):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_nested_empty_scope_does_not_steal_outer_list(spark):
    # review finding: scope teardown used list.remove(), which matches
    # by VALUE — an inner empty scope removed the OUTER scope's (equal,
    # empty) list, stranding later track() frames and raising ValueError
    # at the outer exit
    from citibike_analysis_spark.cache import cache_scope, track

    df = spark.range(10)
    with cache_scope():
        with cache_scope():
            pass  # both lists empty and value-equal here
        track(df.persist())
        df.count()
    # outer exit must have unpersisted the frame, not crashed
    assert _n_persistent(spark) == 0
