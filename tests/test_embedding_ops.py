"""Embedding clustering / semantic-dedup / quantization tests (r2):

- k-means: assignment is argmax-cosine against the trained centroids
  (numpy recomputation), deterministic under repartitioning
- SemDeDup: k=1 equals the exact all-pairs form; k>1 is a verified
  subset with pinned recall on the test corpus
- quantization: numpy round-trip parity; zero-vector guard
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    from citibike_analysis_spark.sources.tables import load_table

    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


def _np_vectors(emb) -> dict[int, np.ndarray]:
    return {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }


def _exact_pairs(vecs: dict[int, np.ndarray], threshold: float) -> set[tuple[int, int]]:
    ids = sorted(vecs)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            va, vb = vecs[a], vecs[b]
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if cos >= threshold:
                out.add((a, b))
    return out


class TestKMeans:
    def test_assignment_is_argmax_cosine(self, spark, emb):
        from citibike_analysis_spark.operators.similarity import (
            _train_centroids,
            as_double,
            kmeans_clusters,
        )

        k = 4
        c = emb.select(
            F.col("vec_id").alias("_id"), as_double(F.col("embedding")).alias("_v")
        )
        cents = {
            cid: np.array(v, dtype=np.float64)
            for cid, v in _train_centroids(c, "_id", "_v", k, train_iters=3)
        }
        got = {
            r["vec_id"]: (r["cid"], r["cosine_to_centroid"])
            for r in kmeans_clusters(emb, k=k, train_iters=3).collect()
        }
        vecs = _np_vectors(emb)
        assert set(got) == set(vecs)
        for vid, (cid, cos) in got.items():
            v = vecs[vid]
            sims = {
                c_id: float(v @ cv / (np.linalg.norm(v) * np.linalg.norm(cv)))
                for c_id, cv in cents.items()
            }
            best = max(sims.values())
            # ties break on lowest cid (min-struct pick)
            expect_cid = min(c_id for c_id, s in sims.items() if s == best)
            assert cid == expect_cid, vid
            assert cos == pytest.approx(best, abs=1e-6)

    def test_deterministic_under_repartition(self, spark, emb):
        from citibike_analysis_spark.operators.similarity import kmeans_clusters

        a = sorted(
            tuple(r) for r in kmeans_clusters(emb, k=4, train_iters=2).collect()
        )
        b = sorted(
            tuple(r)
            for r in kmeans_clusters(
                emb.repartition(11), k=4, train_iters=2
            ).collect()
        )
        assert a == b

    def test_single_cluster(self, spark, emb):
        from citibike_analysis_spark.operators.similarity import kmeans_clusters

        out = kmeans_clusters(emb, k=1, train_iters=1)
        assert out.select("cid").distinct().collect()[0]["cid"] == 0


class TestSemanticDedup:
    THRESHOLD = 0.4

    def test_k1_equals_exact_all_pairs(self, spark, emb):
        from citibike_analysis_spark.operators.similarity import semantic_dedup_pairs

        got = {
            (r["id_a"], r["id_b"])
            for r in semantic_dedup_pairs(
                emb, threshold=self.THRESHOLD, k=1, train_iters=1
            ).collect()
        }
        assert got == _exact_pairs(_np_vectors(emb), self.THRESHOLD)

    def test_clustered_is_verified_subset_with_recall(self, spark, emb):
        from citibike_analysis_spark.operators.similarity import semantic_dedup_pairs

        exact = _exact_pairs(_np_vectors(emb), self.THRESHOLD)
        rows = semantic_dedup_pairs(
            emb, threshold=self.THRESHOLD, k=4, train_iters=3
        ).collect()
        got = {(r["id_a"], r["id_b"]) for r in rows}
        assert got <= exact  # precision exact: every pair cosine-verified
        # label-structured corpus: k-means recovers most same-cluster pairs
        assert exact and len(got) / len(exact) >= 0.5


class TestQuantization:
    def test_numpy_parity(self, spark, emb):
        from citibike_analysis_spark.operators.similarity import quantization_error

        got = {
            r["vec_id"]: (r["scale"], r["mse"])
            for r in quantization_error(emb).collect()
        }
        for vid, v in _np_vectors(emb).items():
            scale = float(np.max(np.abs(v))) / 127
            q = np.floor(v / scale + 0.5)
            mse = float(np.mean((v - q * scale) ** 2))
            assert got[vid][0] == pytest.approx(scale, abs=1e-9)
            assert got[vid][1] == pytest.approx(mse, abs=1e-10)

    def test_zero_vector_guard(self, spark):
        from citibike_analysis_spark.operators.similarity import quantization_error

        df = spark.createDataFrame(
            [(0, [0.0] * 4), (1, [1.0, -2.0, 0.5, 0.25])],
            "vec_id: long, embedding: array<float>",
        )
        got = {r["vec_id"]: (r["scale"], r["mse"]) for r in quantization_error(df).collect()}
        assert got[0] == (0.0, 0.0)
        assert got[1][0] == pytest.approx(2.0 / 127, abs=1e-9)


class TestIncrementalEmbeddingDedup:
    def test_admits_novel_drops_near_dup(self, spark):
        from citibike_analysis_spark.operators.similarity import (
            incremental_embedding_dedup,
        )

        dim = 8
        base = [1.0] * dim
        ortho = [1.0, -1.0] * (dim // 2)  # cosine 0 vs base
        corpus = spark.createDataFrame(
            [(100, base), (101, [2.0] * dim)],
            "vec_id: long, embedding: array<float>",
        )
        batch = spark.createDataFrame(
            [
                (1, [1.01] * dim),  # near-dup of corpus -> dropped
                (2, ortho),         # orthogonal -> admitted
                (3, [-1.0] * dim),  # anti-parallel (cos -1) -> admitted
            ],
            "vec_id: long, embedding: array<float>",
        )
        out = incremental_embedding_dedup(
            batch, corpus, threshold=0.45, bits=2, tables=24, dim=dim
        )
        assert sorted(r["vec_id"] for r in out.collect()) == [2, 3]
        # original batch columns survive the anti-join untouched
        assert set(out.columns) == {"vec_id", "embedding"}

    def test_empty_corpus_admits_everything(self, spark):
        from citibike_analysis_spark.operators.similarity import (
            incremental_embedding_dedup,
        )

        corpus = spark.createDataFrame([], "vec_id: long, embedding: array<float>")
        batch = spark.createDataFrame(
            [(1, [1.0] * 8), (2, [2.0] * 8)],
            "vec_id: long, embedding: array<float>",
        )
        out = incremental_embedding_dedup(batch, corpus, dim=8)
        assert out.count() == 2


class TestKMeansAudit:
    def test_audit_booleans_hold(self, spark, emb):
        # the q114 driver audit: assignment is argmax vs an independent
        # plain-cosine recompute, emitted cosine matches, objective
        # non-decreasing across Lloyd iterations, every vector assigned
        from citibike_analysis_spark.operators.similarity import kmeans_audit

        row = kmeans_audit(emb, k=4, train_iters=3).collect()[0]
        assert row["n_vectors"] == emb.count()
        assert row["assignments_are_argmax"]
        assert row["cosine_matches_recompute"]
        assert row["objective_nondecreasing"]

    def test_objective_history_is_recorded(self, spark, emb):
        from citibike_analysis_spark.operators.similarity import (
            _train_centroids,
            as_double,
        )

        c = emb.select(
            F.col("vec_id").alias("_id"), as_double(F.col("embedding")).alias("_v")
        )
        hist: list = []
        _train_centroids(c, "_id", "_v", 4, train_iters=3, objective_out=hist)
        assert 1 <= len(hist) <= 3  # fixpoint early-stop may shorten it
        assert all(isinstance(x, float) for x in hist)
        # production path records nothing extra
        hist2: list = []
        _train_centroids(c, "_id", "_v", 4, train_iters=1, objective_out=hist2)
        assert len(hist2) == 1


def _force_pair_dot(monkeypatch, side: str) -> None:
    """Make every verify stage use one per-pair dot: ``fold`` (the
    interpreted :func:`dot`) or ``arrow`` (the :func:`pair_dot` einsum),
    whatever the master and corpus size would select."""
    from citibike_analysis_spark.operators import similarity as S

    chosen = S.dot if side == "fold" else S.pair_dot
    monkeypatch.setattr(S, "pick_pair_dot", lambda spark, n_rows=None: chosen)


class TestPairDotVerify:
    def test_arrow_dot_matches_fold_at_rounding(self, spark, monkeypatch):
        """r08: the verify stage's per-pair dot is master-keyed —
        Arrow-batched einsum (SIMD/pairwise summation) on multi-process
        masters, the sequential interpreted fold on local[N]. Summation
        order can differ in the last ulp; at the 6-decimal rounding
        every consumer applies, the FULL near-dup pair set must be
        identical — rows, ids, and rounded cosines — so the keying can
        never change a result, only a wall time."""
        from citibike_analysis_spark.operators.similarity import (
            near_duplicate_embeddings,
        )
        from citibike_analysis_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        # loose threshold + few bits: orders of magnitude more pairs
        # (and more borderline cosines) than the production θ=0.9 run
        params = dict(threshold=0.45, bits=4, tables=8)

        def pairs():
            rows = near_duplicate_embeddings(emb, **params).collect()
            return sorted((r["id_a"], r["id_b"], r["cosine_sim"]) for r in rows)

        _force_pair_dot(monkeypatch, "fold")
        via_fold = pairs()
        _force_pair_dot(monkeypatch, "arrow")
        via_arrow = pairs()
        assert via_arrow, "empty pair set proves nothing"
        assert via_arrow == via_fold

    def test_pair_dot_null_side_yields_null_not_crash(self, spark):
        """A surprise NULL on either side must yield NULL (the fold's
        convention), not blow up the whole Arrow batch in numpy."""
        from citibike_analysis_spark.operators.similarity import pair_dot

        df = spark.createDataFrame(
            [
                ([1.0, 2.0], [3.0, 4.0]),
                (None, [1.0, 1.0]),
                ([1.0, 1.0], None),
            ],
            "a array<double>, b array<double>",
        )
        got = df.select(pair_dot(F.col("a"), F.col("b")).alias("d")).collect()
        assert got[0]["d"] == 11.0
        assert got[1]["d"] is None and got[2]["d"] is None

    def test_semdedup_and_incremental_mode_parity(self, spark, monkeypatch):
        """The r08 master-keyed pair dot also covers semantic_dedup_pairs
        (within-cluster pairs) and incremental_embedding_dedup (batch-vs-
        corpus verify): both must produce identical results under either
        mode."""
        from citibike_analysis_spark.operators.similarity import (
            incremental_embedding_dedup,
            semantic_dedup_pairs,
        )
        from citibike_analysis_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        batch = emb.filter(F.col("vec_id") % 5 == 0)
        corpus = emb.filter(F.col("vec_id") % 5 != 0)

        def run():
            sd = sorted(
                (r["id_a"], r["id_b"], r["cosine_sim"])
                for r in semantic_dedup_pairs(
                    emb, k=4, threshold=0.45, train_iters=2
                ).collect()
            )
            inc = sorted(
                r["vec_id"]
                for r in incremental_embedding_dedup(
                    batch, corpus, threshold=0.9
                ).collect()
            )
            return sd, inc

        _force_pair_dot(monkeypatch, "fold")
        via_fold = run()
        _force_pair_dot(monkeypatch, "arrow")
        via_arrow = run()
        assert via_fold[0] and via_fold[1], "empty results prove nothing"
        assert via_arrow == via_fold

    def test_pick_pair_dot_keying(self, spark, monkeypatch):
        """The dot-choice policy itself (r08): fold on small-corpus
        single-JVM local[N]; arrow on multi-process masters (keyed off
        the master URL) or past the measured ~50k-row local crossover."""
        from citibike_analysis_spark.operators import similarity as S

        assert spark.sparkContext.master.startswith("local[")  # precondition
        assert S.pick_pair_dot(spark) is S.dot
        assert S.pick_pair_dot(spark, n_rows=10_000) is S.dot
        assert S.pick_pair_dot(spark, n_rows=S._ARROW_DOT_MIN_ROWS) is S.pair_dot
        monkeypatch.setattr(S, "_is_single_jvm_master", lambda master: False)
        assert S.pick_pair_dot(spark) is S.pair_dot
        assert S.pick_pair_dot(spark, n_rows=10_000) is S.pair_dot

    def test_single_jvm_master_classification(self):
        """r09 VERDICT nit: bare `local` (no brackets) is just as
        single-JVM as `local[N]` — the r08 predicate classified it as
        multi-process and paid the Arrow tax on a 1-core master. The
        eager-reuse decision keys on the same predicate: lazy on every
        single-JVM master, eager on every multi-process one."""
        from types import SimpleNamespace

        from citibike_analysis_spark.cache import (
            _eager_default,
            _is_single_jvm_master,
        )

        def frame_on(master):
            ctx = SimpleNamespace(master=master)
            return SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=ctx))

        single = ["local", "local[4]", "local[*]", "local[4,2]"]
        multi = [
            "local-cluster[2,16,24576]",
            "spark://host:7077",
            "yarn",
            "k8s://https://host:443",
        ]
        assert all(_is_single_jvm_master(m) for m in single)
        assert not any(_is_single_jvm_master(m) for m in multi)
        assert not any(_eager_default(frame_on(m)) for m in single)
        assert all(_eager_default(frame_on(m)) for m in multi)

    def test_brute_force_topk_mode_parity(self, spark, monkeypatch):
        """q38's exact top-k must produce identical (query, neighbor,
        rk) and 6-decimal cosines under either dot mode: rank flips
        would need two distinct neighbors' cosines within one ulp of
        each other, and the deterministic id tie-break covers exact
        ties."""
        from citibike_analysis_spark.operators.similarity import brute_force_topk
        from citibike_analysis_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.filter(F.col("vec_id") < 40)

        def run():
            return sorted(
                (r["query_id"], r["neighbor_id"], r["rk"],
                 round(r["cosine_sim"], 6))
                for r in brute_force_topk(emb, queries, k=7).collect()
            )

        _force_pair_dot(monkeypatch, "fold")
        via_fold = run()
        _force_pair_dot(monkeypatch, "arrow")
        via_arrow = run()
        assert via_fold and via_arrow == via_fold
