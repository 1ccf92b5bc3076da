"""Product quantization (PQ) for embedding columns — the
memory-bandwidth scale path for corpus-wide similarity scans (Jégou,
Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 33(1); the FAISS IVF-PQ verify stage is the same
construction).

Why a 100 TB corpus wants this, beyond the engine's LSH/IVF routing
families: routing (buckets, inverted lists) cuts WHICH vectors a probe
touches; PQ cuts WHAT each touched vector costs. A dim-64 float64
vector is 512 bytes; its PQ code at m=8 subspaces × ksub=16 centroids
is 8 small ints — the candidate scan becomes table lookups over a
~64× smaller column, which is the difference between a verify stage
bound by memory bandwidth and one bound by arithmetic. The price is
approximation error, which is measured (q139 reconstruction audit,
q140 recall audit), bounded by the re-rank recipe below, and tuned by
(m, ksub).

Pieces (all deterministic — lowest-id init, centroid-id tie-breaks,
6-decimal rounded means, fixpoint stop — the `_train_centroids`
conventions, re-applied per subspace):

- :func:`train_pq_codebooks` — split each vector into ``m`` contiguous
  subvectors and k-means each subspace independently (EUCLIDEAN
  objective — PQ minimizes reconstruction MSE, unlike the spherical
  trainer). All ``m`` subspaces train in ONE corpus pass per Lloyd
  iteration: the exploded (id, sub_j, subvec) frame joins one
  broadcast (sub_j, cid, centroid) frame, so training cost is
  iterations × one scan — never m separate scans per iteration.
  Codebooks are m × ksub × (dim/m) doubles on the driver (a few KB —
  the MLlib KMeans-centers scale contract).
- :func:`pq_encode` — (vec_id, codes array<int>, recon_norm): the
  per-subspace nearest-centroid ids plus the reconstruction's L2 norm
  (stored once at encode time so ADC can return approximate COSINE,
  not just dot — the norm of x̂ is a pure function of the codes).
- :func:`pq_topk` — asymmetric distance computation (ADC): queries
  stay exact; each corpus vector is scored through its reconstruction
  without ever materializing it: dot(q, x̂) = Σ_j LUT_q[j][code_j]
  where LUT_q[j][c] = dot(q_j, codebook_j[c]). The per-query LUT
  (m × ksub doubles) is computed by one Arrow-batched matmul (the
  declared dense-linear-algebra seam, same as `_bucketize`); the
  per-PAIR work is m array lookups + adds in pure JVM expressions
  (`zip_with` + `element_at` + `aggregate`) — no Python in the pair
  loop. Scores are cosine-shaped (dot/(|q|·|x̂|)), rounded to 6
  decimals before the rank window (the r09 convention), ties on
  neighbor_id.
- :func:`pq_reconstruction_mse` — per-vector (vec_id, mse) against
  the original embeddings: the fidelity audit (q139 pins
  monotone-in-ksub improvement and beats-the-mean coding).

Production recipe at scale: route with the persisted IVF index (lists
bucketed on cid), ADC-score the probed lists' CODES (this module),
exact re-rank only the top ~4k survivors per query — the standard
IVF-PQ pipeline, each stage independently audited here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from citibike_analysis_spark.cache import free_checkpoint
from citibike_analysis_spark.operators.similarity import as_double, norm


def _check_dims(dim: int, m: int, ksub: int) -> int:
    if dim % m != 0:
        raise ValueError(
            f"PQ requires the embedding dimension ({dim}) to be divisible "
            f"by the subspace count m={m}"
        )
    if not (2 <= ksub <= 256):
        raise ValueError(f"ksub must be in [2, 256], got {ksub}")
    return dim // m


def _explode_subvectors(
    df: DataFrame,
    idname: str,
    vec: str,
    m: int,
    dsub: int,
) -> DataFrame:
    """(id, vec) → (id, sub_j, _sv): one row per contiguous subspace
    slice. Pure array expressions (slice positions are 1-based)."""
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice(F.col(vec), j * F.lit(dsub) + 1, dsub),
    )
    return df.select(idname, F.posexplode(slices).alias("sub_j", "_sv"))


def _sqdist(a: Column, b: Column) -> Column:
    """Squared euclidean distance of two array<double> columns
    (sequential fold — deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cb_df(spark, codebooks) -> DataFrame:
    """Nested codebooks → tiny broadcastable frame (sub_j, cid, _cb)."""
    rows = [
        (j, cid, list(v))
        for j, book in enumerate(codebooks)
        for cid, v in book
    ]
    return spark.createDataFrame(rows, "sub_j: int, cid: int, _cb: array<double>")


def _assign_codes(sub: DataFrame, idname: str, spark, codebooks) -> DataFrame:
    """(id, sub_j, _sv) → (id, sub_j, cid, _sv): per-subspace nearest
    centroid under squared-L2, ties on cid (min over (dist, cid)
    structs — the `_assign_nearest` trick with the euclidean metric).
    The codebook frame is m × ksub rows — always broadcast."""
    scored = sub.join(F.broadcast(_cb_df(spark, codebooks)), "sub_j").withColumn(
        "_d", F.round(_sqdist(F.col("_sv"), F.col("_cb")), 9)
    )
    return (
        scored.groupBy(idname, "sub_j")
        .agg(
            F.min(F.struct(F.col("_d"), F.col("cid"))).alias("_m"),
            F.any_value("_sv").alias("_sv"),
        )
        .select(idname, "sub_j", F.col("_m.cid").alias("cid"), "_sv")
    )


def _round_half_up(arr, digits: int = 9):
    """Vectorized reproduction of Spark's ``round(double, n)`` —
    ``BigDecimal.valueOf(d)`` (shortest decimal repr, the same
    algorithm as Python's ``repr``) then ``setScale(n, HALF_UP)``. The
    fast path is ``floor(x·10ⁿ + 0.5)/10ⁿ`` (exact for non-negative
    inputs away from a half boundary); elements whose scaled
    fractional part sits within 1e-3 of 0.5 — where float error in the
    scaling could land on the wrong side of the boundary the decimal
    repr defines — are re-rounded through ``decimal.Decimal(repr(x))``
    exactly. Used by the Arrow encode to reproduce the JVM fold's
    distance/norm rounding bit-for-bit (the parity contract pinned by
    tests/test_pq.py)."""
    import numpy as np

    scale = 10.0 ** digits
    scaled = arr * scale
    fl = np.floor(scaled)
    frac = scaled - fl
    out = np.where(frac >= 0.5, fl + 1.0, fl) / scale
    sus = np.abs(frac - 0.5) < 1e-3
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-digits)
        flat, of = arr.ravel(), out.ravel()
        for i in np.nonzero(sus.ravel())[0]:
            of[i] = float(
                Decimal(repr(float(flat[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
        out = of.reshape(out.shape)
    return out


def _make_encode_udf(codebooks):
    """Arrow-batched PQ encoder (r14, r13 verdict #5): per batch of
    full vectors, one dense pass per subspace computes the squared-L2
    distance matrix (n × ksub × dsub difference, SEQUENTIAL last-axis
    sum via cumsum — the exact left-to-right order `_sqdist`'s fold
    adds in, so the sums are bit-identical), rounds to 9 decimals with
    :func:`_round_half_up` (the JVM fold's knife-edge convention),
    and takes the first argmin (== lowest cid — codebook cids are the
    contiguous 0..ksub-1). ``recon_norm`` is round(sqrt(Σ_j
    |codebook_j[code_j]|²), 9) with the per-entry squared norms
    computed by the same driver-side Python float sums the JVM fold
    broadcasts. Replaces an explode → broadcast-join → TWO-groupBy
    plan (a shuffle of n × m interpreted-fold rows — 484–521 s at
    dim 512/m=32/x100, SCALE.md r13 §5) with one shuffle-free
    projection through the declared dense-linear-algebra seam (the
    `_make_lut_udf` precedent)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0][1])
    C = np.asarray(
        [[list(v) for _, v in book] for book in codebooks], dtype=np.float64
    )
    sq = np.asarray(
        [[sum(x * x for x in v) for _, v in book] for book in codebooks],
        dtype=np.float64,
    )

    @pandas_udf("struct<codes: array<int>, recon_norm: double>")
    def _enc(qv: pd.Series) -> pd.DataFrame:
        vals = qv.tolist()
        codes_out: list = [None] * len(vals)
        rn_out: list = [None] * len(vals)
        live = [i for i, x in enumerate(vals) if x is not None]
        if live:
            X = np.asarray([vals[i] for i in live], dtype=np.float64)
            if X.shape[1] != m * dsub:
                raise ValueError(
                    f"vector width {X.shape[1]} != m·dsub = {m * dsub}"
                )
            n = len(X)
            codes = np.empty((n, m), dtype=np.int64)
            for j in range(m):
                diff = X[:, j * dsub : (j + 1) * dsub][:, None, :] - C[j][None]
                d = (diff * diff).cumsum(axis=2)[:, :, -1]
                codes[:, j] = np.argmin(_round_half_up(d, 9), axis=1)
            s = np.zeros(n)
            for j in range(m):
                s = s + sq[j][codes[:, j]]
            rn = _round_half_up(np.sqrt(s), 9)
            for k, i in enumerate(live):
                codes_out[i] = [int(c) for c in codes[k]]
                rn_out[i] = float(rn[k])
        return pd.DataFrame({"codes": codes_out, "recon_norm": rn_out})

    return _enc


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    train_iters: int = 4,
    train_on: DataFrame | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Train the m per-subspace codebooks (euclidean Lloyd). Returns
    ``[[(cid, centroid), ...] per subspace]`` — m × ksub × dim/m
    doubles, driver-side.

    One corpus pass per iteration for ALL subspaces: the exploded
    subvector frame (n × m rows, each dim/m wide — same total bytes as
    the corpus) joins one broadcast codebook frame and aggregates per
    (sub_j, cid). ``train_on`` (default: the corpus) trains on a
    subsample — the q136 economics: a 1% sample makes training ~100×
    cheaper while the full corpus is still encoded.

    Determinism: per-subspace init takes the ksub lowest-id
    subvectors; assignment ties break on cid; per-iteration means are
    rounded to 6 decimals; distances rounded to 9 (so float summation
    order cannot flip a knife-edge argmin); empty cells keep their
    previous centroid; fixpoint stop.
    """
    dsub = _check_dims(dim, m, ksub)
    src = train_on if train_on is not None else corpus
    c = src.select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v")
    )
    spark = corpus.sparkSession
    sub = _explode_subvectors(c, "_id", "_v", m, dsub).persist()
    try:
        init = (
            sub.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("sub_j").orderBy("_id")
                ),
            )
            .filter(F.col("_rk") <= ksub)
            .collect()
        )
        books: list[list[tuple[int, list[float]]]] = [
            [] for _ in range(m)
        ]
        for r in init:
            books[r["sub_j"]].append((r["_rk"] - 1, list(r["_sv"])))
        for book in books:
            book.sort()
        for _ in range(train_iters):
            assigned = _assign_codes(sub, "_id", spark, books)
            new_means = (
                assigned.select(
                    "sub_j", "cid", F.posexplode("_sv").alias("pos", "v")
                )
                .groupBy("sub_j", "cid", "pos")
                .agg(F.avg("v").alias("v"))
                .groupBy("sub_j", "cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "v"))),
                        lambda s: F.round(s["v"], 6),
                    ).alias("_cb")
                )
                .collect()
            )
            updated = {
                (r["sub_j"], r["cid"]): list(r["_cb"]) for r in new_means
            }
            new_books = [
                [(cid, updated.get((j, cid), v)) for cid, v in book]
                for j, book in enumerate(books)
            ]
            if new_books == books:
                break
            books = new_books
        return books
    finally:
        sub.unpersist()


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Encode a corpus against trained codebooks: (vec_id, codes
    array<int>, recon_norm double). ``recon_norm`` is |x̂| — the L2
    norm of the reconstruction, a pure function of the codes, stored
    once here so :func:`pq_topk` can return approximate COSINE without
    touching the original vectors at probe time. The output is the
    compact scan column a 100 TB pipeline persists next to (or instead
    of) the raw embeddings. ``carry_cols`` are per-id scalar columns
    that ride the encode unchanged (r12: how `attach_pq_codes` keeps
    the IVF cid without re-joining the n-row output back to the lists
    — an avoided corpus-scale shuffle); names must not collide with
    the internal ``_v``/``_e``.

    One SHUFFLE-FREE projection through :func:`_make_encode_udf` (r14,
    r13 verdict #5) — the per-subvector argmin is dense linear
    algebra, exactly what the probe side's LUT seam already batches
    through Arrow. The encode was the PQ family's most expensive
    lifecycle op in its JVM form (484–521 s at dim 512/m=32/x100:
    interpreted folds over an exploded n × m frame shuffled through
    two groupBys); the Arrow form removes the explode, the shuffle, and
    the interpreted folds in one move. That JVM plan is kept only as
    the test-side parity reference: output is pinned byte-identical to
    it (tests/test_pq.py, across params and a non-normalized randomized
    fixture — same codes, same recon_norm bits).
    """
    carry = carry_cols or []
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        *carry,
        as_double(F.col(vec_col)).alias("_v"),
    )
    enc = _make_encode_udf(codebooks)
    return c.select("vec_id", *carry, enc(F.col("_v")).alias("_e")).select(
        "vec_id",
        F.col("_e.codes").alias("codes"),
        F.col("_e.recon_norm").alias("recon_norm"),
        *carry,
    )


def pq_reconstruction_mse(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector reconstruction error (vec_id, mse) — the PQ fidelity
    audit, shaped like `quantization_error` (the scalar-quant
    counterpart). mse = |x − x̂|²/dim, with x̂ assembled per subspace
    from the assigned codebook entries. One pass; the per-subspace
    squared error is computed on the exploded frame (no reconstruction
    of full vectors is ever materialized)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0][1])
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("_v")
    )
    spark = corpus.sparkSession
    sub = _explode_subvectors(c, "vec_id", "_v", m, dsub)
    assigned = _assign_codes(sub, "vec_id", spark, codebooks)
    err = assigned.join(
        F.broadcast(_cb_df(spark, codebooks)), ["sub_j", "cid"]
    ).withColumn("_e", _sqdist(F.col("_sv"), F.col("_cb")))
    return err.groupBy("vec_id").agg(
        F.round(F.sum("_e") / (m * dsub), 10).alias("mse")
    )


def _make_lut_udf(codebooks):
    """Per-query ADC lookup-table UDF shared by :func:`pq_topk` and
    :func:`ivfpq_topk`: one Arrow-batched einsum computes LUT[j][c] =
    dot(q_j, codebook_j[c]) for a batch of queries (the `_bucketize`
    dense-linear-algebra seam; the codebook tensor rides the closure —
    a few KB pickled, the `_planes_matrix` precedent)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0][1])
    C = np.asarray(
        [v for book in codebooks for _, v in book], dtype=np.float64
    )

    @pandas_udf("array<array<double>>")
    def _luts(qv: pd.Series) -> pd.Series:
        out: list[list[list[float]] | None] = [None] * len(qv)
        vals = qv.tolist()
        live = [i for i, x in enumerate(vals) if x is not None]
        if not live:
            return pd.Series(out, dtype=object)
        Q = np.asarray([vals[i] for i in live], dtype=np.float64)
        if Q.shape[1] != m * dsub:
            raise ValueError(
                f"query width {Q.shape[1]} != m·dsub = {m * dsub}"
            )
        lut = np.einsum(
            "qjd,jkd->qjk",
            Q.reshape(len(Q), m, dsub),
            C.reshape(m, ksub, dsub),
        )
        for i, L in zip(live, lut):
            out[i] = [row.tolist() for row in L]
        return pd.Series(out, dtype=object)

    return _luts


def _adc_dot() -> Column:
    """Σ_j LUT[j][code_j] as pure JVM expressions over the row's
    ``codes`` (array<int>) and ``_lut`` (array<array<double>>) columns
    — m `element_at` lookups + adds per pair, no Python."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("_lut"),
            lambda c, row: F.element_at(row, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_queries: int | None = None,
) -> DataFrame:
    """ADC top-k over a PQ-encoded corpus: (query_id, neighbor_id,
    adc_sim, rk) where ``adc_sim`` ≈ cosine(q, x) through the
    reconstruction (dot(q, x̂) / (|q| · |x̂|), 6-decimal rounded rank,
    ties on neighbor_id — the engine's ANN output conventions).

    ``codes`` is :func:`pq_encode`'s output (vec_id, codes,
    recon_norm) — the original vectors are NOT an input: the scan
    reads m small ints + one double per corpus row. Per-query LUTs
    (m × ksub dot products) ride one Arrow-batched matmul on the
    query side (|q| × m × ksub × dim/m flops — dense linear algebra,
    the `_bucketize` seam exception); the corpus-side pair work is m
    `element_at` lookups + adds in pure JVM expressions. The query
    frame (with LUTs: |q| × m × ksub doubles ≈ a dim-m·ksub vector per
    row — at production m=16/ksub=64 ~16× HEAVIER than the bare query
    vector) is broadcast only below the probe cap at an m·ksub-based
    row weight (r13 ADVICE: the unconditional broadcast here re-opened
    the ~50k-query driver-heap hazard the rerank preflights claimed
    closed); above the cap the cross join runs as a shuffled cartesian
    (``shuffle_replicate_nl`` — per-task memory is one partition pair,
    the driver never builds the relation). ``n_queries`` pre-pays the
    preflight's count (the one-shot sizing seam, r12). For corpus-scale
    query batches route through the IVF index first and ADC-score per
    list.
    """
    from citibike_analysis_spark.operators.similarity import (
        _CAND_BROADCAST_MAX_ROWS,
        _ivf_probe_divisor,
    )

    m = len(codebooks)
    ksub = len(codebooks[0])
    n_q = (
        n_queries if n_queries is not None else queries.select(id_col).count()
    )
    q_hint = (
        F.broadcast
        if n_q <= _CAND_BROADCAST_MAX_ROWS // _ivf_probe_divisor(m * ksub)
        else (lambda d: d.hint("shuffle_replicate_nl"))
    )
    _luts = _make_lut_udf(codebooks)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    ).select(
        "query_id",
        norm(F.col("_qv")).alias("_qn"),
        _luts(F.col("_qv")).alias("_lut"),
    )
    scored = (
        codes.crossJoin(q_hint(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "adc_sim",
            F.round(
                _adc_dot()
                / F.greatest(F.col("_qn") * F.col("recon_norm"), F.lit(1e-300)),
                6,
            ),
        )
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "adc_sim"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def pq_topk_rerank(
    codes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    n_queries: int | None = None,
) -> DataFrame:
    """ADC shortlist + EXACT re-rank — the production PQ recipe
    (FAISS's IVFPQ + refine): :func:`pq_topk` scans the compact codes
    for each query's top-``shortlist`` candidates (the cheap,
    bandwidth-bound pass), then ONLY those |q| × shortlist rows join
    back to the original vectors for exact cosine, and the final
    top-k ranks the exact score (6-decimal rounded, ties on
    neighbor_id — identical output conventions to
    :func:`~citibike_analysis_spark.operators.similarity.brute_force_topk`).

    Quantization error now costs RECALL only when a true neighbor
    falls outside the ADC top-``shortlist`` — measured r12 (m=16,
    ksub=64, dim 64): plain ADC@5 recall 0.74/0.46 at sf0.01/sf0.1
    becomes 1.00/0.96 (min per-query 1.00/0.80) after re-ranking a
    50-candidate shortlist, while the full-corpus scan still reads
    codes (m small ints vs d doubles per row). Every broadcast in the
    recipe is preflighted against the probe cap with shuffle fallbacks
    (r12 ADVICE for the re-rank joins; r13 ADVICE for the ADC stage's
    query+LUT frame inside :func:`pq_topk`, which is ~16× heavier per
    row than the bare query vector at production m·ksub and used to
    broadcast unconditionally — the one-shot recipe could still OOM
    the driver at exactly the batch sizes this docstring claimed were
    handled); the original-vector join is inner on the id, so the
    corpus pays one column-pruned scan, never a shuffle of vector
    bytes by the candidate key. ``n_queries`` pre-pays the preflights'
    query count (the one-shot sizing seam, r12) — one count job sizes
    all three.
    """
    from citibike_analysis_spark.operators.similarity import (
        _CAND_BROADCAST_MAX_ROWS,
        _ivf_probe_divisor,
        dot,
    )

    n_q = (
        n_queries if n_queries is not None else queries.select(id_col).count()
    )
    cand = pq_topk(
        codes,
        queries,
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
        k=shortlist,
        n_queries=n_q,
    ).select("query_id", "neighbor_id")
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("_cv"),
    ).withColumn("_cn", norm(F.col("_cv")))
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    dim = len(codebooks) * len(codebooks[0][0][1])
    cand_hint = (
        F.broadcast
        if n_q * shortlist <= _CAND_BROADCAST_MAX_ROWS
        else (lambda d: d)
    )
    qv_hint = (
        F.broadcast
        if n_q <= _CAND_BROADCAST_MAX_ROWS // _ivf_probe_divisor(dim)
        else (lambda d: d)
    )
    # the shortlist join carries both vectors on the row — the IVF
    # verify shape, same measured per-pair fold (r11, see ivf_topk)
    scored = (
        cv.join(cand_hint(cand), "neighbor_id")
        .join(qv_hint(qv), "query_id")
        .withColumn(
            "cosine_sim",
            F.round(
                dot(F.col("_qv"), F.col("_cv"))
                / F.greatest(F.col("_qn") * F.col("_cn"), F.lit(1e-300)),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


# --------------------------------------------------------------------------
# IVF-PQ: PQ codes attached to a persisted IVF index — route with the
# inverted lists, ADC-score the probed lists' CODES, exact re-rank the
# shortlist against the vectors the lists table already carries. The
# codes ride a SIBLING table (<table>__codes, bucketed on cid like the
# lists) so the whole IVF lifecycle (append/delete/compact, q136-q138)
# keeps operating on the lists table unchanged; a strict row-count +
# stamp screen refuses a probe whenever the siblings have diverged.
# --------------------------------------------------------------------------

#: catalog property binding a codes sibling to the exact codebooks AND
#: the lists stamp it was encoded under
_IVFPQ_STAMP_PROP = "cbs.ivfpq.stamp"

#: catalog property caching the codes table's row count, maintained by
#: attach (observed on the encode's write), refresh (old + encoded
#: count) and compaction (recounted post-purge) — the codes-side half
#: of the screen's property-vs-property count compare (r12 ADVICE: the
#: per-probe screen ran two full-table count() jobs; at corpus scale
#: the screen dominated small probe batches). Absent → count fallback.
_IVFPQ_NCODES_PROP = "cbs.ivfpq.n_codes"

#: session-scoped codebook cache keyed on (table, codes stamp, lists
#: stamp): the m × ksub × dsub books are a few KB and immutable under a
#: fixed stamp pair (attach re-stamps whenever it re-writes them), so a
#: probe-per-batch service pays the books table read ONCE per attach
#: instead of once per probe. A hand-swapped books sibling under an
#: unchanged stamp is the deep audit's domain (verify_ivfpq_consistency),
#: same trust boundary as the count properties.
_BOOKS_CACHE: dict[tuple[str, str, str], list] = {}


def _books_stamp(codebooks, lists_stamp: str) -> str:
    import hashlib
    import json

    payload = json.dumps(
        [[(cid, list(v)) for cid, v in book] for book in codebooks]
    )
    return hashlib.md5(f"{lists_stamp}:{payload}".encode()).hexdigest()[:16]


def _load_books(spark, table: str):
    """Load the persisted codebooks sibling back into the driver-side
    nested-list form (m × ksub × dsub — a few KB)."""
    rows = spark.table(f"{table}__books").orderBy("sub_j", "cid").collect()
    m = 1 + max(r["sub_j"] for r in rows)
    books: list[list[tuple[int, list[float]]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["sub_j"]].append((r["cid"], list(r["_cb"])))
    return books


def attach_pq_codes(
    spark,
    table: str,
    m: int = 16,
    ksub: int = 64,
    train_iters: int = 4,
    train_on: DataFrame | None = None,
    num_buckets: int = 16,
) -> None:
    """Attach PQ codes to a persisted `build_ivf_index` table: train
    codebooks (on ``train_on`` or the indexed vectors), encode EVERY
    lists row, and write ``<table>__codes`` — (neighbor_id, cid,
    codes, recon_norm) BUCKETED ON cid like the lists, so
    :func:`ivfpq_topk`'s candidate join is exchange-free on the codes
    side at any probe size — plus ``<table>__books`` (the m × ksub
    codebooks). The codes stamp binds BOTH the exact codebooks and the
    lists table's IVF stamp: re-building or re-training either side
    invalidates the probe loudly, never silently.

    After :func:`~citibike_analysis_spark.operators.similarity.append_to_ivf_index`,
    run :func:`refresh_pq_codes` (batch-cost: encodes only the missing
    ids). A purging compaction
    (:func:`~citibike_analysis_spark.operators.similarity.compact_ivf_index`)
    maintains the codes sibling itself since r13 — it anti-joins the
    same tombstone set out of ``__codes`` in the same call, so the only
    remaining reason to RE-attach is an actual re-train (new corpus
    geometry). The strict row-count screen in the probe still refuses a
    diverged sibling in either direction (e.g. a crash between the
    compaction's two rewrites)."""
    from citibike_analysis_spark.operators.similarity import (
        _IVF_STAMP_PROP,
    )
    from citibike_analysis_spark.sources.bucketed import (
        _clear_table_and_orphaned_location,
        write_bucketed,
    )

    lists = spark.table(table)
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    lists_stamp = props.get(_IVF_STAMP_PROP)
    if lists_stamp is None:
        raise ValueError(
            f"{table!r} is not a stamped IVF index (build_ivf_index "
            "first) — PQ codes attach to the lists table"
        )
    src = train_on if train_on is not None else lists.select(
        F.col("neighbor_id").alias("vec_id"), F.col("_cv").alias("embedding")
    )
    first = lists.select("_cv").first()
    if first is None:
        raise ValueError(
            f"{table!r} holds no vectors — attach PQ codes after the "
            "index has content"
        )
    dim = len(first["_cv"])
    books = train_pq_codebooks(
        src, m=m, ksub=ksub, dim=dim, train_iters=train_iters
    )
    # cid rides THROUGH the encode as a carry column (renamed around
    # the codec's own per-subspace cid) so the bucketed write needs no
    # n-row re-join back to the lists — the encode's single pass is
    # the whole corpus cost
    from pyspark.sql import Observation

    obs = Observation()
    coded = (
        pq_encode(
            lists.withColumnRenamed("cid", "_list_cid"),
            books,
            id_col="neighbor_id",
            vec_col="_cv",
            carry_cols=["_list_cid"],
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("_list_cid").alias("cid"),
            "codes",
            "recon_norm",
        )
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    write_bucketed(coded, f"{table}__codes", ["cid"], num_buckets)
    n_codes = obs.get["n"]
    bt = f"{table}__books"
    _clear_table_and_orphaned_location(spark, bt)
    _cb_df(spark, books).write.mode("overwrite").format("parquet").saveAsTable(bt)
    # one ALTER carries both; the count cache is observed on the encode
    # write itself (no count job), the screen's cheap compare side
    count_prop = (
        f", '{_IVFPQ_NCODES_PROP}' = '{int(n_codes)}'"
        if n_codes is not None
        else ""
    )
    spark.sql(
        f"ALTER TABLE {table}__codes SET TBLPROPERTIES "
        f"('{_IVFPQ_STAMP_PROP}' = '{_books_stamp(books, lists_stamp)}'"
        f"{count_prop})"
    )


def refresh_pq_codes(spark, table: str, num_buckets: int = 16) -> int:
    """Encode the lists rows that have no code yet (the ids an
    `append_to_ivf_index` landed since the last attach) under the
    STORED codebooks — batch-cost (one anti-join + one assignment pass
    over the missing rows + one bucketed append), never a re-train.
    Returns the number of rows encoded. The stamp is untouched: the
    codebooks and the lists stamp are unchanged by construction (the
    probe's screen verifies both).

    Crash shape (r13 ADVICE): the ``cbs.ivfpq.n_codes`` count cache is
    UNSET before the data append and re-SET after it — a crash in
    between leaves the property absent and readers fall back to a real
    count, which matches the appended table, so the state self-heals.
    The prior ordering (append, then bump the still-present property)
    left a permanently stale-low value: every probe raised 'diverged'
    (loud, so safe), but the suggested heal — refresh_pq_codes — found
    0 missing ids and could never clear it short of a compaction."""
    _verify_ivfpq_stamp(spark, table, check_counts=False)
    books = _load_books(spark, table)
    from citibike_analysis_spark.sources.bucketed import append_bucketed

    lists = spark.table(table)
    missing = lists.join(
        spark.table(f"{table}__codes").select("neighbor_id"),
        "neighbor_id",
        "left_anti",
    ).localCheckpoint(eager=True)
    try:
        n = missing.count()
        if n == 0:
            return 0
        coded = pq_encode(
            missing.withColumnRenamed("cid", "_list_cid"),
            books,
            id_col="neighbor_id",
            vec_col="_cv",
            carry_cols=["_list_cid"],
        ).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("_list_cid").alias("cid"),
            "codes",
            "recon_norm",
        )
        ct = f"{table}__codes"
        cp = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {ct}").collect()
        }
        had_ncodes = _IVFPQ_NCODES_PROP in cp
        if had_ncodes:
            # UNSET before the data append, re-SET after (r13 ADVICE): a
            # crash in between leaves the property absent → count fallback
            # → self-healing, instead of a permanently stale-low value
            # refresh itself can never clear (0 missing ids)
            spark.sql(
                f"ALTER TABLE {ct} UNSET TBLPROPERTIES ('{_IVFPQ_NCODES_PROP}')"
            )
        append_bucketed(coded, ct, ["cid"], num_buckets)
        if had_ncodes:
            # maintain the count cache: append-committed + the missing-row
            # count already in hand, no count job (r12 ADVICE)
            spark.sql(
                f"ALTER TABLE {ct} SET TBLPROPERTIES ('{_IVFPQ_NCODES_PROP}' = "
                f"'{int(cp[_IVFPQ_NCODES_PROP]) + n}')"
            )
        return n
    finally:
        # the codes append has landed (or failed): the blocks are garbage
        free_checkpoint(missing)


def _verify_ivfpq_stamp(spark, table: str, check_counts: bool = True):
    """Screen an IVF-PQ sibling pair before probing: the codes table's
    stamp must equal md5(lists' current IVF stamp + stored codebooks) —
    a re-built lists table or hand-swapped books sibling would route
    or score under the wrong geometry silently — and (when
    ``check_counts``) the two tables must hold the SAME row count: a
    lists append without :func:`refresh_pq_codes` leaves codes missing
    (those ids would silently never be candidates), a half-crashed
    purging compaction leaves GHOST codes (purged ids would shortlist,
    then vanish at the re-rank join, silently shrinking k). Returns
    the loaded codebooks.

    Probe-cadence economics (r12 ADVICE — the screen used to run two
    full-table count() jobs plus a books read per call, at odds with
    the r11/r12 work removing unconditional count jobs from the
    LSH/IVF probes): the counts now compare the lifecycle-maintained
    ``cbs.ivf.n_rows`` / ``cbs.ivfpq.n_codes`` catalog properties
    (zero jobs; falls back to real counts when either property is
    absent — a pre-r13 index or a crash between a compaction's swap
    and its recount), and the codebooks come from a session cache
    keyed on the (table, codes stamp, lists stamp) triple — immutable
    under a fixed stamp pair — so a steady-state probe pays two
    driver-side SHOW TBLPROPERTIES and nothing else."""
    from citibike_analysis_spark.operators.similarity import (
        _IVF_NROWS_PROP,
        _IVF_STAMP_PROP,
    )

    ct = f"{table}__codes"
    if not spark.catalog.tableExists(ct):
        raise ValueError(
            f"{table!r} has no PQ codes sibling — run attach_pq_codes"
        )
    lp = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    cp = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {ct}").collect()
    }
    got = cp.get(_IVFPQ_STAMP_PROP)
    lists_stamp = lp.get(_IVF_STAMP_PROP, "")
    key = (table, got or "", lists_stamp)
    books = _BOOKS_CACHE.get(key)
    if books is None:
        books = _load_books(spark, table)
    expect = _books_stamp(books, lists_stamp)
    if got != expect:
        raise ValueError(
            f"IVF-PQ codes table {ct!r} was stamped {got} but the "
            f"current lists stamp + stored codebooks hash to {expect} "
            "— the lists were rebuilt or the books sibling was "
            "replaced since the codes were encoded; re-run "
            "attach_pq_codes"
        )
    if len(_BOOKS_CACHE) > 64:
        _BOOKS_CACHE.clear()
    _BOOKS_CACHE[key] = books
    if check_counts:
        nl = (
            int(lp[_IVF_NROWS_PROP])
            if _IVF_NROWS_PROP in lp
            else spark.table(table).count()
        )
        nc = (
            int(cp[_IVFPQ_NCODES_PROP])
            if _IVFPQ_NCODES_PROP in cp
            else spark.table(ct).count()
        )
        if nl != nc:
            raise ValueError(
                f"IVF-PQ siblings diverged: {nl} lists rows vs {nc} "
                "code rows — an append without refresh_pq_codes "
                "(missing ids would silently never be candidates) or "
                "a half-crashed purging compaction (ghost codes would "
                "silently shrink k at the re-rank join); run "
                "refresh_pq_codes after appends, re-run "
                "compact_ivf_index after a torn compaction"
            )
    return books


def verify_ivfpq_consistency(spark, table: str) -> int:
    """Id-level deep audit of an IVF-PQ sibling pair (the
    `verify_ivf_index_consistency` counterpart). The per-probe screen
    (:func:`_verify_ivfpq_stamp`) compares TOTALS, which a tear can
    hide behind — ghost codes and missing codes in equal number
    balance the counts while both corrupt probes silently. This audit
    goes to the id level. Raises on: a stale stamp (via the screen);
    GHOST codes (code rows whose id has no lists row — a purging
    compaction without re-attach: ghosts ADC-shortlist, then vanish at
    the re-rank join, silently shrinking k); a CID MISMATCH between a
    code row and its lists row (the code would be probed under the
    wrong list or never); MALFORMED codes (wrong length or value out
    of [0, ksub) — every ADC lookup through them is garbage). Returns
    the count of lists ids with NO code row — the benign direction
    (those ids are simply not yet ADC-visible; heal with
    :func:`refresh_pq_codes`, which this count sizes)."""
    books = _verify_ivfpq_stamp(spark, table, check_counts=False)
    m, ksub = len(books), len(books[0])
    lists = spark.table(table).select("neighbor_id", "cid")
    codes = spark.table(f"{table}__codes")
    ghosts = (
        codes.select("neighbor_id")
        .join(lists.select("neighbor_id"), "neighbor_id", "left_anti")
        .count()
    )
    if ghosts:
        raise ValueError(
            f"IVF-PQ codes table for {table!r} holds {ghosts} GHOST "
            "code row(s) with no lists row — a purging compaction ran "
            "without re-attaching; ghosts shortlist and then vanish at "
            "the re-rank join, silently shrinking k. Re-run "
            "attach_pq_codes"
        )
    mismatched = (
        codes.select("neighbor_id", F.col("cid").alias("_code_cid"))
        .join(lists, "neighbor_id")
        .filter(F.col("_code_cid") != F.col("cid"))
        .count()
    )
    if mismatched:
        raise ValueError(
            f"IVF-PQ siblings for {table!r} disagree on the list id of "
            f"{mismatched} row(s) — the code rows were encoded under a "
            "different assignment than the lists hold; re-run "
            "attach_pq_codes"
        )
    malformed = codes.filter(
        (F.size("codes") != m)
        | ~F.forall("codes", lambda c: (c >= 0) & (c < ksub))
    ).count()
    if malformed:
        raise ValueError(
            f"IVF-PQ codes table for {table!r} holds {malformed} "
            f"malformed code row(s) (length ≠ {m} or value outside "
            f"[0, {ksub})) — every ADC lookup through them is garbage; "
            "re-run attach_pq_codes"
        )
    return (
        lists.select("neighbor_id")
        .join(codes.select("neighbor_id"), "neighbor_id", "left_anti")
        .count()
    )


def ivfpq_topk(
    spark,
    table: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 50,
    n_queries: int | None = None,
) -> DataFrame:
    """Full IVF-PQ probe over the persisted siblings: route each query
    to its ``nprobe`` nearest lists (the stored IVF centroids),
    ADC-score ONLY those lists' code rows (m lookup-adds per
    candidate, codes side exchange-free by bucketing), keep the
    per-query top-``shortlist``, then exact-cosine re-rank the
    shortlist against the vectors the lists table already carries.
    Output: (query_id, neighbor_id, cosine_sim, rk) — exact scores,
    PQ-pruned candidate work; the 100 TB scan economics in one call.

    Tombstones (`remove_from_ivf_index`) are masked on the CODES side
    (broadcast anti-join — removed ids never shortlist). The probe
    frame carries the per-query LUT (m × ksub doubles ≈ a dim-m·ksub
    vector), so its broadcast preflight uses the dim-aware divisor at
    that weight; above the cap the probe side shuffles (codes side
    stays exchange-free)."""
    from citibike_analysis_spark.operators.similarity import (
        _CAND_BROADCAST_MAX_ROWS,
        _cent_df,
        _ivf_probe_divisor,
        _load_ivf_cents,
        dot as _dot,
        norm as _norm,
    )

    books = _verify_ivfpq_stamp(spark, table)
    cents = _load_ivf_cents(spark, table, "ivfpq probe")
    m = len(books)
    ksub = len(books[0])
    _luts = _make_lut_udf(books)

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    )
    probes = (
        q.crossJoin(F.broadcast(_cent_df(spark, cents)))
        .withColumn(
            "_d",
            _dot(F.col("_qv"), F.col("_cvec"))
            / (_norm(F.col("_qv")) * _norm(F.col("_cvec"))),
        )
        .withColumn(
            "_pr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("_d"), F.asc("cid"))
            ),
        )
        .filter(F.col("_pr") <= nprobe)
        .select(
            "query_id",
            _norm(F.col("_qv")).alias("_qn"),
            _luts(F.col("_qv")).alias("_lut"),
            "cid",
        )
    )
    n_q = n_queries if n_queries is not None else queries.select(id_col).count()
    hint = (
        F.broadcast
        if n_q * nprobe
        <= _CAND_BROADCAST_MAX_ROWS // _ivf_probe_divisor(m * ksub)
        else (lambda d: d)
    )
    codes = spark.table(f"{table}__codes")
    tt = f"{table}__tombs"
    if spark.catalog.tableExists(tt):
        codes = codes.join(
            F.broadcast(spark.table(tt)), "neighbor_id", "left_anti"
        )
    short = (
        codes.join(hint(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "_adc",
            F.round(
                _adc_dot()
                / F.greatest(F.col("_qn") * F.col("recon_norm"), F.lit(1e-300)),
                6,
            ),
        )
        .withColumn(
            "_sr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("_adc"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("_sr") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank: the shortlist is |q| × shortlist BARE id pairs and
    # the query frame is |q| rows carrying the full d-dim vector —
    # both preflighted against the same cap as the probe frame (r12
    # ADVICE: unconditional broadcasts here rebuilt exactly the
    # driver-heap state the probe's preflight exists to prevent at
    # large query batches); vectors come from the lists table the
    # index already stores, so over-cap the joins shuffle — the corpus
    # side still pays only a column-pruned scan, never a shuffle of
    # vector bytes by the candidate key
    dim = len(cents[0][1]) if cents else 64
    short_hint = (
        F.broadcast
        if n_q * shortlist <= _CAND_BROADCAST_MAX_ROWS
        else (lambda d: d)
    )
    qv_hint = (
        F.broadcast
        if n_q <= _CAND_BROADCAST_MAX_ROWS // _ivf_probe_divisor(dim)
        else (lambda d: d)
    )
    cv = spark.table(table).select(
        "neighbor_id", F.col("_cv")
    ).withColumn("_cn", _norm(F.col("_cv")))
    qv = q.withColumn("_qn", _norm(F.col("_qv")))
    scored = (
        cv.join(short_hint(short), "neighbor_id")
        .join(qv_hint(qv), "query_id")
        .withColumn(
            "cosine_sim",
            F.round(
                _dot(F.col("_qv"), F.col("_cv"))
                / F.greatest(F.col("_qn") * F.col("_cn"), F.lit(1e-300)),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )
