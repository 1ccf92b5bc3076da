"""LLM-data-pipeline query surface (north-star, SURVEY.md §7 stage 7).

Dedup, text analysis, and similarity search over the ``documents`` and
``embeddings`` tables. Where the computation is portable SQL (md5, token
arithmetic, shingle Jaccard, double-precision cosine) the query carries a
DuckDB oracle; the hash-family operators (MinHash/SimHash use Spark's
xxhash64, which no other engine reproduces) are declared without an
oracle — the driver records a rows-only check and pytest verifies them
against the exact operators instead (tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from citibike_analysis_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    bag_fingerprint,
    punct_ratio,
    stopword_hits,
    token_count,
    tokens,
)
from citibike_analysis_spark.operators.dedup import (
    exact_duplicates,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    winnow_overlap_pairs,
)
from citibike_analysis_spark.operators.similarity import (
    as_double,
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    near_duplicate_embeddings,
)
from citibike_analysis_spark.operators.windows import approx_ntile
from citibike_analysis_spark.plans import QuerySpec
from citibike_analysis_spark.sources.tables import load_table

#: DuckDB token expression kept textually in sync with functions.text.tokens.
_DUCK_TOKENS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"


# --------------------------------------------------------------------------
# q30 — exact dedup via content hash.
# --------------------------------------------------------------------------

def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(load_table(spark, sf_dir, "documents"), "doc_id", "text")


Q30_SQL = """
SELECT md5(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS canonical_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q31 — token counting (whitespace tokenization).
# --------------------------------------------------------------------------

def q31_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


Q31_SQL = f"""
SELECT doc_id,
       CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents
"""


# --------------------------------------------------------------------------
# q32 — quality scoring: token stats, punctuation ratio, stopword ratio.
# --------------------------------------------------------------------------

def q32_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.functions.text import stopword_hits_tokens

    d = load_table(spark, sf_dir, "documents")
    # tokenize ONCE behind a named projection (the q33 shape): the
    # inline-expression form embedded its own split+filter copy inside
    # each referencing site's interpreted higher-order lambda — every
    # document re-tokenized ~5x per row (review finding; the ~10x trap
    # functions/text.py documents)
    tk = d.select("doc_id", F.col("text"), tokens(F.col("text")).alias("_tk"))
    n_tok = F.size("_tk").cast("long")
    return tk.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(
            F.aggregate(
                F.transform(F.col("_tk"), lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / F.greatest(n_tok, F.lit(1)),
            6,
        ).alias("avg_token_len"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(
            stopword_hits_tokens(F.col("_tk")) / F.greatest(n_tok, F.lit(1)), 6
        ).alias("stopword_ratio"),
    )


_SW = ", ".join(f"'{w}'" for w in STOPWORDS)
Q32_SQL = f"""
WITH base AS (
  SELECT doc_id, text, {_DUCK_TOKENS} AS tk FROM documents
)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       round(list_sum(list_transform(tk, t -> CAST(length(t) AS DOUBLE)))
             / greatest(len(tk), 1), 6) AS avg_token_len,
       round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(CAST(len(list_filter(tk, t -> t IN ({_SW}))) AS DOUBLE)
             / greatest(len(tk), 1), 6) AS stopword_ratio
FROM base
"""


# --------------------------------------------------------------------------
# q33 — language ID: argmax of per-language marker-stopword hits, ties to
# the earlier language in the fixed list, 'unk' when nothing matches.
# --------------------------------------------------------------------------

def q33_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.functions.text import lang_id_tokens, tokens

    d = load_table(spark, sf_dir, "documents")
    # tokenize ONCE behind a projection; the inline lang_id(text) form
    # re-tokenizes per marker-list reference (~10× per row)
    tk = d.select("doc_id", "lang", tokens(F.col("text")).alias("_tk"))
    return tk.select(
        "doc_id", "lang", lang_id_tokens(F.col("_tk")).alias("lang_pred")
    )


def _lang_sql() -> str:
    score_cols = ",\n       ".join(
        "CAST(len(list_filter(tk, t -> t IN ({}))) AS BIGINT) AS s_{}".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    m = "greatest({})".format(", ".join(f"s_{lang}" for lang in langs))
    case = " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = m THEN '{lang}'" for lang in langs
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
), scored AS (
  SELECT doc_id, lang,
       {score_cols},
       {m} AS m
  FROM base
)
SELECT doc_id, lang, CASE {case} ELSE 'unk' END AS lang_pred
FROM scored
"""


Q33_SQL = _lang_sql()


# --------------------------------------------------------------------------
# q34 — n-gram Jaccard near-dup pairs (exact, inverted-index plan).
# --------------------------------------------------------------------------

def q34_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)


Q34_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[t.i : t.i + 2], ' ') AS s
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(c / (na.n + nb.n - c), 6) AS jaccard
FROM inter
JOIN sizes na ON id_a = na.doc_id
JOIN sizes nb ON id_b = nb.doc_id
WHERE c / (na.n + nb.n - c) >= 0.5
"""


# --------------------------------------------------------------------------
# q35 — bag-fingerprint dedup (order/multiplicity-insensitive exact).
# --------------------------------------------------------------------------

def q35_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(bag_fingerprint(F.col("text")).alias("fingerprint"))
        .agg(
            F.min("doc_id").cast("long").alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


Q35_SQL = f"""
SELECT md5(array_to_string(list_sort(list_distinct({_DUCK_TOKENS})), ' ')) AS fingerprint,
       CAST(min(doc_id) AS BIGINT) AS canonical_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q36/q37 — MinHash-LSH and SimHash near-dup (hash-family operators; no
# SQL oracle — xxhash64 is Spark-specific. pytest verifies recall against
# the exact q34 pairs instead).
# --------------------------------------------------------------------------

def q36_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(d, "doc_id", "text", threshold=0.5)


def q37_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(d, "doc_id", "text", max_hamming=8)


# --------------------------------------------------------------------------
# q38 — brute-force cosine top-k (exact ANN baseline). All math in double;
# ties broken by neighbor id.
# --------------------------------------------------------------------------

def q38_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    out = brute_force_topk(e, queries, "vec_id", "embedding", k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine_sim", 6).alias("cosine_sim"),
        "rk",
    )


Q38_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id, v FROM e WHERE vec_id < 10
), scored AS (
  -- rank over round(sim, 6), matching the engine (r09: both sides
  -- rank at the 6-decimal consumer precision so knife-edge rank-k
  -- picks cannot depend on summation order; ties break on neighbor_id)
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.v, e.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6) AS sim
  FROM q JOIN e ON q.vec_id <> e.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       sim AS cosine_sim,
       CAST(rk AS BIGINT) AS rk
FROM ranked
WHERE rk <= 5
"""


# --------------------------------------------------------------------------
# q39 — embedding near-duplicate detection, the PRODUCTION
# parameterization (r03 VERDICT #5): θ=0.9, auto-sized sign-LSH banding
# (bits grows with log of corpus size so per-bucket occupancy — and the
# within-bucket candidate product — stays constant; candidates are
# ~linear in corpus size, verified by scripts/scale_rehearsal.py). The
# corpus self-join is an equi-join on (table, bucket), never all-pairs.
#
# The synthetic corpus's max pairwise cosine is ~0.51, so a θ=0.9 scan
# of it alone is vacuously empty. To keep the driver check non-trivial
# the query models the duplication a crawler actually produces: the
# corpus unioned with a RE-INGESTED copy of itself (identical vectors,
# offset ids — a re-crawl landing the same content under new ids). The
# expected answer is exactly one pair per original id: identical
# vectors share every sign bucket with probability 1, so the LSH output
# matches the exact all-pairs oracle deterministically at any
# bits/tables — no tuned-recall argument needed (that argument lives in
# q105, the loose-threshold calibration form).
# --------------------------------------------------------------------------

_REINGEST_OFFSET = 10_000_000


def q39_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    reingested = e.withColumn(
        "vec_id", F.col("vec_id") + F.lit(_REINGEST_OFFSET)
    )
    corpus = e.unionByName(reingested)
    return near_duplicate_embeddings(
        corpus, "vec_id", "embedding", threshold=0.9, bits="auto", tables=16
    )


Q39_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), e AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + {_REINGEST_OFFSET} AS vec_id, v FROM base
)
SELECT CAST(a.vec_id AS BIGINT) AS id_a,
       CAST(b.vec_id AS BIGINT) AS id_b,
       round(list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
-- θ gate on round(sim, 6), matching the engine (r09 rounded-compare
-- convention — see near_duplicate_embeddings)
WHERE round(list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9
"""


# --------------------------------------------------------------------------
# q105 — loose-threshold RECALL CALIBRATION of the sign-LSH near-dup
# operator (the pre-r04 q39, renamed per VERDICT #5): θ=0.45 with the
# banding tuned loose (bits=2, tables=24 → per-pair miss probability
# ~1e-6 at cos 0.45) so the deterministic-seed output matches the exact
# all-pairs oracle bit-for-bit — the strongest oracle evidence that the
# banding math is right. bits=2 means 4 buckets/table, so the candidate
# set is ~n²/4 per table: this is the textbook LSH recall/cost trade
# run deliberately at its recall extreme, an AUDIT-scale query (like
# q40/q57's exact legs), NOT the production plan — that is q39 (auto
# bits, linear candidates); the loose-θ scale path is SemDeDup (q77) /
# IVF (q49). scripts/scale_rehearsal.py carries its measured ×10 growth
# with this annotation.
# --------------------------------------------------------------------------

def q105_neardup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return near_duplicate_embeddings(
        e, "vec_id", "embedding", threshold=0.45, bits=2, tables=24
    )


Q105_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
)
SELECT CAST(a.vec_id AS BIGINT) AS id_a,
       CAST(b.vec_id AS BIGINT) AS id_b,
       round(list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
"""


# --------------------------------------------------------------------------
# q106–q109 — driver-verifiable BOUND AUDITS for the remaining approx
# operators (extending the r03 VERDICT #3 pattern that converted
# q40/q56/q57): each emits exact-recompute values the oracle can state
# verbatim plus booleans asserting the approximation's pinned bound, so
# the driver hash-verifies what was previously rows-only pytest
# evidence. The operator OUTPUTS stay registered as q44/q49/q36/q77 —
# these audits are additional registrations, not replacements. Bounds
# were measured deterministic (seeded operators) at sf0.001/0.01/0.1:
# LSH agg recall 0.32/0.38/0.44; IVF per-query min recall 0.8 at all
# three; MinHash subset+recall 1.0; SemDeDup subset ok, recall
# 0.29/0.71/0.39. The exact legs (brute-force top-k, uncapped Jaccard,
# all-pairs cosine) are AUDIT-scale, same class as q40/q57's exact legs.
# --------------------------------------------------------------------------

def _ann_recall_audit(
    spark: SparkSession, sf_dir: str, approx: DataFrame, flag: str, per_query: float | None, agg: float | None
) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(e, queries, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id", "cosine_sim"
    )
    ap = approx.select(
        F.col("query_id").alias("_q"), F.col("neighbor_id").alias("_n")
    )
    hit = exact.join(
        ap,
        (exact.query_id == F.col("_q")) & (exact.neighbor_id == F.col("_n")),
        "left",
    )
    per = hit.groupBy("query_id").agg(
        F.round(F.max("cosine_sim"), 6).alias("exact_best_sim"),
        F.count("_n").alias("_hits"),
        F.count("*").alias("_k"),
    )
    if per_query is not None:
        return per.select(
            F.col("query_id").cast("long").alias("query_id"),
            "exact_best_sim",
            (F.col("_hits") / F.col("_k") >= per_query).alias(flag),
        )
    tot = per.agg((F.sum("_hits") / F.sum("_k") >= agg).alias(flag))
    return per.join(F.broadcast(tot)).select(
        F.col("query_id").cast("long").alias("query_id"), "exact_best_sim", flag
    )


def q106_ann_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query: the exact best-neighbor cosine (oracle-recomputed) and
    the AGGREGATE recall@5 bound of the q44 LSH parameterization
    (bits=6/tables=8 → theory ≈ 1-(1-p^6)^8 ≈ 0.45 at cos 0.45).
    Bound history: 0.25 → 0.30 in r06 (r05 VERDICT #7); SIZE-KEYED in
    r07 (r06 verdict #6: a single aggregate floor let a 0.44 → 0.31
    recall collapse at sf0.1 hide under the small-SF floor). Measured
    deterministic recall is 0.32/0.38/0.44 at sf0.001/0.01/0.1 — the
    two small SFs share n=500 vectors, sf0.1 has n=2000 — so the floor
    is keyed on the corpus size the query itself reads: 0.40 at
    n ≥ 1500, 0.30 below. Per-query recall can be 0 for an individual
    unlucky query at these parameters — that is the banding
    distribution, not a defect — so the pinned bound is the aggregate,
    like the pytest."""
    e = load_table(spark, sf_dir, "embeddings")
    floor = 0.40 if e.count() >= 1500 else 0.30
    q = e.filter(F.col("vec_id") < 10)
    ap = lsh_topk(e, q, "vec_id", "embedding", k=5, bits=6, tables=8)
    return _ann_recall_audit(
        spark, sf_dir, ap, "agg_recall_ge_sf_floor", None, floor
    )


_Q131_RUN_TAG = None  # lazy: one uuid per process (q115's race rationale)


def q131_lsh_index_lifecycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable audit of the persisted-index LIFECYCLE (r08):
    build-once / probe-many / APPEND-often. Builds the q44 LSH index on
    the even half of the corpus, APPENDS the odd half
    (`operators/similarity.py::append_to_lsh_index` — batch-cost
    bucketed append, stamp-verified), probes the appended index, and
    compares the (query, neighbor, rk) set EXACTLY against the direct
    in-memory `lsh_topk` over the full corpus at the same parameters —
    a deterministic equality (same planes, same corpus, same
    tie-breaks), so the emitted boolean is exact, not a bound. Emits
    one row (n_queries, n_corpus, incremental_matches_direct); the
    oracle recomputes both counts and states the equality TRUE
    verbatim. The k×|q| probe rows are collected driver-side for the
    set compare — bounded audit-scale work (≤50 rows), same class as
    the other audit collects. Index tables carry a per-process uuid
    (two concurrent sweeps must not race one catalog name) and are
    dropped in a finally: the audit proves the lifecycle from scratch
    every run, never off residue."""
    import uuid

    from citibike_analysis_spark.operators.similarity import (
        append_to_lsh_index,
        build_lsh_index,
        lsh_index_topk,
        lsh_topk,
    )

    global _Q131_RUN_TAG
    if _Q131_RUN_TAG is None:
        _Q131_RUN_TAG = uuid.uuid4().hex[:8]
    import hashlib

    table = (
        "q131_lsh_inc_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{_Q131_RUN_TAG}"
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    params = dict(bits=6, tables=8)
    try:
        build_lsh_index(e.filter(F.col("vec_id") % 2 == 0), table, **params)
        append_to_lsh_index(e.filter(F.col("vec_id") % 2 == 1), table, **params)
        key = lambda rows: sorted(
            (r["query_id"], r["neighbor_id"], r["rk"]) for r in rows
        )
        via_index = key(
            lsh_index_topk(spark, table, q, k=5, **params).collect()
        )
        direct = key(lsh_topk(e, q, k=5, **params).collect())
        matches = bool(via_index) and via_index == direct
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__vecs")
    return spark.createDataFrame(
        [(q.count(), e.count(), matches)],
        "n_queries bigint, n_corpus bigint, incremental_matches_direct boolean",
    )


Q131_SQL = """
SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries,
       CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_corpus,
       TRUE AS incremental_matches_direct
"""


def q134_lsh_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable audit of the index lifecycle's FOURTH leg
    (r09 VERDICT #3): build / append / probe / COMPACT. Builds the q44
    index on the even half, appends the odd half in TWO batches (each
    append adds one file set per bucket to both tables — the
    small-file accumulation `append_to_lsh_index` documents), probes,
    then runs `compact_lsh_index` and asserts (a) the probe set is
    EXACTLY unchanged — compaction is pure I/O: same rows, same
    stamp, same bucket layout, so equality is deterministic, not a
    bound — and (b) the buckets table's file count strictly shrank
    and landed at ≤ its bucket count (one file set per non-empty
    bucket, the defined compact state). Raw file counts are NOT
    emitted: they depend on task parallelism at build time, which is
    environment-shaped; the booleans are the invariants. One row
    (n_queries, n_corpus, probe_unchanged, files_compacted); oracle
    states the counts and both TRUEs verbatim. Per-process uuid +
    finally-drop, same as q131."""
    import hashlib
    import uuid

    from citibike_analysis_spark.operators.similarity import (
        append_to_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        lsh_index_topk,
    )

    global _Q131_RUN_TAG
    if _Q131_RUN_TAG is None:
        _Q131_RUN_TAG = uuid.uuid4().hex[:8]
    table = (
        "q134_lsh_cmp_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{_Q131_RUN_TAG}"
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    params = dict(bits=6, tables=8)
    key = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["rk"]) for r in rows
    )
    try:
        build_lsh_index(e.filter(F.col("vec_id") % 2 == 0), table, **params)
        append_to_lsh_index(
            e.filter(F.col("vec_id") % 4 == 1), table, **params
        )
        append_to_lsh_index(
            e.filter(F.col("vec_id") % 4 == 3), table, **params
        )
        before = key(lsh_index_topk(spark, table, q, k=5, **params).collect())
        stats = compact_lsh_index(spark, table)
        after = key(lsh_index_topk(spark, table, q, k=5, **params).collect())
        probe_unchanged = bool(before) and before == after
        b = stats[table]
        files_compacted = (
            b["files_after"] < b["files_before"] and b["files_after"] <= 16
        )
    finally:
        for suffix in ("", "__vecs"):
            for state in ("", "__compacting", "__old"):
                spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}{state}")
    return spark.createDataFrame(
        [(q.count(), e.count(), probe_unchanged, files_compacted)],
        "n_queries bigint, n_corpus bigint, "
        "probe_unchanged boolean, files_compacted boolean",
    )


Q134_SQL = """
SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries,
       CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_corpus,
       TRUE AS probe_unchanged,
       TRUE AS files_compacted
"""


def q135_lsh_deletion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable audit of the index lifecycle's FIFTH leg
    (r10 VERDICT #4): build / append / probe / compact / REMOVE.
    Builds the q44 index over the full corpus, tombstones every
    ``vec_id % 10 == 3`` via `remove_from_lsh_index` (batch-cost
    append to ``__tombs``, no rewrite), and asserts (a) the probe
    after removal equals EXACTLY the probe of a fresh
    `build_lsh_index` over the corpus WITHOUT those ids — a
    deterministic equality (same planes, same candidate set minus the
    removed, same rounding/tie-breaks), so the boolean is exact, not
    a bound — and (b) `compact_lsh_index` ABSORBS the tombstones
    (physical purge: ``__vecs`` row count drops to the kept count,
    the tombstone table is gone) while preserving that same probe
    set. One row (n_queries, n_corpus, n_removed,
    removal_matches_fresh_build, purge_preserves_probe); the oracle
    recomputes the three counts and states both TRUEs verbatim. The
    k×|q| probe rows are collected driver-side for the set compares —
    bounded audit-scale work, same class as q131/q134. Per-process
    uuid + finally-drop (including ``__tombs`` and the compaction's
    transient names), same as q131."""
    import hashlib
    import uuid

    from citibike_analysis_spark.operators.similarity import (
        build_lsh_index,
        compact_lsh_index,
        lsh_index_topk,
        remove_from_lsh_index,
    )

    global _Q131_RUN_TAG
    if _Q131_RUN_TAG is None:
        _Q131_RUN_TAG = uuid.uuid4().hex[:8]
    table = (
        "q135_lsh_rm_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{_Q131_RUN_TAG}"
    )
    ref = f"{table}_ref"
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    removed = e.filter(F.col("vec_id") % 10 == 3)
    kept = e.filter(F.col("vec_id") % 10 != 3)
    params = dict(bits=6, tables=8)
    key = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["rk"]) for r in rows
    )
    try:
        build_lsh_index(e, table, **params)
        build_lsh_index(kept, ref, **params)
        n_removed = remove_from_lsh_index(spark, table, removed)
        after_rm = key(lsh_index_topk(spark, table, q, k=5, **params).collect())
        fresh = key(lsh_index_topk(spark, ref, q, k=5, **params).collect())
        removal_matches = bool(after_rm) and after_rm == fresh
        compact_lsh_index(spark, table)
        purged = key(lsh_index_topk(spark, table, q, k=5, **params).collect())
        purge_preserves = (
            purged == fresh
            and not spark.catalog.tableExists(f"{table}__tombs")
            and spark.table(f"{table}__vecs").count() == kept.count()
        )
    finally:
        for tb in (table, ref):
            for state in ("", "__vecs", "__tombs", "__compacting", "__old"):
                spark.sql(f"DROP TABLE IF EXISTS {tb}{state}")
    return spark.createDataFrame(
        [(q.count(), e.count(), n_removed, removal_matches, purge_preserves)],
        "n_queries bigint, n_corpus bigint, n_removed bigint, "
        "removal_matches_fresh_build boolean, purge_preserves_probe boolean",
    )


Q135_SQL = """
SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries,
       CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_corpus,
       CAST((SELECT count(*) FROM embeddings WHERE vec_id % 10 = 3) AS BIGINT) AS n_removed,
       TRUE AS removal_matches_fresh_build,
       TRUE AS purge_preserves_probe
"""


def q136_ivf_index_lifecycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable audit of the persisted IVF index lifecycle
    (r11 — the second ANN family's build/probe/append, mirroring the
    LSH family's q131). Two indexes over the same corpus: REFERENCE =
    `build_ivf_index(full, train_on=even half)` (the train-on-sample
    production knob); INCREMENTAL = `build_ivf_index(even half)` then
    `append_to_ivf_index(odd half)` (assign-to-existing-centroids, no
    retrain). Both assign the full corpus under centroids trained on
    the even half, so their probes must be EXACTLY equal — a
    deterministic equality (deterministic training, stored centroids,
    same scoring expressions), not a bound. (Equality with the
    in-memory :func:`ivf_topk` is deliberately NOT part of this audit
    — in-memory trains on the full corpus, different centroids by
    design; that equality is pinned by pytest on a full-corpus
    build.)
    One row (n_queries, n_corpus, incremental_matches_reference);
    oracle states the counts and TRUE. Probe rows collected
    driver-side for the set compare — bounded audit-scale (≤50 rows).
    Per-process uuid + finally-drop, same as q131."""
    import hashlib
    import uuid

    from citibike_analysis_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )

    global _Q131_RUN_TAG
    if _Q131_RUN_TAG is None:
        _Q131_RUN_TAG = uuid.uuid4().hex[:8]
    table = (
        "q136_ivf_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{_Q131_RUN_TAG}"
    )
    ref = f"{table}_ref"
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1)
    key = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["rk"]) for r in rows
    )
    try:
        build_ivf_index(e, ref, nlist=16, train_iters=4, train_on=even)
        build_ivf_index(even, table, nlist=16, train_iters=4)
        append_to_ivf_index(odd, table)
        via_inc = key(ivf_index_topk(spark, table, q, k=5, nprobe=6).collect())
        via_ref = key(ivf_index_topk(spark, ref, q, k=5, nprobe=6).collect())
        matches = bool(via_inc) and via_inc == via_ref
    finally:
        for tb in (table, ref):
            for state in ("", "__cents"):
                spark.sql(f"DROP TABLE IF EXISTS {tb}{state}")
    return spark.createDataFrame(
        [(q.count(), e.count(), matches)],
        "n_queries bigint, n_corpus bigint, "
        "incremental_matches_reference boolean",
    )


Q136_SQL = """
SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries,
       CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_corpus,
       TRUE AS incremental_matches_reference
"""


def q137_ivf_deletion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable audit of the IVF index's deletion leg (r11 —
    the q135 counterpart for the second ANN family). Builds the index
    over the full corpus, tombstones every ``vec_id % 10 == 3`` via
    `remove_from_ivf_index`, and asserts (a) the probe after removal
    EXACTLY equals the probe of a fresh `build_ivf_index(kept,
    train_on=full)` — train_on pins the reference to the same
    centroids the deleted-from index trained, making the equality
    deterministic — and (b) `compact_ivf_index` absorbs the
    tombstones (physical purge: lists row count drops to the kept
    count, tombstone table gone) while preserving that probe set. One
    row (n_queries, n_corpus, n_removed, removal_matches_fresh_build,
    purge_preserves_probe); oracle recomputes the counts and states
    both TRUEs. Per-process uuid + finally-drop, same as q131/q135."""
    import hashlib
    import uuid

    from citibike_analysis_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_index,
        ivf_index_topk,
        remove_from_ivf_index,
    )

    global _Q131_RUN_TAG
    if _Q131_RUN_TAG is None:
        _Q131_RUN_TAG = uuid.uuid4().hex[:8]
    table = (
        "q137_ivf_rm_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{_Q131_RUN_TAG}"
    )
    ref = f"{table}_ref"
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    removed = e.filter(F.col("vec_id") % 10 == 3)
    kept = e.filter(F.col("vec_id") % 10 != 3)
    key = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["rk"]) for r in rows
    )
    try:
        build_ivf_index(e, table, nlist=16, train_iters=4)
        build_ivf_index(kept, ref, nlist=16, train_iters=4, train_on=e)
        n_removed = remove_from_ivf_index(spark, table, removed)
        after_rm = key(
            ivf_index_topk(spark, table, q, k=5, nprobe=6).collect()
        )
        fresh = key(ivf_index_topk(spark, ref, q, k=5, nprobe=6).collect())
        removal_matches = bool(after_rm) and after_rm == fresh
        compact_ivf_index(spark, table)
        purged = key(ivf_index_topk(spark, table, q, k=5, nprobe=6).collect())
        purge_preserves = (
            purged == fresh
            and not spark.catalog.tableExists(f"{table}__tombs")
            and spark.table(table).count() == kept.count()
        )
    finally:
        for tb in (table, ref):
            for state in ("", "__cents", "__tombs", "__compacting", "__old"):
                spark.sql(f"DROP TABLE IF EXISTS {tb}{state}")
    return spark.createDataFrame(
        [(q.count(), e.count(), n_removed, removal_matches, purge_preserves)],
        "n_queries bigint, n_corpus bigint, n_removed bigint, "
        "removal_matches_fresh_build boolean, purge_preserves_probe boolean",
    )


# q137's removal predicate is textually the q135 one today, but the two
# audits must be free to drift apart — registering both under one SQL
# constant meant editing q135 alone would silently desync q137's oracle
# (r11 ADVICE)
Q137_SQL = """
SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries,
       CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_corpus,
       CAST((SELECT count(*) FROM embeddings WHERE vec_id % 10 = 3) AS BIGINT) AS n_removed,
       TRUE AS removal_matches_fresh_build,
       TRUE AS purge_preserves_probe
"""


def q138_ivf_append_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable audit of the IVF append's TWO-AXIS DRIFT
    SIGNAL (r11 VERDICT #2 / r12; second axis r13): each
    `append_to_ivf_index` returns the batch's mean assignment cosine
    AND mean squared euclidean distance to the nearest centroid, each
    against the build-time baseline the index stamps, so a caller
    learns WHEN to rebuild instead of being told "rebuild
    periodically".

    Design (measured at sf0.001/0.01/0.1 before pinning): the index is
    built over the FULL corpus with ``train_on`` a 20% sample, so the
    stamped baselines are a mostly HELD-OUT fit — an even/odd split
    would bake the train-vs-held-out generalization gap (~0.15 mean
    cos on this corpus) into every same-distribution batch and drown
    the signal. Three appends against one build:

    - SAME-DIST leg: the corpus re-idd (novel ids, identical vectors)
      — assignment is a pure per-vector function of the frozen
      centroids, so both batch means equal their baselines (measured
      exactly 0.0 drift on both axes at every SF; pinned |drift| ≤
      0.001 and |ed_drift| ≤ max(0.001, 0.001·baseline) to absorb
      partition-summation-order ulps).
    - SHIFTED leg (the COSINE axis's home turf): a batch pointing
      ORTHOGONAL to every stored centroid (driver-side Gram–Schmidt
      against the nlist × dim ``__cents`` rows — assignment cosine 0
      by construction), so cos-drift ≈ the full baseline (measured
      0.249–0.278 across SFs; pinned ≥ 0.1).
    - RADIAL leg (the EUCLIDEAN axis's reason to exist — one of the
      two r12-documented cosine blind spots, closed r13): the corpus
      re-idd and SCALED ×2. The cosine statistic is blind BY ALGEBRA
      (cos(αv, c) = cos(v, c) per vector for α > 0, so the batch mean
      is bit-identical; pinned |drift| ≤ 0.001 — blindness
      DEMONSTRATED, not assumed), while the euclidean statistic flags
      hard: |αv − c|² grows by (α² − 1)|v|² (measured ed_drift 2.73 =
      2.8× the 0.968 baseline on the unit-norm corpus; pinned
      ed_drift ≥ build_mean_ed, i.e. the quantization error at least
      doubles).

    - MASS-SHIFT leg (r14 — the THIRD axis's reason to exist, r13
      verdict #2): a batch of corpus rows confined to the 4
      lowest-cid clusters (selected by assignment under the stored
      centroids, re-idd). Every vector sits exactly as close to its
      centroid as at build time, so BOTH global means are blind BY
      CONSTRUCTION (measured |cos-drift| ≤ 0.004 and relative
      ed-drift ≤ 0.004 across SFs; pinned ≤ 0.02 each — blindness
      demonstrated), while the assignment-share histogram flags hard:
      share_tv measured 0.750–0.764 across SFs (pinned ≥ 0.5).
    - SAME-DIST and RADIAL legs also pin share_tv EXACTLY 0.0:
      assignment is a pure per-vector, scale-invariant function of
      the frozen centroids (measured bit-zero at every SF).
    - NEGATION leg (r14 — the measured REFUTATION closing the r13
      open question): a negated corpus batch. The sf corpora are
      exactly unit-norm and near-sign-symmetric (corpus mean-vector
      norm 0.04), so negation is a near-null distribution shift on
      ALL THREE axes — measured cos-drift 0.025–0.063, relative
      ed-drift 1.8–6.5%, share_tv 0.057–0.096 (each pinned BELOW its
      flag threshold: ≤ 0.15, ≤ 0.15, ≤ 0.3). The r13 hypothesis
      that a per-centroid share statistic might move under negation
      where the global means cannot is thereby refuted for this
      corpus: negating a near-antipodally-symmetric distribution
      permutes assignments without skewing the histogram. On
      directionally-clustered corpora negation flags at 32× on the
      euclidean axis (pytest-pinned on such a fixture).

    One row (n_corpus, n_batch_same, n_batch_shifted, n_batch_scaled,
    n_batch_negated, same_dist_drift_zero, shifted_batch_flags,
    radial_cos_blind, radial_ed_flags, mass_shift_means_blind,
    mass_shift_share_flags, negation_all_axes_null); the oracle
    recomputes the counts and states the seven TRUEs (the mass
    batch's size is assignment-dependent — not SQL-expressible — so
    it is asserted nonzero in-plan rather than emitted). Per-process
    uuid + finally-drop, same as q131/q135."""
    import hashlib
    import uuid

    import numpy as np

    from citibike_analysis_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
    )

    global _Q131_RUN_TAG
    if _Q131_RUN_TAG is None:
        _Q131_RUN_TAG = uuid.uuid4().hex[:8]
    table = (
        "q138_ivf_dr_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{_Q131_RUN_TAG}"
    )
    e = load_table(spark, sf_dir, "embeddings")
    try:
        build_ivf_index(
            e,
            table,
            nlist=16,
            train_iters=4,
            train_on=e.filter(F.col("vec_id") % 5 == 0),
        )
        copies = e.select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"), "embedding"
        )
        same = append_to_ivf_index(copies, table)
        cents = np.array(
            [
                list(r["_cvec"])
                for r in spark.table(f"{table}__cents").orderBy("cid").collect()
            ]
        )
        u = np.ones(cents.shape[1])
        qb, _ = np.linalg.qr(cents.T)  # orthonormal basis of centroid span
        u = u - qb @ (qb.T @ u)
        u = (u / np.linalg.norm(u)).tolist()
        shifted_batch = spark.range(20_000_000, 20_000_000 + 100).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.lit(float(x)) for x in u]).alias("embedding"),
        )
        shift = append_to_ivf_index(shifted_batch, table)
        scaled_batch = e.select(
            (F.col("vec_id") + F.lit(30_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias(
                "embedding"
            ),
        )
        rad = append_to_ivf_index(scaled_batch, table)
        # MASS-SHIFT leg (r14): corpus rows assigned to the 4
        # lowest-cid lists under the STORED centroids, re-idd — equal
        # per-vector fit, skewed histogram
        from citibike_analysis_spark.operators.similarity import (
            _assign_nearest,
            _load_ivf_cents,
            as_double,
        )

        stored = _load_ivf_cents(spark, table, "q138 mass leg")
        cvecs = e.select(
            F.col("vec_id").alias("_id"),
            as_double(F.col("embedding")).alias("_v"),
        )
        mass_ids = (
            _assign_nearest(cvecs, "_id", "_v", stored)
            .filter(F.col("cid") < 4)
            .select(F.col("_id").alias("vec_id"))
        )
        mass_batch = e.join(mass_ids, "vec_id", "left_semi").select(
            (F.col("vec_id") + F.lit(40_000_000)).alias("vec_id"), "embedding"
        )
        mass = append_to_ivf_index(mass_batch, table)
        # NEGATION leg (r14): the measured all-axes-null refutation
        neg_batch = e.select(
            (F.col("vec_id") + F.lit(50_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
        neg = append_to_ivf_index(neg_batch, table)
        same_zero = (
            same["drift"] is not None
            and abs(same["drift"]) <= 0.001
            and same["ed_drift"] is not None
            and abs(same["ed_drift"])
            <= max(0.001, 0.001 * same["build_mean_ed"])
            and same["share_tv"] is not None
            and same["share_tv"] <= 1e-6
        )
        shift_flags = shift["drift"] is not None and shift["drift"] >= 0.1
        rad_cos_blind = (
            rad["drift"] is not None
            and abs(rad["drift"]) <= 0.001
            and rad["share_tv"] is not None
            and rad["share_tv"] <= 1e-6
        )
        rad_ed_flags = (
            rad["ed_drift"] is not None
            and rad["ed_drift"] >= rad["build_mean_ed"]
        )
        mass_means_blind = (
            mass["n_appended"] > 0
            and mass["drift"] is not None
            and abs(mass["drift"]) <= 0.02
            and mass["ed_drift"] is not None
            and abs(mass["ed_drift"]) <= 0.02 * mass["build_mean_ed"]
        )
        mass_share_flags = (
            mass["share_tv"] is not None and mass["share_tv"] >= 0.5
        )
        neg_all_null = (
            neg["drift"] is not None
            and abs(neg["drift"]) <= 0.15
            and neg["ed_drift"] is not None
            and abs(neg["ed_drift"]) <= 0.15 * neg["build_mean_ed"]
            and neg["share_tv"] is not None
            and neg["share_tv"] <= 0.3
        )
    finally:
        for state in ("", "__cents", "__tombs"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{state}")
    return spark.createDataFrame(
        [
            (
                e.count(),
                same["n_appended"],
                shift["n_appended"],
                rad["n_appended"],
                neg["n_appended"],
                same_zero,
                shift_flags,
                rad_cos_blind,
                rad_ed_flags,
                mass_means_blind,
                mass_share_flags,
                neg_all_null,
            )
        ],
        "n_corpus bigint, n_batch_same bigint, n_batch_shifted bigint, "
        "n_batch_scaled bigint, n_batch_negated bigint, "
        "same_dist_drift_zero boolean, shifted_batch_flags boolean, "
        "radial_cos_blind boolean, radial_ed_flags boolean, "
        "mass_shift_means_blind boolean, mass_shift_share_flags boolean, "
        "negation_all_axes_null boolean",
    )


Q138_SQL = """
SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_corpus,
       CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_batch_same,
       CAST(100 AS BIGINT) AS n_batch_shifted,
       CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_batch_scaled,
       CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_batch_negated,
       TRUE AS same_dist_drift_zero,
       TRUE AS shifted_batch_flags,
       TRUE AS radial_cos_blind,
       TRUE AS radial_ed_flags,
       TRUE AS mass_shift_means_blind,
       TRUE AS mass_shift_share_flags,
       TRUE AS negation_all_axes_null
"""


def q139_pq_reconstruction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable audit of the PQ codec (r12 — ANN capability 3:
    product quantization, `operators/pq.py`; r13: codebooks trained on
    a 20% sample — the `train_on` economics the operator ships
    (`pq.py`: a sample makes training ~5× cheaper while the full
    corpus is still encoded), every pinned invariant is a property of
    the ENCODE over the full corpus, not of where the codebooks were
    trained). Trains the production parameterization (m=16 subspaces,
    ksub=64, 4 Lloyd iterations — 1.5 bits/dim vs the raw 512
    bits/dim) plus a deliberately coarse ksub=4 codec, encodes the
    corpus, and pins one row:

    - ``n_vectors`` — every vector encodes exactly once (oracle:
      corpus count);
    - ``codes_in_range`` — every code vector has exactly m entries,
      each in [0, ksub) (a silent off-by-one here would corrupt every
      ADC lookup);
    - ``mse_monotone_in_ksub`` — mean reconstruction MSE at ksub=64 <
      at ksub=4 (more centroids must fit better; measured
      0.0022/0.0099 at sf0.001 sample-trained, same ordering at
      sf0.01/0.1);
    - ``coding_beats_variance`` — mean MSE < the MEAN PER-DIMENSION
      variance (r12 ADVICE: the zero-information codec is the per-dim
      mean, whose MSE is the mean of per-dim var_pop; the pooled
      variance over all posexploded values equals that PLUS the
      variance of per-dim means, a weaker bar — measured 0.0022 vs
      0.0156 per-dim at sf0.001).
    """
    from citibike_analysis_spark.operators.pq import (
        pq_encode,
        pq_reconstruction_mse,
        train_pq_codebooks,
    )

    e = load_table(spark, sf_dir, "embeddings")
    sample = e.filter(F.col("vec_id") % 5 == 0)
    books = train_pq_codebooks(
        e, m=16, ksub=64, dim=64, train_iters=4, train_on=sample
    )
    coarse = train_pq_codebooks(
        e, m=16, ksub=4, dim=64, train_iters=4, train_on=sample
    )
    codes = pq_encode(e, books)
    stats = codes.agg(
        F.count("*").alias("n"),
        F.bool_and(
            (F.size("codes") == 16)
            & F.forall("codes", lambda c: (c >= 0) & (c < 64))
        ).alias("in_range"),
    ).collect()[0]
    mse_fine = pq_reconstruction_mse(e, books).agg(F.avg("mse")).collect()[0][0]
    mse_coarse = (
        pq_reconstruction_mse(e, coarse).agg(F.avg("mse")).collect()[0][0]
    )
    # mean of PER-DIMENSION population variances — the exact MSE of the
    # zero-information per-dim-mean codec (r12 ADVICE: pooling all
    # values first adds the variance of the per-dim means to the bar)
    var = (
        e.select(F.posexplode(as_double(F.col("embedding"))).alias("p", "v"))
        .groupBy("p")
        .agg(F.var_pop("v").alias("_pv"))
        .agg(F.avg("_pv"))
        .collect()[0][0]
    )
    return spark.createDataFrame(
        [
            (
                stats["n"],
                bool(stats["in_range"]),
                mse_fine < mse_coarse,
                mse_fine < var,
            )
        ],
        "n_vectors bigint, codes_in_range boolean, "
        "mse_monotone_in_ksub boolean, coding_beats_variance boolean",
    )


Q139_SQL = """
SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vectors,
       TRUE AS codes_in_range,
       TRUE AS mse_monotone_in_ksub,
       TRUE AS coding_beats_variance
"""


def q140_pq_rerank_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query: exact best-neighbor cosine + PER-QUERY recall@5 ≥ 0.6
    for the production PQ recipe (m=16/ksub=64 ADC shortlist-50 +
    exact re-rank, codebooks trained on a 20% sample since r13 —
    measured min per-query 1.0/1.0/0.8 at sf0.001/0.01/0.1
    sample-trained, identical to the full-train floors; plain
    un-re-ranked ADC@5 reads ~0.74/0.46 mean, which is exactly why the
    re-rank stage is part of the registered operator, not an
    option)."""
    from citibike_analysis_spark.operators.pq import (
        pq_encode,
        pq_topk_rerank,
        train_pq_codebooks,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    books = train_pq_codebooks(
        e,
        m=16,
        ksub=64,
        dim=64,
        train_iters=4,
        train_on=e.filter(F.col("vec_id") % 5 == 0),
    )
    codes = pq_encode(e, books)
    ap = pq_topk_rerank(codes, e, q, books, k=5, shortlist=50, n_queries=10)
    return _ann_recall_audit(spark, sf_dir, ap, "query_recall_ge_06", 0.6, None)


def q141_ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query: exact best-neighbor cosine + PER-QUERY recall@5 ≥ 0.6
    for the FULL persisted IVF-PQ pipeline (r12 — route via the stored
    inverted lists at nprobe=6, ADC-score the probed lists' codes at
    m=16/ksub=64, exact re-rank the 50-candidate shortlist; r13: PQ
    codebooks trained on a 20% sample, the production `train_on`
    economics — the recall floor is a property of the probe over the
    fully-encoded corpus): measured 0.94 mean / 0.80 min per query at
    ALL of sf0.001/0.01/0.1 sample-trained (identical to the
    full-train floors) — the composition of the two
    independently-audited stages (q107 routing min 0.8, q140
    codec-shortlist min 0.8). Builds the index + codes per run
    (per-process uuid + finally-drop, the q131 pattern)."""
    import hashlib
    import uuid

    from citibike_analysis_spark.operators.pq import (
        attach_pq_codes,
        ivfpq_topk,
    )
    from citibike_analysis_spark.operators.similarity import build_ivf_index

    global _Q131_RUN_TAG
    if _Q131_RUN_TAG is None:
        _Q131_RUN_TAG = uuid.uuid4().hex[:8]
    table = (
        "q141_ivfpq_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{_Q131_RUN_TAG}"
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    try:
        build_ivf_index(e, table, nlist=16, train_iters=4)
        attach_pq_codes(
            spark,
            table,
            m=16,
            ksub=64,
            train_iters=4,
            train_on=e.filter(F.col("vec_id") % 5 == 0).select(
                "vec_id", "embedding"
            ),
        )
        from citibike_analysis_spark.cache import track

        ap = track(
            ivfpq_topk(
                spark, table, q, k=5, nprobe=6, shortlist=50
            ).localCheckpoint(eager=True)
        )
    finally:
        for state in ("", "__cents", "__tombs", "__codes", "__books"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{state}")
    return _ann_recall_audit(spark, sf_dir, ap, "query_recall_ge_06", 0.6, None)


def q107_ann_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query: exact best-neighbor cosine + PER-QUERY recall@5 ≥ 0.6
    for the q49 IVF parameterization (nlist=16, nprobe=6 — measured
    min 0.8 per query at every SF: true neighbors concentrate in the
    probed lists)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    ap = ivf_topk(e, q, "vec_id", "embedding", k=5, nlist=16, nprobe=6)
    return _ann_recall_audit(spark, sf_dir, ap, "query_recall_ge_06", 0.6, None)


_ANN_AUDIT_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id, v FROM e WHERE vec_id < 10
), scored AS (
  SELECT q.vec_id AS query_id,
         list_dot_product(q.v, e.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS sim
  FROM q JOIN e ON q.vec_id <> e.vec_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       round(max(sim), 6) AS exact_best_sim,
       true AS {flag}
FROM scored GROUP BY query_id
"""

Q106_SQL = _ANN_AUDIT_SQL.format(flag="agg_recall_ge_sf_floor")
Q107_SQL = _ANN_AUDIT_SQL.format(flag="query_recall_ge_06")
# own constant even while textually equal to Q107_SQL — the Q137
# lesson: shared constants let one audit's edit silently desync another
Q140_SQL = _ANN_AUDIT_SQL.format(flag="query_recall_ge_06")
Q141_SQL = _ANN_AUDIT_SQL.format(flag="query_recall_ge_06")


def q108_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row auditing MinHash-LSH (q36's parameterization) against the
    exact shingle-Jaccard pairs: the exact pair count (oracle-
    recomputed via the q34 SQL), a precision boolean (every MinHash
    pair IS an exact pair with the identical Jaccard value — exact by
    construction: candidates are verified with exact Jaccard), and the
    banding recall bound (b=16, r=4 at J ≥ 0.5 — measured 1.0 at every
    SF; pinned ≥ 0.9 like the pytest)."""
    d = load_table(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5).select(
        "id_a", "id_b", F.col("jaccard").alias("_je")
    )
    approx = minhash_dedup_pairs(d, "doc_id", "text", threshold=0.5).select(
        "id_a", "id_b", F.col("jaccard").alias("_ja")
    )
    j = exact.join(approx, ["id_a", "id_b"], "full_outer")
    matched = F.count(F.when(F.col("_je").isNotNull() & F.col("_ja").isNotNull(), 1))
    return j.agg(
        F.count("_je").cast("long").alias("n_exact_pairs"),
        F.coalesce(
            F.bool_and(
                F.col("_je").isNotNull()
                & (F.abs(F.col("_ja") - F.col("_je")) < F.lit(1e-9))
                | F.col("_ja").isNull()
            ),
            F.lit(True),
        ).alias("precision_exact"),
        F.coalesce(matched / F.count("_je") >= 0.9, F.lit(True)).alias(
            "recall_ge_09"
        ),
    )


Q108_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       true AS precision_exact,
       true AS recall_ge_09
FROM ({Q34_SQL}) exact_pairs
"""


def q109_semdedup_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row auditing SemDeDup (q77's parameterization) against the
    exact all-pairs θ=0.45 set: exact pair count (the q105 oracle's
    count), a precision boolean (every reported pair is a true θ-pair
    with the matching cosine — exact by construction, k-means only
    prunes candidates), and the within-cluster recall bound (k=8,
    3 Lloyd iterations — measured 0.29/0.71/0.39 across SFs, pinned
    ≥ 0.2; recall is the knob SemDeDup trades for its Σ|cluster|²
    candidate bound, the full-recall path being q105/q39)."""
    from citibike_analysis_spark.operators.similarity import (
        as_double,
        cosine,
        semantic_dedup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    ev = e.select(F.col("vec_id").alias("_id"), as_double(F.col("embedding")).alias("_v"))
    a, b = ev.alias("a"), ev.alias("b")
    exact = (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .withColumn("_c_raw", cosine(F.col("a._v"), F.col("b._v")))
        # gate on the ROUNDED cosine like the oracle and the audited
        # operator — all three sides must share ONE convention (the
        # r06 review finding was about a one-sided mismatch, not about
        # rounding itself). r09 moved the convention to rounded-compare
        # everywhere: the θ gate in semantic_dedup_pairs now rounds
        # before comparing so knife-edge admissions cannot depend on
        # the fold-vs-Arrow dot path, and this exact leg + Q109_SQL
        # gate round(sim, 6) ≥ θ in lockstep.
        .withColumn("_ce", F.round(F.col("_c_raw"), 6))
        .filter(F.col("_ce") >= 0.45)
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), "_ce"
        )
    )
    rep = semantic_dedup_pairs(
        e, "vec_id", "embedding", threshold=0.45, k=8, train_iters=3
    ).select("id_a", "id_b", F.col("cosine_sim").alias("_cr"))
    j = exact.join(rep, ["id_a", "id_b"], "full_outer")
    matched = F.count(F.when(F.col("_ce").isNotNull() & F.col("_cr").isNotNull(), 1))
    return j.agg(
        F.count("_ce").cast("long").alias("n_exact_pairs"),
        F.coalesce(
            F.bool_and(
                F.col("_ce").isNotNull()
                & (F.abs(F.col("_cr") - F.col("_ce")) <= F.lit(1e-6))
                | F.col("_cr").isNull()
            ),
            F.lit(True),
        ).alias("precision_exact"),
        F.coalesce(matched / F.count("_ce") >= 0.2, F.lit(True)).alias(
            "recall_ge_02"
        ),
    )


Q109_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       true AS precision_exact,
       true AS recall_ge_02
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
"""


def q110_winnow_guarantee_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row verifying the WINNOWING THEOREM end-to-end (Schleimer et
    al., SIGMOD'03): with k=3, w=4, any two documents sharing a verbatim
    run of ≥ w+k-1 = 6 tokens MUST share at least one fingerprint. The
    oracle recomputes the pairs sharing a distinct 6-token gram (pure
    SQL) and the audit asserts (a) every such pair appears in the
    fingerprint-overlap output — the guarantee — and (b) every
    fingerprint-overlap pair shares an exact distinct 3-gram — the
    soundness direction (a fingerprint IS a 3-gram hash). Both are
    theorems, not tuned bounds, so the booleans are stable at every SF
    (verified at sf0.001/0.01/0.1); a windowing/selection bug in
    winnow_of breaks one of them. The in-engine 6-gram/3-gram legs are
    audit-scale inverted-index joins (the q34 shape)."""
    from citibike_analysis_spark.functions.text import shingles_of, tokens

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(F.col("doc_id").alias("_id"), tokens(F.col("text")).alias("_tk"))

    def sharing(n: int) -> DataFrame:
        inv = tk.select(
            "_id", F.explode(shingles_of(F.col("_tk"), n)).alias("_s")
        ).select("_id", F.xxhash64("_s").alias("_h"))
        a, b = inv.alias("a"), inv.alias("b")
        return (
            a.join(
                b,
                (F.col("a._h") == F.col("b._h")) & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .distinct()
        )

    rep = winnow_overlap_pairs(docs, "doc_id", "text", k=3, w=4, min_shared=1).select(
        "id_a", "id_b"
    )
    g = sharing(6).join(rep.withColumn("_r", F.lit(1)), ["id_a", "id_b"], "left")
    guarantee = g.agg(
        F.count("*").cast("long").alias("n_pairs_sharing_6gram"),
        F.coalesce(F.bool_and(F.col("_r").isNotNull()), F.lit(True)).alias(
            "guarantee_ok"
        ),
    )
    s = rep.join(
        sharing(3).withColumn("_e", F.lit(1)), ["id_a", "id_b"], "left"
    )
    subset = s.agg(
        F.coalesce(F.bool_and(F.col("_e").isNotNull()), F.lit(True)).alias(
            "subset_ok"
        )
    )
    return guarantee.join(F.broadcast(subset))


Q110_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[t.i : t.i + 5], ' ') AS s
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 5, 0))) AS t(i)
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs_sharing_6gram,
       true AS guarantee_ok,
       true AS subset_ok
FROM (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
) pairs
"""


def q111_pca_variance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row auditing the PCA projection (q82's parameterization)
    against SQL-recomputable statistics: the corpus TOTAL variance
    (Σ per-dimension var_pop — computed here by plain SQL aggregation,
    NOT the numpy moment path, so the two implementations cross-check;
    the oracle recomputes it in DuckDB) plus two booleans on the
    variance captured by the 4 projected components:

    - ``captured_ge_isotropic``: captured/total ≥ 4/64 — a THEOREM, not
      a tuned bound (the mean of the 4 largest eigenvalues is ≥ the
      mean of all 64, so their sum is ≥ 4·total/64); measured
      0.08-0.11 on this corpus.
    - ``captured_le_total``: captured cannot exceed total (orthonormal
      projection); a sign/normalization bug in the eigenvector path
      breaks it.

    Float-parity note (r04 review): ``total_variance`` is the one float
    aggregate among the audit emissions — a partition-order-dependent
    sum rounded to 4 decimals on both engines. That is safe HERE
    because the value's distance to the nearest rounding boundary was
    measured at 0.37-0.47 of a step at every SF (vs ~1e-9-step
    cross-engine divergence); a new dataset should re-check that margin
    or emit counts/booleans only (the q01 exact-rounding machinery does
    not apply: variance of float data has no exact integer form).
    """
    from citibike_analysis_spark.operators.decomposition import pca_project

    e = load_table(spark, sf_dir, "embeddings")
    tot = (
        e.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "_x"
            )
        )
        .groupBy("pos")
        .agg(F.var_pop("_x").alias("_v"))
        .agg(
            F.round(F.sum("_v"), 4).alias("total_variance"),
            F.sum("_v").alias("_tot"),
        )
    )
    proj = pca_project(e, "vec_id", "embedding", n_components=4)
    cap = proj.select(
        *[F.col("pcs")[i].alias(f"_p{i}") for i in range(4)]
    ).agg(
        sum([F.var_pop(f"_p{i}") for i in range(4)], F.lit(0.0)).alias("_cap")
    )
    return (
        tot.join(F.broadcast(cap))
        .select(
            "total_variance",
            (F.col("_cap") / F.col("_tot") >= F.lit(4.0 / 64.0)).alias(
                "captured_ge_isotropic"
            ),
            (F.col("_cap") <= F.col("_tot") * F.lit(1.0 + 1e-9)).alias(
                "captured_le_total"
            ),
        )
    )


Q111_SQL = """
WITH e AS (
  SELECT embedding::DOUBLE[] AS v FROM embeddings
), comp AS (
  SELECT i.i AS pos, var_pop(v[i.i]) AS vv
  FROM e, generate_series(1, 64) AS i(i)
  GROUP BY 1
)
SELECT round(sum(vv), 4) AS total_variance,
       true AS captured_ge_isotropic,
       true AS captured_le_total
FROM comp
"""


def q112_simhash_identity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row verifying the SimHash IDENTITY theorem (q37's
    parameterization): byte-identical documents have identical
    signatures, hence hamming distance 0 ≤ max_hamming — every
    identical-text pair MUST appear in the simhash output. The synthetic
    corpus has no exact duplicates below sf0.1, so (the q39 re-ingest
    device) the audit runs over the corpus unioned with a copy of
    itself under offset ids: the oracle counts the identical-text pairs
    of that doubled corpus in SQL, and the boolean asserts all of them
    are reported. Probabilistic near-dup recall at hamming ≤ 8 remains
    pytest territory (no theorem exists); this pins the degenerate case
    every fingerprinting scheme must get right, plus the banding/
    signature plumbing end-to-end."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reingested = d.withColumn("doc_id", F.col("doc_id") + F.lit(_REINGEST_OFFSET))
    corpus = d.unionByName(reingested)
    rep = simhash_near_pairs(corpus, "doc_id", "text", max_hamming=8).select(
        "id_a", "id_b"
    )
    h = corpus.select("doc_id", F.md5("text").alias("_h"))
    a, b = h.alias("a"), h.alias("b")
    ident = (
        a.join(
            b,
            (F.col("a._h") == F.col("b._h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    j = ident.join(rep.withColumn("_r", F.lit(1)), ["id_a", "id_b"], "left")
    return j.agg(
        F.count("*").cast("long").alias("n_identical_pairs"),
        F.coalesce(F.bool_and(F.col("_r").isNotNull()), F.lit(True)).alias(
            "identical_pairs_reported"
        ),
    )


Q112_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
), d AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + {_REINGEST_OFFSET} AS doc_id, text FROM base
), h AS (
  SELECT doc_id, md5(text) AS hh FROM d
)
SELECT CAST(count(*) AS BIGINT) AS n_identical_pairs,
       true AS identical_pairs_reported
FROM h a JOIN h b ON a.hh = b.hh AND a.doc_id < b.doc_id
"""


# --------------------------------------------------------------------------
# q114 — k-means correctness audit (r04 VERDICT #2): the one remaining
# rows-only operator family (q76) gains a driver-hash-green bound audit
# like q106-q112. Emits the exact assignment row count (the oracle
# states count(*) — every vector assigned exactly once) plus three
# booleans: assignment-is-argmax vs an independent plain-cosine
# recompute over all trained centroids, emitted-cosine-matches-
# recompute, and per-iteration objective monotonicity (measured stable
# at every SF with the deterministic init; see kmeans_audit's
# docstring for why it is pinned-measured, not claimed as a theorem).
# Parameters match the q76 registration (k=8, 3 Lloyd iterations).
# --------------------------------------------------------------------------

def q114_kmeans_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.similarity import kmeans_audit

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_audit(e, "vec_id", "embedding", k=8, train_iters=3)


Q114_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       true AS assignments_are_argmax,
       true AS cosine_matches_recompute,
       true AS objective_nondecreasing
FROM embeddings
"""


# --------------------------------------------------------------------------
# q40 — scalable ntile (approx-quantile bucketing; SURVEY.md §7 "scale
# redesign of global windows"), registered as its DIVERGENCE AUDIT so
# the driver can hash-verify it (r03 VERDICT #3): per exact TIES-HIGH
# decile, the supplier count plus a boolean asserting every supplier's
# approx bucket is within 1 of its exact bucket. The exact reference is
# ceil(10·rank_hi/N) computed in INTEGER rank space — the same
# convention approx_ntile documents (a tie run lands wholly in its
# highest bucket), so the ±1 bound is tie-robust at every SF (exact
# ntile would split tie runs positionally and let a wide run eat the
# tolerance — the q56 lesson, r04 review) and immune to the
# ceil(cume_dist·10) float overshoot at exact k/N boundaries. The
# oracle recomputes the same integer expression and states the expected
# invariant (`true`) — a divergence regression or a broken bucketing
# hash-mismatches.
#
# Scale note: the approx_ntile leg is the 100 TB plan (no global sort);
# the ranked exact leg is the AUDIT side and windows one row per
# supplier — dimension-sized, the same bounded-cardinality class as
# q90's vocab rank. The pure scalable bucketing without the audit join
# remains `approx_ntile` itself (benched via q56's scalable-picks
# sibling).
# --------------------------------------------------------------------------

def q40_approx_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.cache import track

    li = load_table(spark, sf_dir, "lineitem")
    # per_supp feeds three plan branches (the exact cume-dist window,
    # percentile_approx's cutoff pass, the bucket-assignment join) —
    # persist so the lineitem scan + groupBy shuffle runs once, not
    # three times (r04 review); tracked for scope-level release
    per_supp = track(
        li.groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .persist()
    )
    n = F.count("*").over(Window.partitionBy())
    hi = F.count("*").over(
        Window.orderBy("total_qty").rangeBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    ex = per_supp.withColumn(
        "decile", F.floor((hi * 10 + n - 1) / n).cast("long")
    )
    ap = approx_ntile(per_supp, "total_qty", 10, "_b").select("l_suppkey", "_b")
    return (
        ex.join(ap, "l_suppkey")
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_suppliers"),
            (F.max(F.abs(F.col("decile") - F.col("_b"))) <= 1).alias(
                "divergence_le_1"
            ),
        )
    )


Q40_SQL = """
WITH per_supp AS (
  SELECT l_suppkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT count(*) OVER (ORDER BY total_qty RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
         count(*) OVER () AS n
  FROM per_supp
)
SELECT CAST((hi * 10 + n - 1) // n AS BIGINT) AS decile,
       count(*) AS n_suppliers,
       true AS divergence_le_1
FROM ranked GROUP BY 1
"""


# --------------------------------------------------------------------------
# q44 — LSH-bucketed approximate top-k (the ANN scale path; q38 is its
# exact baseline). Approximate by construction → no oracle; pytest bounds
# recall against brute force (tests/test_operators.py lsh recall test).
# --------------------------------------------------------------------------

def q44_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    out = lsh_topk(e, queries, "vec_id", "embedding", k=5, bits=6, tables=8)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine_sim", 6).alias("cosine_sim"),
        "rk",
    )


# --------------------------------------------------------------------------
# q60 — normalized exact dedup: canonicalize (case/punct/whitespace)
# then hash-group — catches the "same doc, different formatting" class
# that byte-exact q30 misses and near-dup shingling overkills.
# --------------------------------------------------------------------------

def q60_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.functions.text import normalize_text

    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(normalize_text(F.col("text"))).alias("norm_hash"))
        .agg(
            F.min("doc_id").cast("long").alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


Q60_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash,
       CAST(min(doc_id) AS BIGINT) AS canonical_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q59 — document quality FILTER (the Gopher-rules shape): the q32
# signals turned into the keep/drop gate a training pipeline actually
# runs, with a reason code for drop-rate auditing. Pure column
# expressions → full oracle.
# --------------------------------------------------------------------------

def q59_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.functions.text import stopword_hits_tokens

    d = load_table(spark, sf_dir, "documents")
    # named token projection + named reason column (review finding):
    # the inline form re-tokenized per referencing lambda AND evaluated
    # the whole reason CASE twice (once for reason, once for keep)
    tk = d.select("doc_id", F.col("text"), tokens(F.col("text")).alias("_tk"))
    n_tok = F.size("_tk").cast("long")
    avg_len = F.aggregate(
        F.transform(F.col("_tk"), lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda a, b: a + b,
    ) / F.greatest(n_tok, F.lit(1))
    sw_ratio = stopword_hits_tokens(F.col("_tk")) / F.greatest(n_tok, F.lit(1))
    reason = (
        F.when(n_tok < 10, "too_short")
        .when(n_tok > 1000, "too_long")
        .when((avg_len < 2.0) | (avg_len > 12.0), "token_shape")
        .when(punct_ratio(F.col("text")) > 0.3, "too_much_punct")
        .when(sw_ratio < 0.01, "no_stopwords")
        .otherwise("keep")
    )
    return tk.select(
        "doc_id", n_tok.alias("n_tokens"), reason.alias("reason")
    ).withColumn("keep", F.col("reason") == "keep")


Q59_SQL = f"""
WITH base AS (
  SELECT doc_id, text, {_DUCK_TOKENS} AS tk FROM documents
), sig AS (
  SELECT doc_id,
         CAST(len(tk) AS BIGINT) AS n_tok,
         list_sum(list_transform(tk, t -> CAST(length(t) AS DOUBLE)))
             / greatest(len(tk), 1) AS avg_len,
         CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS pr,
         CAST(len(list_filter(tk, t -> t IN ({_SW}))) AS DOUBLE)
             / greatest(len(tk), 1) AS swr
  FROM base
)
SELECT doc_id, n_tok AS n_tokens,
       CASE WHEN n_tok < 10 THEN 'too_short'
            WHEN n_tok > 1000 THEN 'too_long'
            WHEN avg_len < 2.0 OR avg_len > 12.0 THEN 'token_shape'
            WHEN pr > 0.3 THEN 'too_much_punct'
            WHEN swr < 0.01 THEN 'no_stopwords'
            ELSE 'keep' END AS reason,
       (CASE WHEN n_tok < 10 THEN 'too_short'
            WHEN n_tok > 1000 THEN 'too_long'
            WHEN avg_len < 2.0 OR avg_len > 12.0 THEN 'token_shape'
            WHEN pr > 0.3 THEN 'too_much_punct'
            WHEN swr < 0.01 THEN 'no_stopwords'
            ELSE 'keep' END) = 'keep' AS keep
FROM sig
"""


# --------------------------------------------------------------------------
# q55 — BPE-style token counting (the LLM-token-budget estimator; the
# whitespace count q31 underestimates on punctuation-heavy text). The
# pattern is restricted to the Java-regex ∩ RE2 subset so Spark and
# DuckDB tokenize identically (functions.text.BPE_ISH_PATTERN).
# --------------------------------------------------------------------------

def q55_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.functions.text import bpe_ish_token_count

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        token_count(F.col("text")).alias("n_ws_tokens"),
    )


Q55_SQL = f"""
SELECT doc_id,
       CAST(len(list_filter(
           regexp_extract_all(text, '{{pat}}'),
           t -> trim(t) <> ''
       )) AS BIGINT) AS n_bpe_tokens,
       CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_ws_tokens
FROM documents
"""


def _q55_sql() -> str:
    from citibike_analysis_spark.functions.text import BPE_ISH_PATTERN

    return Q55_SQL.replace("{pat}", BPE_ISH_PATTERN.replace("'", "''"))


# --------------------------------------------------------------------------
# q50 — winnowing (rolling-hash) fingerprint overlap pairs. xxhash64-based
# like MinHash/SimHash → no SQL oracle; pytest pins the w+k-1 shared-span
# guarantee and agreement with shingle-Jaccard on strong near-dups.
# --------------------------------------------------------------------------

def q50_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return winnow_overlap_pairs(d, "doc_id", "text", k=3, w=4, min_shared=3)


# --------------------------------------------------------------------------
# q49 — IVF approximate top-k (clustering-based ANN; the other scale
# path beside sign-LSH q44). Approximate + iterative → no oracle; pytest
# bounds recall against the exact q38 baseline.
# --------------------------------------------------------------------------

def q49_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    out = ivf_topk(e, queries, "vec_id", "embedding", k=5, nlist=16, nprobe=6)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine_sim", 6).alias("cosine_sim"),
        "rk",
    )


# --------------------------------------------------------------------------
# q45 — multimodal feature extraction plumbing (SURVEY.md §7 "multimodal
# columns"). Documents' text bytes stand in for media payloads; the
# mapInPandas Arrow path (schema, batching, payload-dropping output) is
# the real engine surface, the decode kernel is the deterministic test
# stand-in. The byte-level outputs (length, sha256) ARE oracle-checkable;
# the 8-dim feature vector is pytest-verified (tests/test_operators.py).
# --------------------------------------------------------------------------

def q45_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.multimodal import (
        extract_features,
        fake_decode_image,
    )

    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("content_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = extract_features(media, decode=fake_decode_image)
    return feats.select("content_id", "n_bytes", "payload_sha")


Q45_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS content_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha
FROM documents
"""


# --------------------------------------------------------------------------
# q46 — dedup clustering: transitive closure of near-dup pairs into
# canonical clusters (operators/graph.py connected components). The
# oracle recomputes the same pairs and closes them with a recursive CTE —
# a full value-level check even though the Spark side is iterative.
#
# The pair source is the DF-CAPPED inverted index (the q61 form, cap
# mirrored in the oracle): the r03 two-point rehearsal measured the
# uncapped join's candidates growing x95 for x10 docs while CC itself
# stays flat (~2-3 s at both scales over banded pairs) — a registered
# clustering query whose input is the uncapped join would inherit that
# blowup, so the capped index IS the declared form at every scale.
# --------------------------------------------------------------------------

_Q61_MAX_DF = 25


def q46_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=_Q61_MAX_DF
    )
    return dedup_clusters(d, "doc_id", pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


Q46_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[t.i : t.i + 2], ' ') AS s
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), ok AS (
  SELECT s FROM sh GROUP BY s HAVING count(*) <= {_Q61_MAX_DF}
), shj AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN ok USING (s)
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM shj a JOIN shj b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes na ON id_a = na.doc_id
  JOIN sizes nb ON id_b = nb.doc_id
  WHERE c / (na.n + nb.n - c) >= 0.5
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), labeled AS (
  SELECT d.doc_id,
         CAST(least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS BIGINT) AS canonical_id
  FROM documents d
  LEFT JOIN reach r ON d.doc_id = r.a
  GROUP BY d.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       canonical_id,
       count(*) OVER (PARTITION BY canonical_id) AS cluster_size
FROM labeled
"""


# --------------------------------------------------------------------------
# q61 — n-gram Jaccard with the document-frequency cap engaged: the
# 100 TB form of q34 (ubiquitous-shingle fan-out bounded, VERDICT r1
# #3). The oracle replicates the cap exactly — index keys with df >
# MAX_DF are dropped from the JOIN side while set sizes stay full — so
# this is hash-verified, not a weaker rows-only check. (_Q61_MAX_DF is
# defined above q46, which shares the capped index as its pair source.)
# --------------------------------------------------------------------------


def q61_capped_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=_Q61_MAX_DF
    )


Q61_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[t.i : t.i + 2], ' ') AS s
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), ok AS (
  SELECT s FROM sh GROUP BY s HAVING count(*) <= {_Q61_MAX_DF}
), shj AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN ok USING (s)
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM shj a JOIN shj b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(c / (na.n + nb.n - c), 6) AS jaccard
FROM inter
JOIN sizes na ON id_a = na.doc_id
JOIN sizes nb ON id_b = nb.doc_id
WHERE c / (na.n + nb.n - c) >= 0.5
"""


# --------------------------------------------------------------------------
# q62 — dedup clustering over the df-capped Jaccard pairs, kept under its
# registered name: same output contract and recursive-CTE oracle as q46,
# and the same shared graph.connected_components operator.
# --------------------------------------------------------------------------

def q62_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=_Q61_MAX_DF
    )
    return dedup_clusters(d, "doc_id", pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


# --------------------------------------------------------------------------
# q63 — benchmark decontamination: flag corpus documents sharing any
# word 5-gram with the held-out benchmark slice (source = 'src0' stands
# in for an eval set). The standard pre-training contamination audit.
# --------------------------------------------------------------------------

_Q63_N = 5
_Q63_BENCH_SOURCE = "src0"


def q63_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.dedup import contamination_flags

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != _Q63_BENCH_SOURCE)
    bench = d.filter(F.col("source") == _Q63_BENCH_SOURCE)
    return contamination_flags(corpus, bench, "doc_id", "text", n=_Q63_N)


Q63_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {_DUCK_TOKENS} AS tk FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(tk[t.i : t.i + {_Q63_N - 1}], ' ') AS s
  FROM toks,
       unnest(generate_series(1, greatest(len(tk) - {_Q63_N - 1}, 0))) AS t(i)
), bench AS (
  SELECT DISTINCT s FROM grams WHERE source = '{_Q63_BENCH_SOURCE}'
), hits AS (
  SELECT g.doc_id, count(*) AS c
  FROM grams g JOIN bench b ON g.s = b.s
  WHERE g.source <> '{_Q63_BENCH_SOURCE}'
  GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(h.c, 0) AS BIGINT) AS n_shared,
       coalesce(h.c, 0) > 0 AS contaminated
FROM documents d
LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.source <> '{_Q63_BENCH_SOURCE}'
"""


# --------------------------------------------------------------------------
# q133 — BLOOM-GATED decontamination (r08): q63's exact semantics with
# the 100 TB shape — the benchmark's gram set compresses to a
# 16-bit-per-item Bloom bitmap broadcast as ONE array row; corpus grams
# are gated by a map-side whole-stage-codegen bit test (no join, no
# shuffle) and only the bloom-positive slice (FPP ≈ 2e-3) reaches the
# exact hash join that removes false positives. Output is EQUAL to the
# exact operator (false negatives impossible), so the oracle is q63's
# verbatim. See operators/dedup.py::contamination_flags_bloom for the
# sizing contract (bitmap ∝ eval-set grams, never corpus size).
# --------------------------------------------------------------------------


def q133_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.dedup import contamination_flags_bloom

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != _Q63_BENCH_SOURCE)
    bench = d.filter(F.col("source") == _Q63_BENCH_SOURCE)
    return contamination_flags_bloom(corpus, bench, "doc_id", "text", n=_Q63_N)


# --------------------------------------------------------------------------
# q64 — repetition scoring (the Gopher-rules repetition family):
# duplicate-token fraction and most-common-bigram fraction per document.
# Token counts are columnar; the bigram mode goes through explode +
# two-level aggregation (the scalable shape — no per-row O(n²) scan).
# --------------------------------------------------------------------------

def q64_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.functions.text import ngrams_of

    d = load_table(spark, sf_dir, "documents")
    tk = d.select(F.col("doc_id").alias("_id"), tokens(F.col("text")).alias("_tk"))
    base = tk.select(
        "_id",
        F.size("_tk").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("_tk")).cast("long").alias("n_distinct"),
    )
    grams = tk.select("_id", F.explode(ngrams_of(F.col("_tk"), 2)).alias("_g"))
    mode = (
        grams.groupBy("_id", "_g")
        .agg(F.count("*").alias("_c"))
        .groupBy("_id")
        .agg(F.max("_c").alias("_mx"), F.sum("_c").alias("_tot"))
    )
    return (
        base.join(mode, "_id", "left")
        .select(
            F.col("_id").cast("long").alias("doc_id"),
            "n_tokens",
            "n_distinct",
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    1.0 - F.col("n_distinct") / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_token_frac"),
            F.round(
                F.coalesce(F.col("_mx") / F.col("_tot"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
        )
    )


Q64_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), base AS (
  SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct
  FROM toks
), grams AS (
  SELECT doc_id, array_to_string(tk[t.i : t.i + 1], ' ') AS g
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS t(i)
), counts AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
), mode AS (
  SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM counts GROUP BY 1
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(b.n_distinct AS BIGINT) AS n_distinct,
       round(CASE WHEN b.n_tokens > 0
                  THEN 1.0 - b.n_distinct / CAST(b.n_tokens AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_token_frac,
       round(coalesce(m.mx / CAST(m.tot AS DOUBLE), 0.0), 6) AS top_bigram_frac
FROM base b LEFT JOIN mode m ON b.doc_id = m.doc_id
"""


# --------------------------------------------------------------------------
# q65 — deterministic stratified sampling: ~25% of each (lang, source)
# stratum by md5-threshold on the row identity. Stable under
# repartitioning/retries (unlike df.sample) and portable — the oracle
# replays the identical md5 cut.
# --------------------------------------------------------------------------

_Q65_FRACTION = 0.25  # threshold '4000'


def q65_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        d, "doc_id", _Q65_FRACTION, strata_cols=["lang", "source"]
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "lang", "source")


Q65_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source
FROM documents
WHERE substr(md5(concat_ws('|', lang, source, doc_id)), 1, 4) < '4000'
"""


# --------------------------------------------------------------------------
# q66 — weighted corpus mixture: per-language keep fractions (keep half
# of en, an eighth of everything else) — the source-reweighting step of
# corpus construction. Same portable md5 threshold as q65, CASE'd per
# stratum; still a pure narrow filter.
# --------------------------------------------------------------------------

def q66_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.sampling import weighted_mixture

    d = load_table(spark, sf_dir, "documents")
    return weighted_mixture(
        d, "doc_id", "lang", {"en": 0.5}, default_fraction=0.125
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


Q66_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM documents
WHERE substr(md5(concat_ws('|', lang, doc_id)), 1, 4)
      < CASE WHEN lang = 'en' THEN '8000' ELSE '2000' END
"""


# --------------------------------------------------------------------------
# q67 — token-budget selection: per source, keep the longest documents
# while the running token total stays within budget ("best N tokens per
# source" mixing). One sort+window pass per group; deterministic
# tie-break on doc_id.
# --------------------------------------------------------------------------

_Q67_BUDGET = 2000


def q67_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.windows import budget_select

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    out = budget_select(
        d,
        ["source"],
        [F.desc("n_tokens"), F.asc("doc_id")],
        "n_tokens",
        _Q67_BUDGET,
        out="cum_tokens",
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


Q67_SQL = f"""
WITH t AS (
  SELECT doc_id, source, len({_DUCK_TOKENS}) AS n_tokens FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY source ORDER BY n_tokens DESC, doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum_tokens
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= {_Q67_BUDGET}
"""


# --------------------------------------------------------------------------
# q68 — corpus-relative quality: per-document mean unigram log-likelihood
# under the corpus's own token distribution (rare-token/gibberish
# detector — the quality signal columnar per-doc features can't see).
# --------------------------------------------------------------------------

def q68_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.corpus_stats import unigram_logprob

    return unigram_logprob(load_table(spark, sf_dir, "documents"), "doc_id", "text")


Q68_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), tkx AS (
  SELECT doc_id, unnest(tk) AS t FROM toks
), freq AS (
  SELECT t, count(*) AS c FROM tkx GROUP BY 1
), tot AS (
  SELECT sum(c) AS n FROM freq
), scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         avg(ln(c / CAST(n AS DOUBLE))) AS avg_logp
  FROM tkx JOIN freq USING (t) CROSS JOIN tot
  GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       round(s.avg_logp, 6) AS avg_logp
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


# --------------------------------------------------------------------------
# q69 — TF-IDF top-k keywords per document (tf × ln(N/df), deterministic
# token tie-break): corpus-relative salience, WindowGroupLimit shape.
# --------------------------------------------------------------------------

def q69_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.corpus_stats import tfidf_topk

    return tfidf_topk(load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3)


Q69_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), tkx AS (
  SELECT doc_id, unnest(tk) AS t FROM toks
), tf AS (
  SELECT doc_id, t, count(*) AS tf FROM tkx GROUP BY 1, 2
), docfreq AS (
  SELECT t, count(*) AS df FROM tf GROUP BY 1
), nd AS (
  SELECT count(*) AS n FROM documents
), scored AS (
  SELECT doc_id, t, tf * ln(n / CAST(df AS DOUBLE)) AS score
  FROM tf JOIN docfreq USING (t) CROSS JOIN nd
), ranked AS (
  SELECT doc_id, t, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, t) AS rk
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, t AS token,
       round(score, 6) AS score, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
"""


# --------------------------------------------------------------------------
# q70 — the MATERIALIZED deduped corpus: near-dup clusters (q46) reduced
# to canonical documents only — the row set a training run would
# actually read. Composes dedup_clusters with the keep-one-copy filter.
# --------------------------------------------------------------------------

def q70_deduped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    # df-capped like q46 — the oracle (derived from Q46_SQL) caps the
    # inverted index at df<=_Q61_MAX_DF, and the uncapped form diverges
    # the moment any shingle's df exceeds the cap (sf0.1's max df is
    # exactly 25 — review finding) besides re-inheriting the measured
    # x95 candidate blowup the cap exists to bound
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=_Q61_MAX_DF
    )
    clusters = dedup_clusters(d, "doc_id", pairs)
    kept = clusters.filter(F.col("doc_id") == F.col("canonical_id"))
    return (
        d.join(kept.select("doc_id", "cluster_size"), "doc_id")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            "source",
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


Q70_SQL = (
    Q46_SQL.rstrip()
    .replace(
        "SELECT CAST(doc_id AS BIGINT) AS doc_id,\n"
        "       canonical_id,\n"
        "       count(*) OVER (PARTITION BY canonical_id) AS cluster_size\n"
        "FROM labeled",
        "SELECT CAST(l.doc_id AS BIGINT) AS doc_id, d.lang, d.source,\n"
        "       CAST(sz.cluster_size AS BIGINT) AS cluster_size\n"
        "FROM labeled l\n"
        "JOIN (SELECT canonical_id, count(*) AS cluster_size FROM labeled GROUP BY 1) sz\n"
        "  ON l.canonical_id = sz.canonical_id\n"
        "JOIN documents d ON l.doc_id = d.doc_id\n"
        "WHERE l.doc_id = l.canonical_id",
    )
)


# --------------------------------------------------------------------------
# q71 — corpus-percentile quality gate: drop the bottom decile by the
# q68 corpus-LM score. Re-registered r07 (epoch bump) with the cut on
# `percentile_approx` — the DECLARED 100 TB form (SCALE.md swap rule):
# Greenwald–Khanna sketch, partial-aggregable, O(accuracy·log n) state
# per partition — replacing the exact `percentile()` whose value→count
# map merges at a single reducer. The gate itself is unchanged: one
# broadcast cut row, narrow filter. Oracle parity is ELEMENT-EXACT in
# the exact regime (n < accuracy ⇒ rank error ⌊n/acc⌋ = 0 ⇒ the sketch
# returns the order statistic at rank ⌈p·n⌉, which is precisely
# DuckDB/Postgres `quantile_disc`; convention pinned by
# tests/test_properties.py::test_percentile_approx_exact_regime_is_disc).
# The guard below fail-fasts if a fixture ever leaves that regime so a
# pruned sketch surfaces as a named assumption, not an opaque hash
# mismatch (the q121 lesson). Production corpora run the SAME plan past
# the exact regime — there the q118 divergence audit (rank interval +
# kept-set bound vs the exact cut) is the correctness statement, not
# element parity. The exact interpolated form stays executed inside
# q118's audit leg.
# --------------------------------------------------------------------------

def _parity_guard_violation(msg: str) -> None:
    """Raise (default) or warn (``SPARK_GRAFT_PARITY_GUARDS=0``) on an
    exact-regime parity-precondition violation.

    r08 ADVICE: q71/q116's fail-fast was unconditional, so the
    registered production plan could not execute past fixture scale
    without editing code. Fixture / oracle runs keep the fail-fast
    default (a pruned sketch must surface as a named assumption, not an
    opaque hash mismatch); a production run past the exact regime sets
    the env var once and the SAME registered plan executes — there
    q118's divergence audit (rank interval + kept-set bound) is the
    correctness statement, not element parity.
    """
    import os
    import warnings

    if os.environ.get("SPARK_GRAFT_PARITY_GUARDS", "1") != "0":
        raise AssertionError(msg)
    warnings.warn(
        msg + " [demoted to a warning: SPARK_GRAFT_PARITY_GUARDS=0 — "
        "past the exact regime the q118 divergence audit is the "
        "correctness statement, not element parity]",
        RuntimeWarning,
        stacklevel=2,
    )


def q71_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.cache import track
    from citibike_analysis_spark.operators.corpus_stats import unigram_logprob

    d = load_table(spark, sf_dir, "documents")
    # persisted: feeds the 1-row cut aggregate AND the gated output, so
    # the token explode + corpus-LM join runs once (q118's convention)
    scored = track(
        unigram_logprob(d, "doc_id", "text")
        .filter(F.col("avg_logp").isNotNull())
        .persist()
    )
    n, cut = scored.agg(
        F.count("*"),
        F.expr(f"percentile_approx(avg_logp, 0.1, {_Q118_ACC})"),
    ).first()
    if n >= _Q118_ACC:
        _parity_guard_violation(
            "q71 oracle-parity precondition violated: corpus size "
            f"({n}) reached percentile_approx accuracy ({_Q118_ACC}), "
            "so the GK sketch may no longer return the exact rank-"
            "ceil(p*n) element and quantile_disc parity does not hold. "
            "Raise _Q118_ACC for the fixture, or set "
            "SPARK_GRAFT_PARITY_GUARDS=0 for a production run past the "
            "exact regime (q118's divergence audit is the correctness "
            "statement there)."
        )
    return scored.filter(F.col("avg_logp") > F.lit(cut)).select(
        "doc_id", "n_tokens", F.round("avg_logp", 6).alias("avg_logp")
    )


Q71_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), tkx AS (
  SELECT doc_id, unnest(tk) AS t FROM toks
), freq AS (
  SELECT t, count(*) AS c FROM tkx GROUP BY 1
), tot AS (
  SELECT sum(c) AS n FROM freq
), scored AS (
  -- ROUNDED score for both cut and gate, matching the Spark side (which
  -- gates on unigram_logprob's 6-decimal output): gating one side on the
  -- unrounded score drifts the boundary when a rounding bin collides
  -- with the cut (review finding; q116 documents the same convention)
  SELECT doc_id, count(*) AS n_tokens,
         round(avg(ln(c / CAST(n AS DOUBLE))), 6) AS avg_logp
  FROM tkx JOIN freq USING (t) CROSS JOIN tot
  GROUP BY doc_id
), cut AS (
  -- quantile_disc = the rank-ceil(p*n) element = percentile_approx in
  -- the exact regime (guarded Spark-side); quantile_cont was the
  -- pre-r07 exact-interpolated form, now q118's audit leg
  SELECT quantile_disc(avg_logp, 0.1) AS c FROM scored
)
SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       s.avg_logp AS avg_logp
FROM scored s CROSS JOIN cut
WHERE s.avg_logp > cut.c
"""


# --------------------------------------------------------------------------
# q72 — exact heavy-hitter tokens via two-pass Misra–Gries: the sketch
# (pass 1) bounds state on an unbounded token tail; the exact recount
# (pass 2) makes the composed result deterministic, so despite the
# sketch this is hash-verified against a plain count-and-gate oracle.
# --------------------------------------------------------------------------

_Q72_MIN_FRACTION = 0.02


def q72_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.sketches import frequent_tokens

    d = load_table(spark, sf_dir, "documents")
    return frequent_tokens(d, "text", min_fraction=_Q72_MIN_FRACTION)


Q72_SQL = f"""
WITH toks AS (
  SELECT {_DUCK_TOKENS} AS tk FROM documents
), tkx AS (
  SELECT unnest(tk) AS token FROM toks
), tot AS (
  SELECT count(*) AS n FROM tkx
)
SELECT token, count(*) AS n_occurrences,
       round(count(*) / CAST(n AS DOUBLE), 6) AS frequency
FROM tkx CROSS JOIN tot
GROUP BY token, n
-- integer-exact ppm gate, mirroring the operator (float `>= f*n` can
-- exclude a token sitting exactly at the threshold via 1-ulp rounding)
HAVING count(*) * 1000000 >= {int(round(_Q72_MIN_FRACTION * 1_000_000))} * n
"""


# --------------------------------------------------------------------------
# q74 — chunk-level exact span dedup: remove every repeated
# ``chunk_tokens``-token span corpus-wide (keep the first occurrence),
# reassemble documents from their surviving chunks — repeated-span
# cleaning at sub-document granularity.
# --------------------------------------------------------------------------

_Q74_CHUNK = 20


def q74_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.dedup import dedup_chunks

    d = load_table(spark, sf_dir, "documents")
    return dedup_chunks(d, "doc_id", "text", chunk_tokens=_Q74_CHUNK)


Q74_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), chunks AS (
  SELECT doc_id,
         CAST(floor((s.s - 1) / {_Q74_CHUNK}) AS BIGINT) AS idx,
         array_to_string(tk[s.s : s.s + {_Q74_CHUNK - 1}], ' ') AS chunk
  FROM toks, unnest(generate_series(1, len(tk), {_Q74_CHUNK})) AS s(s)
), ranked AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
  FROM chunks
), kept AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY idx) AS deduped_text
  FROM ranked WHERE rn = 1 GROUP BY doc_id
), nch AS (
  SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(n.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(k.deduped_text, '') AS deduped_text
FROM documents d
LEFT JOIN nch n ON d.doc_id = n.doc_id
LEFT JOIN kept k ON d.doc_id = k.doc_id
"""


# --------------------------------------------------------------------------
# q75 — deterministic training shuffle: every document gets a (shard,
# pos) from md5 of its id — the reproducible "shuffle the corpus before
# training" permutation, replayed identically by the oracle.
# --------------------------------------------------------------------------

_Q75_SHARDS = 8


def q75_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.sampling import shuffle_shards

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = shuffle_shards(d, "doc_id", n_shards=_Q75_SHARDS)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("shard").cast("long").alias("shard"),
        "pos",
    )


Q75_SQL = f"""
WITH h AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
), s AS (
  SELECT doc_id, source, hx,
         CAST(('0x' || substr(hx, 1, 4)) AS INT) % {_Q75_SHARDS} AS shard
  FROM h
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT) AS pos
FROM s
"""


# --------------------------------------------------------------------------
# q76 — spherical k-means assignment over embeddings; q77 — SemDeDup
# semantic near-dup pairs (cluster-then-compare). Iterative training is
# not SQL-expressible → no oracle (rows-only driver check); pytest pins
# assignment self-consistency and recall vs the exact all-pairs form.
# --------------------------------------------------------------------------

def q76_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.similarity import kmeans_clusters

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_clusters(e, "vec_id", "embedding", k=8, train_iters=3)


def q77_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.similarity import semantic_dedup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        e, "vec_id", "embedding", threshold=0.45, k=8, train_iters=3
    )


# --------------------------------------------------------------------------
# q78 — int8 quantization audit: per-vector scale + reconstruction MSE.
# Every arithmetic step (abs-max, /127, floor-half-up, squared error,
# sequential sum) is an identical IEEE op sequence in both engines, so
# this hash-matches despite being float-heavy.
# --------------------------------------------------------------------------

def q78_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.similarity import quantization_error

    e = load_table(spark, sf_dir, "embeddings")
    return quantization_error(e, "vec_id", "embedding", bits=8)


Q78_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
  FROM embeddings
), s AS (
  SELECT vec_id, vv,
         list_max(list_transform(vv, x -> abs(x))) / 127 AS scale
  FROM v
), q AS (
  SELECT vec_id, vv, scale,
         CASE WHEN scale > 0
              THEN list_transform(vv, x -> floor(x / scale + 0.5))
              ELSE list_transform(vv, x -> 0.0) END AS qq
  FROM s
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(scale, 9) AS scale,
       round(list_sum(list_transform(vv, (x, i) ->
               (x - qq[i] * scale) * (x - qq[i] * scale)))
             / len(vv), 10) AS mse
FROM q
"""


# --------------------------------------------------------------------------
# q79 — bigram conditional LM score: the order-sensitive perplexity
# proxy (word-salad detector) complementing q68's unigram form.
# --------------------------------------------------------------------------

def q79_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.corpus_stats import bigram_logprob

    return bigram_logprob(load_table(spark, sf_dir, "documents"), "doc_id", "text")


Q79_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), bg AS (
  SELECT doc_id, tk[t.i] AS w1, tk[t.i + 1] AS w2
  FROM toks,
       unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS t(i)
), freq AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2
), ctx AS (
  SELECT w1, sum(c) AS cw1 FROM freq GROUP BY 1
), scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         avg(ln(c / CAST(cw1 AS DOUBLE))) AS avg_logp
  FROM bg JOIN freq USING (w1, w2) JOIN ctx USING (w1)
  GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(s.avg_logp, 6) AS avg_logp
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


# --------------------------------------------------------------------------
# q80 — Unicode-normalized exact dedup: NFC + lowercase via an
# Arrow-batched pandas UDF (the §2.10 seam done for real), hash-matched
# against DuckDB's lower(nfc_normalize()). The ASCII corpus makes the
# sf-level result coincide with q30; the non-trivial parity (composed vs
# decomposed accents, case variants) is pinned in pytest against DuckDB
# on constructed Unicode samples.
# --------------------------------------------------------------------------

def q80_unicode_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.functions.text import nfc_lower

    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(nfc_lower(F.col("text"))).alias("content_hash"))
        .agg(
            F.min("doc_id").cast("long").alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


Q80_SQL = """
SELECT md5(lower(nfc_normalize(text))) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS canonical_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q81 — sequence packing: concatenate each source's documents (doc_id
# order) and cut into fixed 64-token training windows; every document
# reports its offset, window, and span. The "pack then chunk" layout
# step of LLM data prep.
# --------------------------------------------------------------------------

_Q81_WINDOW = 64


def q81_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.windows import pack_offsets

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    out = pack_offsets(d, ["source"], [F.asc("doc_id")], "n_tokens", _Q81_WINDOW)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "offset",
        "window_idx",
        "window_offset",
        "n_windows",
    )


Q81_SQL = f"""
WITH t AS (
  SELECT doc_id, source, len({_DUCK_TOKENS}) AS n_tokens FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING
         ) - n_tokens AS off,
         sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING
         ) AS endx
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(off AS BIGINT) AS offset,
       CAST(floor(off / {_Q81_WINDOW}) AS BIGINT) AS window_idx,
       CAST(off % {_Q81_WINDOW} AS BIGINT) AS window_offset,
       CAST(CASE WHEN n_tokens <= 0 THEN 0
                 ELSE floor((endx - 1) / {_Q81_WINDOW})
                      - floor(off / {_Q81_WINDOW}) + 1 END AS BIGINT) AS n_windows
FROM c
"""


# --------------------------------------------------------------------------
# q82 — distributed PCA projection: moment pass (one row per partition)
# + driver eigh + broadcast projection. The eigenproblem is not
# SQL-expressible → rows-only; numpy parity is pinned in pytest.
# --------------------------------------------------------------------------

def q82_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.decomposition import pca_project

    e = load_table(spark, sf_dir, "embeddings")
    proj = pca_project(e, "vec_id", "embedding", n_components=4)
    # Scalarize the component array for the driver's rows-only check —
    # its pandas canonicalizer cannot sort array cells (r03 crash).
    return proj.select(
        "vec_id", *[F.col("pcs")[i].alias(f"pc{i}") for i in range(4)]
    )


# --------------------------------------------------------------------------
# q83 — PII scrub audit: per-kind counts (independent regex audits on
# the original text) + the sequentially redacted text. The corpus is
# synthetic and PII-free, so every count is 0 and redacted == text at
# sf level — the semantics (pattern parity, precedence, replace-all)
# are pinned in pytest on constructed PII samples; the oracle still
# replays every regex so an engine-side pattern divergence would
# hash-mismatch.
# --------------------------------------------------------------------------

def q83_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.functions.text import pii_counts, redact_pii

    d = load_table(spark, sf_dir, "documents")
    counts = pii_counts(F.col("text"))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        counts["email"].alias("n_emails"),
        counts["ssn"].alias("n_ssns"),
        counts["ipv4"].alias("n_ipv4s"),
        counts["phone"].alias("n_phones"),
        redact_pii(F.col("text")).alias("redacted"),
    )


def _q83_sql() -> str:
    from citibike_analysis_spark.functions.text import PII_PATTERNS

    pats = {name: p for name, p, _ in PII_PATTERNS}
    repl = "text"
    for _, p, placeholder in PII_PATTERNS:
        repl = f"regexp_replace({repl}, '{p}', '{placeholder}', 'g')"
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(regexp_extract_all(text, '{pats["email"]}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{pats["ssn"]}')) AS BIGINT) AS n_ssns,
       CAST(len(regexp_extract_all(text, '{pats["ipv4"]}')) AS BIGINT) AS n_ipv4s,
       CAST(len(regexp_extract_all(text, '{pats["phone"]}')) AS BIGINT) AS n_phones,
       {repl} AS redacted
FROM documents
"""


# --------------------------------------------------------------------------
# q84 — duplicated-n-gram coverage (the Gopher repetition rule q64's
# top-bigram share can't see): the fraction of token POSITIONS covered
# by any within-document trigram that occurs ≥ 2 times in that document.
# --------------------------------------------------------------------------

_Q84_N = 3


def q84_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.functions.text import ngrams_of

    d = load_table(spark, sf_dir, "documents")
    tk = d.select(F.col("doc_id").alias("_id"), tokens(F.col("text")).alias("_tk"))
    base = tk.select("_id", F.size("_tk").cast("long").alias("n_tokens"))
    grams = tk.select(
        "_id", F.posexplode(ngrams_of(F.col("_tk"), _Q84_N)).alias("pos", "_g")
    )
    dup = (
        grams.groupBy("_id", "_g")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= 2)
    )
    covered = (
        grams.join(dup, ["_id", "_g"])
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(_Q84_N - 1))
            ).alias("_tp"),
        )
        .distinct()
        .groupBy("_id")
        .agg(F.count("*").alias("n_covered"))
    )
    return (
        base.join(covered, "_id", "left")
        .select(
            F.col("_id").cast("long").alias("doc_id"),
            "n_tokens",
            F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
            F.round(
                F.coalesce("n_covered", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_coverage"),
        )
    )


Q84_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), base AS (
  SELECT doc_id, len(tk) AS n_tokens FROM toks
), grams AS (
  SELECT doc_id, t.i - 1 AS pos,
         array_to_string(tk[t.i : t.i + {_Q84_N - 1}], ' ') AS g
  FROM toks,
       unnest(generate_series(1, greatest(len(tk) - {_Q84_N - 1}, 0))) AS t(i)
), dup AS (
  SELECT doc_id, g FROM grams GROUP BY 1, 2 HAVING count(*) >= 2
), covered AS (
  SELECT DISTINCT gr.doc_id, p.p AS tp
  FROM grams gr JOIN dup d ON gr.doc_id = d.doc_id AND gr.g = d.g,
       unnest(generate_series(gr.pos, gr.pos + {_Q84_N - 1})) AS p(p)
), cc AS (
  SELECT doc_id, count(*) AS n_covered FROM covered GROUP BY 1
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered,
       round(coalesce(c.n_covered, 0) / CAST(greatest(b.n_tokens, 1) AS DOUBLE), 6)
         AS dup_coverage
FROM base b LEFT JOIN cc c ON b.doc_id = c.doc_id
"""


# --------------------------------------------------------------------------
# q85 — incremental dedup: the daily-crawl-vs-corpus shape. The batch
# (source = 'src0') keeps only documents whose content hash is absent
# from the existing corpus (all other sources) and first-in-batch.
# --------------------------------------------------------------------------

def q85_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.dedup import dedup_against_corpus

    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("source") == "src0").select("doc_id", "text")
    corpus = d.filter(F.col("source") != "src0")
    out = dedup_against_corpus(batch, corpus, "doc_id", "text")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "content_hash")


Q85_SQL = """
WITH corpus_hashes AS (
  SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE source <> 'src0'
), batch AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents WHERE source = 'src0'
), fresh AS (
  SELECT b.doc_id, b.content_hash,
         row_number() OVER (PARTITION BY b.content_hash ORDER BY b.doc_id) AS rn
  FROM batch b ANTI JOIN corpus_hashes c USING (content_hash)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, content_hash
FROM fresh WHERE rn = 1
"""


# --------------------------------------------------------------------------
# q86 — the END-TO-END corpus build, composed from the engine's own
# operators: quality gate → exact dedup (keep first) → benchmark
# decontamination → per-language weighted sampling → sequence packing.
# The output is the training manifest a loader would consume. Every
# stage is individually oracle-checked elsewhere (q59/q30/q63/q66/q81);
# this query pins that the COMPOSITION — where each stage consumes the
# previous stage's survivors, not the raw table — also matches end to
# end.
# --------------------------------------------------------------------------

_Q86_MIN_TOKENS = 10
_Q86_WINDOW = 64


def q86_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.dedup import contamination_flags
    from citibike_analysis_spark.operators.sampling import weighted_mixture
    from citibike_analysis_spark.operators.windows import pack_offsets
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == _Q63_BENCH_SOURCE)
    meta = d.filter(F.col("source") != _Q63_BENCH_SOURCE).select(
        "doc_id", "lang", "source", "text",
        token_count(F.col("text")).alias("n_tokens"),
    )
    gated = meta.filter(F.col("n_tokens") >= _Q86_MIN_TOKENS)
    # Pin the dedup window's exchange width (r14, guide §2.5, the q39
    # pattern): everything downstream of this exchange — the md5 window,
    # the contamination gram pipeline (whose own spread() probe refuses
    # window-output inputs by design), the mixture gate and the packing
    # windows — inherits its partition count, and AQE coalesced the
    # ~1 MiB exchange to ONE partition with no idea the gram stage
    # tokenizes every surviving document downstream. The explicit
    # repartition on the window's own partition key satisfies its
    # required distribution, so it replaces the planner's exchange
    # rather than adding one. A/B: 1.66 → 1.37 s (−17%); spreading the
    # SCAN instead was measured at +64% (four sibling branches re-read
    # the scan and each paid the full-text exchange).
    gated = gated.repartition(
        spark.sparkContext.defaultParallelism, F.md5(F.col("text"))
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    deduped = (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    flags = contamination_flags(deduped, bench, "doc_id", "text", n=_Q63_N)
    clean = deduped.join(
        flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    sampled = weighted_mixture(
        clean, "doc_id", "lang", {"en": 0.5}, default_fraction=0.25
    )
    packed = pack_offsets(
        sampled.select("doc_id", "lang", "source", "n_tokens"),
        ["source"],
        [F.asc("doc_id")],
        "n_tokens",
        _Q86_WINDOW,
    )
    return packed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "offset",
        "window_idx",
    )


Q86_SQL = f"""
WITH meta AS (
  SELECT doc_id, lang, source, text,
         len({_DUCK_TOKENS}) AS n_tokens
  FROM documents WHERE source <> '{_Q63_BENCH_SOURCE}'
), gated AS (
  SELECT * FROM meta WHERE n_tokens >= {_Q86_MIN_TOKENS}
), dd AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM gated
), deduped AS (
  SELECT doc_id, lang, source, text, n_tokens FROM dd WHERE rn = 1
), dtoks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM deduped
), cgrams AS (
  SELECT DISTINCT doc_id,
         array_to_string(tk[t.i : t.i + {_Q63_N - 1}], ' ') AS s
  FROM dtoks,
       unnest(generate_series(1, greatest(len(tk) - {_Q63_N - 1}, 0))) AS t(i)
), btoks AS (
  SELECT {_DUCK_TOKENS} AS tk FROM documents WHERE source = '{_Q63_BENCH_SOURCE}'
), bgrams AS (
  SELECT DISTINCT array_to_string(tk[t.i : t.i + {_Q63_N - 1}], ' ') AS s
  FROM btoks,
       unnest(generate_series(1, greatest(len(tk) - {_Q63_N - 1}, 0))) AS t(i)
), contaminated AS (
  SELECT DISTINCT c.doc_id FROM cgrams c JOIN bgrams b ON c.s = b.s
), clean AS (
  SELECT d.* FROM deduped d ANTI JOIN contaminated x USING (doc_id)
), sampled AS (
  SELECT * FROM clean
  WHERE substr(md5(concat_ws('|', lang, doc_id)), 1, 4)
        < CASE WHEN lang = 'en' THEN '8000' ELSE '4000' END
), packed AS (
  SELECT doc_id, lang, source, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING
         ) - n_tokens AS off
  FROM sampled
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(off AS BIGINT) AS offset,
       CAST(floor(off / {_Q86_WINDOW}) AS BIGINT) AS window_idx
FROM packed
"""


# --------------------------------------------------------------------------
# q87 — exactly-k-per-stratum deterministic sample (eval-set holdout);
# q88 — per-source z-score normalization of a quality signal.
# --------------------------------------------------------------------------

_Q87_K = 20


def q87_fixed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.sampling import stratified_fixed_sample

    d = load_table(spark, sf_dir, "documents")
    out = stratified_fixed_sample(d, "doc_id", _Q87_K, strata_cols=["source"])
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "source")


Q87_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(concat_ws('|', source, doc_id)), doc_id
         ) AS rn
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source
FROM ranked WHERE rn <= {_Q87_K}
"""


def q88_zscore_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.corpus_stats import group_zscore

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    out = group_zscore(d, "n_tokens", ["source"])
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "zscore",
    )


Q88_SQL = f"""
WITH t AS (
  SELECT doc_id, source, len({_DUCK_TOKENS}) AS n_tokens FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CASE WHEN stddev_samp(n_tokens) OVER (PARTITION BY source) > 0
                  THEN (n_tokens - avg(n_tokens) OVER (PARTITION BY source))
                       / stddev_samp(n_tokens) OVER (PARTITION BY source)
             END, 6) AS zscore
FROM t
"""


# --------------------------------------------------------------------------
# q89 — tokenizer vocabulary (token → frequency-rank id); q90 — encode
# every document as its token-id sequence under that vocab. Together
# they are the tokenize→encode materialization a trainer consumes.
# --------------------------------------------------------------------------

def q89_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.corpus_stats import build_vocab

    return build_vocab(load_table(spark, sf_dir, "documents"), "text")


Q89_SQL = f"""
WITH toks AS (
  SELECT {_DUCK_TOKENS} AS tk FROM documents
), tkx AS (
  SELECT unnest(tk) AS token FROM toks
), counts AS (
  SELECT token, count(*) AS n_occurrences FROM tkx GROUP BY 1
)
SELECT token, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) - 1 AS BIGINT)
         AS token_id
FROM counts
"""


def q90_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.corpus_stats import (
        build_vocab,
        encode_documents,
    )

    d = load_table(spark, sf_dir, "documents")
    enc = encode_documents(d, "doc_id", "text", build_vocab(d, "text"))
    # The operator's array<long> is the trainer-facing shape; the driver's
    # pandas canonicalizer cannot sort/hash array cells (r03: TypeError
    # unhashable numpy.ndarray), so the REGISTERED query serializes the
    # sequence to one canonical space-joined string. Lossless: token ids
    # are integers, ' ' never occurs in a decimal rendering.
    return enc.select(
        "doc_id",
        "n_tokens",
        F.array_join(F.col("token_ids").cast("array<string>"), " ").alias(
            "token_ids"
        ),
    )


Q90_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), tkx AS (
  SELECT unnest(tk) AS token FROM toks
), counts AS (
  SELECT token, count(*) AS n FROM tkx GROUP BY 1
), vocab AS (
  SELECT token,
         CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS token_id
  FROM counts
), pos AS (
  SELECT doc_id, t.i AS p, tk[t.i] AS token
  FROM toks, unnest(generate_series(1, len(tk))) AS t(i)
), joined AS (
  SELECT pos.doc_id, pos.p, CAST(coalesce(v.token_id, -1) AS BIGINT) AS tid
  FROM pos LEFT JOIN vocab v USING (token)
), enc AS (
  SELECT doc_id, count(*) AS n_tokens, list(tid ORDER BY p) AS token_ids
  FROM joined GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(e.n_tokens, 0) AS BIGINT) AS n_tokens,
       array_to_string(coalesce(e.token_ids, CAST([] AS BIGINT[])), ' ')
         AS token_ids
FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id
"""


# --------------------------------------------------------------------------
# q91 — within-document token entropy (quality signal: low entropy =
# repetitive/templated text, complements q64/q84's explicit repetition
# counts with the information-theoretic form).
# --------------------------------------------------------------------------

def q91_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(F.col("doc_id").alias("_id"), tokens(F.col("text")).alias("_tk"))
    tf = (
        tk.select("_id", F.explode("_tk").alias("_t"))
        .groupBy("_id", "_t")
        .agg(F.count("*").alias("_c"))
    )
    ent = (
        tf.groupBy("_id")
        .agg(
            F.sum("_c").alias("_n"),
            # -Σ c·ln(c) aggregated, then + n·ln(n), all over n:
            # H = ln(n) - Σ c·ln(c)/n  (exact algebra of -Σ p ln p)
            F.sum(F.col("_c") * F.log("_c")).alias("_clc"),
        )
        .select(
            "_id",
            F.col("_n").cast("long").alias("n_tokens"),
            F.round(F.log("_n") - F.col("_clc") / F.col("_n"), 6).alias("entropy"),
        )
    )
    return (
        d.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(ent, F.col("doc_id") == F.col("_id"), "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.col("entropy"),
        )
    )


Q91_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), tf AS (
  SELECT doc_id, t, count(*) AS c
  FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
  GROUP BY 1, 2
), ent AS (
  SELECT doc_id, sum(c) AS n,
         round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
  FROM tf GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(e.n, 0) AS BIGINT) AS n_tokens,
       e.entropy
FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id
"""


# --------------------------------------------------------------------------
# q92 — n-gram CONTAINMENT pairs: the directional quote/subset detector
# (a short document wholly inside a long one scores ~1 here but near 0
# on Jaccard).
# --------------------------------------------------------------------------

def q92_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.dedup import ngram_containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(d, "doc_id", "text", n=3, threshold=0.6)


Q92_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[t.i : t.i + 2], ' ') AS s
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), directed AS (
  SELECT x, y, c FROM inter
  UNION ALL
  SELECT y AS x, x AS y, c FROM inter
)
SELECT CAST(d.x AS BIGINT) AS id_a, CAST(d.y AS BIGINT) AS id_b,
       round(d.c / CAST(s.n AS DOUBLE), 6) AS containment
FROM directed d JOIN sizes s ON d.x = s.doc_id
WHERE d.c / CAST(s.n AS DOUBLE) >= 0.6
"""


# --------------------------------------------------------------------------
# q93 — per-source median/MAD via batch applyInPandas; q94 — per-source
# 10%-trimmed mean via a GROUPED_AGG pandas UDF. The two §2.10 U5
# grouped-Python seams, each hash-matched against an order-statistic
# oracle.
# --------------------------------------------------------------------------

def q93_mad_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.corpus_stats import group_mad

    d = load_table(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).alias("n_tokens")
    )
    return group_mad(d, "n_tokens", ["source"])


Q93_SQL = f"""
WITH t AS (
  SELECT source, len({_DUCK_TOKENS}) AS n_tokens FROM documents
), med AS (
  SELECT source, count(*) AS n, quantile_cont(n_tokens, 0.5) AS m
  FROM t GROUP BY 1
)
SELECT t.source, any_value(med.n) AS n,
       round(any_value(med.m), 6) AS median,
       round(quantile_cont(abs(t.n_tokens - med.m), 0.5), 6) AS mad
FROM t JOIN med ON t.source = med.source
GROUP BY t.source
"""


_Q94_TRIM = 0.1


def q94_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.corpus_stats import trimmed_mean_udaf

    d = load_table(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).alias("n_tokens")
    )
    trimmed = trimmed_mean_udaf(_Q94_TRIM)
    # a GROUPED_AGG pandas UDF cannot share an .agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — counts come from a separate agg
    # joined back on the (tiny) group key set
    tm = d.groupBy("source").agg(
        F.round(trimmed(F.col("n_tokens").cast("double")), 6).alias("trimmed_mean")
    )
    counts = d.groupBy("source").agg(F.count("*").alias("n"))
    return counts.join(tm, "source").select("source", "n", "trimmed_mean")


Q94_SQL = f"""
WITH t AS (
  SELECT source, len({_DUCK_TOKENS}) AS n_tokens FROM documents
), ranked AS (
  SELECT source, n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY n_tokens) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM t
), k AS (
  SELECT source, n_tokens, n,
         least(CAST(floor(n * {_Q94_TRIM}) AS BIGINT),
               greatest((n - 1) // 2, 0)) AS kk, rn
  FROM ranked
)
SELECT source, any_value(n) AS n,
       round(avg(n_tokens) FILTER (WHERE rn > kk AND rn <= n - kk), 6)
         AS trimmed_mean
FROM k GROUP BY source
"""


# --------------------------------------------------------------------------
# q95 — global dense positions without a global sort (the scalable
# zipWithIndex over the training permutation); q96 — model-based quality
# scoring: a broadcast-weights logistic over the columnar q32 features
# (how a fasttext-style filter runs in-engine: features JVM-side, the
# model a handful of broadcast doubles).
# --------------------------------------------------------------------------

def q95_global_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.sampling import global_positions

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    out = global_positions(d, "doc_id", n_shards=8)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("shard").cast("long").alias("shard"),
        "pos",
        "global_pos",
    )


Q95_SQL = """
WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
), s AS (
  SELECT doc_id, hx,
         CAST(('0x' || substr(hx, 1, 4)) AS INT) % 8 AS shard
  FROM h
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT) AS pos,
       CAST(row_number() OVER (ORDER BY shard, hx, doc_id) - 1 AS BIGINT) AS global_pos
FROM s
"""


#: Hand-set logistic weights: (intercept, n_tokens, avg_token_len,
#: stopword_ratio) — stands in for a trained quality model's coefficients.
_Q96_W = (-3.0, 0.08, 0.5, 2.0)


def q96_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.functions.text import stopword_hits_tokens

    d = load_table(spark, sf_dir, "documents")
    # named token projection (review finding; the q33 shape): the
    # inline form re-tokenized per referencing lambda
    tk = d.select("doc_id", tokens(F.col("text")).alias("_tk"))
    n_tok = F.size("_tk").cast("double")
    avg_len = F.aggregate(
        F.transform(F.col("_tk"), lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda a, b: a + b,
    ) / F.greatest(n_tok, F.lit(1.0))
    sw_ratio = stopword_hits_tokens(F.col("_tk")) / F.greatest(n_tok, F.lit(1.0))
    w0, w1, w2, w3 = _Q96_W
    z = F.lit(w0) + F.lit(w1) * n_tok + F.lit(w2) * avg_len + F.lit(w3) * sw_ratio
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return tk.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(score, 6).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


Q96_SQL = f"""
WITH base AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), feat AS (
  SELECT doc_id,
         CAST(len(tk) AS DOUBLE) AS n_tok,
         list_sum(list_transform(tk, t -> CAST(length(t) AS DOUBLE)))
           / greatest(CAST(len(tk) AS DOUBLE), 1.0) AS avg_len,
         CAST(len(list_filter(tk, t -> list_contains([{_SW}], t))) AS DOUBLE)
           / greatest(CAST(len(tk) AS DOUBLE), 1.0) AS swr
  FROM base
), scored AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-({_Q96_W[0]} + {_Q96_W[1]} * n_tok
                            + {_Q96_W[2]} * avg_len + {_Q96_W[3]} * swr))) AS s
  FROM feat
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       round(s, 6) AS quality_score,
       s >= 0.5 AS keep
FROM scored
"""


# --------------------------------------------------------------------------
# q99 — weighted sampling without replacement (Efraimidis–Spirakis):
# length-weighted document draw, k per source — the "sample long
# documents proportionally more" corpus-construction step, fully
# deterministic so the oracle replays the identical draw.
# --------------------------------------------------------------------------

_Q99_K = 10


def q99_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    out = weighted_sample_without_replacement(
        d, "doc_id", "n_tokens", _Q99_K, strata_cols=["source"]
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


Q99_SQL = f"""
WITH t AS (
  SELECT doc_id, source, len({_DUCK_TOKENS}) AS n_tokens FROM documents
), pri AS (
  SELECT doc_id, source, n_tokens,
         ln((CAST(('0x' || substr(md5(concat_ws('|', source, doc_id)), 1, 8)) AS BIGINT)
             + 0.5) / 4294967296.0) / n_tokens AS p
  FROM t WHERE n_tokens > 0
), ranked AS (
  SELECT doc_id, source, n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY p DESC, doc_id) AS rn
  FROM pri
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM ranked WHERE rn <= {_Q99_K}
"""


# --------------------------------------------------------------------------
# q103 — incremental EMBEDDING dedup under its PRODUCTION contract (r04
# VERDICT #1): admit only the batch vectors with no near-duplicate in
# the existing corpus — the per-ingest admission filter of a growing
# training set (embedding dual of q85's text form). The fixture honors
# the operator's own scale contract: a FIXED-size ingest batch against
# a corpus that grows with SF. Corpus = vec_id ≥ 150; batch = the 100
# novel vectors vec_id < 100 PLUS re-ingested copies of the 50 corpus
# vectors vec_id ∈ [150, 200) under offset ids — 150 rows at every SF.
# Parameters are the production defaults (θ=0.9, bits="auto",
# tables=16 — the q39 parameterization): the planted copies are EXACT
# duplicates (every sign bucket matches with probability 1, so they are
# rejected deterministically), and any accidental cross pair at this
# tight θ is in the cos→1 regime where auto-bits recall ≈ 1 (the q39
# hash-green argument) — so the bucketed plan hash-matches the exact
# NOT-EXISTS oracle. The old SF-proportional loose-banding fixture is
# q113, an explicitly-named calibration query.
# --------------------------------------------------------------------------

_Q103_NOVEL = 100     # batch part 1: vec_id < 100 (novel candidates)
_Q103_CORPUS_MIN = 150  # corpus = vec_id >= 150
_Q103_PLANTED = 50    # batch part 2: copies of vec_id in [150, 200)


def q103_incremental_embedding_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from citibike_analysis_spark.operators.similarity import (
        incremental_embedding_dedup,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") >= _Q103_CORPUS_MIN)
    planted = e.filter(
        (F.col("vec_id") >= _Q103_CORPUS_MIN)
        & (F.col("vec_id") < _Q103_CORPUS_MIN + _Q103_PLANTED)
    ).withColumn("vec_id", F.col("vec_id") + F.lit(_REINGEST_OFFSET))
    batch = e.filter(F.col("vec_id") < _Q103_NOVEL).unionByName(planted)
    out = incremental_embedding_dedup(
        batch, corpus, "vec_id", "embedding", threshold=0.9, bits="auto", tables=16
    )
    return out.select(F.col("vec_id").cast("long").alias("vec_id"))


Q103_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c AS (
  SELECT * FROM e WHERE vec_id >= {_Q103_CORPUS_MIN}
), b AS (
  SELECT vec_id, v FROM e WHERE vec_id < {_Q103_NOVEL}
  UNION ALL
  SELECT vec_id + {_REINGEST_OFFSET} AS vec_id, v FROM e
  WHERE vec_id >= {_Q103_CORPUS_MIN}
    AND vec_id < {_Q103_CORPUS_MIN + _Q103_PLANTED}
)
SELECT CAST(b.vec_id AS BIGINT) AS vec_id
FROM b
WHERE NOT EXISTS (
  SELECT 1 FROM c
  WHERE round(list_dot_product(b.v, c.v)
        / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.v, c.v))), 6)
        >= 0.9
)
"""


# --------------------------------------------------------------------------
# q113 — loose-banding RECALL CALIBRATION of the incremental embedding
# dedup (the pre-r05 q103 fixture, demoted per r04 VERDICT #1 exactly
# as q105 was split from q39): θ=0.45 with bits=2/tables=24 — per-pair
# miss probability ~(1-p²)²⁴ ≲ 1e-6 at cosine 0.45, so the bucketed
# plan matches the exact NOT-EXISTS oracle bit-for-bit, which is the
# evidence the banding math is right. bits=2 → 4 buckets/table means
# per-ingest candidates ~|batch|·(corpus/4)·tables — a corpus-linear
# scan per ingest, and the batch here GROWS with SF (vec_id % 10): an
# audit-scale query by design, never the production plan (that is q103;
# loose-θ admission at scale is the SemDeDup/IVF route, q77/q49).
# --------------------------------------------------------------------------

def q113_incremental_dedup_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from citibike_analysis_spark.operators.similarity import (
        incremental_embedding_dedup,
    )

    e = load_table(spark, sf_dir, "embeddings")
    batch = e.filter(F.col("vec_id") % 10 == 0)
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    out = incremental_embedding_dedup(
        batch, corpus, "vec_id", "embedding", threshold=0.45, bits=2, tables=24
    )
    return out.select(F.col("vec_id").cast("long").alias("vec_id"))


Q113_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), b AS (
  SELECT * FROM e WHERE vec_id % 10 = 0
), c AS (
  SELECT * FROM e WHERE vec_id % 10 <> 0
)
SELECT CAST(b.vec_id AS BIGINT) AS vec_id
FROM b
WHERE NOT EXISTS (
  SELECT 1 FROM c
  WHERE round(list_dot_product(b.v, c.v)
        / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.v, c.v))), 6)
        >= 0.45
)
"""


# --------------------------------------------------------------------------
# q116 — DSIR-style importance resampling (Xie et al. 2023, unigram
# instantiation): score each raw-pool document by the mean target-vs-pool
# unigram log-likelihood ratio (add-one smoothing over the union
# vocabulary), then keep the pool's top decile by score — the
# "select web data that looks like the target domain" step of
# pretraining-corpus construction. The cut point is a corpus percentile
# broadcast as one row (the q71 convention); the gate runs on the
# ROUNDED score on both sides so the boundary cannot drift between
# engines. Re-registered r07 (epoch bump) with the cut on
# `percentile_approx` — the DECLARED 100 TB form; see q71's docstring
# for the full exact-regime/quantile_disc parity statement and the
# fail-fast guard rationale (identical here, p=0.9).
# --------------------------------------------------------------------------

_Q116_TARGET_SOURCE = "src0"


def q116_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.cache import track
    from citibike_analysis_spark.operators.corpus_stats import importance_weights

    d = load_table(spark, sf_dir, "documents").withColumn(
        "_is_target", F.col("source") == _Q116_TARGET_SOURCE
    )
    scored = track(
        importance_weights(d, "doc_id", "text", "_is_target")
        .filter(F.col("logratio").isNotNull())
        .persist()
    )
    n, cut = scored.agg(
        F.count("*"),
        F.expr(f"percentile_approx(logratio, 0.9, {_Q118_ACC})"),
    ).first()
    if n >= _Q118_ACC:
        _parity_guard_violation(
            "q116 oracle-parity precondition violated: corpus size "
            f"({n}) reached percentile_approx accuracy ({_Q118_ACC}); "
            "see q71's guard — raise _Q118_ACC for the fixture, or set "
            "SPARK_GRAFT_PARITY_GUARDS=0 past the exact regime."
        )
    return scored.filter(F.col("logratio") > F.lit(cut)).select(
        "doc_id", "n_tokens", "logratio"
    )


Q116_SQL = f"""
WITH docs AS (
  SELECT doc_id, text, (source = '{_Q116_TARGET_SOURCE}') AS tgt FROM documents
), toks AS (
  SELECT doc_id, tgt, {_DUCK_TOKENS} AS tk FROM docs
), tkx AS (
  SELECT doc_id, tgt, unnest(tk) AS t FROM toks
), freq AS (
  SELECT t,
         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
  FROM tkx GROUP BY 1
), tot AS (
  SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM freq
), scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(avg(ln((ct + 1) / CAST(nt + v AS DOUBLE))
                   - ln((cr + 1) / CAST(nr + v AS DOUBLE))), 6) AS lr
  FROM tkx JOIN freq USING (t) CROSS JOIN tot
  WHERE NOT tgt
  GROUP BY doc_id
), cut AS (
  -- quantile_disc mirrors percentile_approx's exact regime (see Q71_SQL)
  SELECT quantile_disc(lr, 0.9) AS c FROM scored
)
SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       s.lr AS logratio
FROM scored s CROSS JOIN cut
WHERE s.lr > cut.c
"""


# --------------------------------------------------------------------------
# q117 — temperature-scaled source mixture: per-source keep-fractions
# derived FROM the corpus as n_s^alpha (exponent-smoothed multinomial —
# the multilingual/multi-source pretraining mix that flattens dominant
# sources and boosts the tail), realized as the deterministic
# md5-threshold filter. alpha=0.5 so the power term is an IEEE-exact
# sqrt on both engines; every other quota input is integer-derived.
# --------------------------------------------------------------------------


def q117_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.sampling import temperature_mixture

    d = load_table(spark, sf_dir, "documents")
    return temperature_mixture(
        d, "doc_id", "source", alpha=0.5, total_fraction=0.5
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "lang"
    )


Q117_SQL = """
WITH counts AS (
  SELECT source AS s, count(*) AS n FROM documents GROUP BY 1
), tot AS (
  SELECT sum(n) AS total, sum(pow(n, 0.5)) AS z FROM counts
), quotas AS (
  -- *(1 - 1e-9) before ceil mirrors the operator's boundary guard: z is
  -- a summation-order-dependent double sum, so both engines shave the
  -- same relative epsilon to keep a 1-ulp drift from flipping the ceil
  SELECT s, n,
         least(n, CAST(ceil(ceil(0.5 * total) * pow(n, 0.5) / z * (1 - 1e-9)) AS BIGINT)) AS quota
  FROM counts CROSS JOIN tot
), thr AS (
  -- quota >= n OR scaled >= 65536 both mean keep-all: printf('%04x',
  -- 65536) is the 5-char '10000', which lexicographically keeps only
  -- '0'-prefixed hashes (the operator guards identically); the
  -- greatest(..., 1) clamp mirrors the operator's quota>=1 floor so an
  -- extreme-skew stratum never rounds to the keep-nothing '0000'
  SELECT s,
         CASE WHEN quota >= n
                   OR CAST(round(quota / CAST(n AS DOUBLE) * 65536) AS INT) >= 65536
              THEN 'g'
              ELSE printf('%04x', greatest(
                     CAST(round(quota / CAST(n AS DOUBLE) * 65536) AS INT),
                     CASE WHEN quota >= 1 THEN 1 ELSE 0 END))
         END AS t
  FROM quotas
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, d.lang
FROM documents d JOIN thr ON d.source IS NOT DISTINCT FROM thr.s
WHERE substr(md5(concat_ws('|', d.source, d.doc_id)), 1, 4) < thr.t
"""


# --------------------------------------------------------------------------
# q118 — SCALE-DECLARED form of the corpus-percentile gate (r05 VERDICT
# #1), registered as its divergence audit in the q40 pattern. Before
# r07, q71/q116 gated on exact `percentile()`, whose aggregation state
# is a value→count map merged at a SINGLE reducer — the only registered
# plan family whose memory grew with score cardinality rather than
# group count (bounded in practice by the 6-decimal rounding to
# ~10⁶–10⁷ distinct bins; see SCALE.md). The 100 TB
# form gates on `percentile_approx` — Spark's Greenwald–Khanna sketch:
# partial-aggregable, O(accuracy · log n) state per partition, relative
# rank error ≤ 1/accuracy — and this audit pins the exact-vs-approx
# divergence so the swap is hash-verifiable:
#   - `cut_rank_ok`: the approx cut's rank interval in the exact score
#     order intersects [p·n − n/acc − 1, p·n + n/acc + 1] (the GK
#     guarantee restated tie-robustly in integer rank space — a tie run
#     at the cut widens the element's rank interval, so the assert uses
#     both endpoints, the q40 lesson);
#   - `kept_diff_ok`: the kept-set size differs from the exact gate's by
#     ≤ ceil(n/acc) + ties_at_cut + 2 (the ±2 absorbs the interpolated
#     exact percentile landing between elements on either side).
# The oracle recomputes the exact legs (n_scored, n_kept_exact — the
# q71 machinery) and states both invariants `true`; a sketch regression
# or a broken gate hash-mismatches. The exact-percentile leg here is
# AUDIT-scale, same class as q40's ranked exact leg — and since r07 it
# is the ONLY place the exact interpolated cut still executes: q71/q116
# were re-registered (epoch bumps) with the percentile_approx cut, so
# the declared 100 TB form is the registered production path and this
# audit is its divergence bound.
# --------------------------------------------------------------------------

_Q118_ACC = 10_000  # percentile_approx accuracy → relative rank error 1e-4


def q118_percentile_gate_scale_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.cache import track
    from citibike_analysis_spark.operators.corpus_stats import unigram_logprob

    d = load_table(spark, sf_dir, "documents")
    # scored feeds two plan branches (the cuts aggregate and the audit
    # counts) — persist so the token explode + corpus-LM join runs once
    scored = track(
        unigram_logprob(d, "doc_id", "text")
        .filter(F.col("avg_logp").isNotNull())
        .persist()
    )
    cuts = scored.agg(
        F.expr("percentile(avg_logp, 0.1)").alias("_ce"),
        F.expr(f"percentile_approx(avg_logp, 0.1, {_Q118_ACC})").alias("_ca"),
    )
    counts = (
        scored.crossJoin(F.broadcast(cuts))
        .agg(
            F.count("*").alias("_n"),
            F.count(F.when(F.col("avg_logp") > F.col("_ce"), 1)).alias("_ke"),
            F.count(F.when(F.col("avg_logp") > F.col("_ca"), 1)).alias("_ka"),
            F.count(F.when(F.col("avg_logp") < F.col("_ca"), 1)).alias("_rlo"),
            F.count(F.when(F.col("avg_logp") <= F.col("_ca"), 1)).alias("_rhi"),
        )
    )
    tol = F.col("_n") / F.lit(float(_Q118_ACC))
    target = F.lit(0.1) * F.col("_n")
    return counts.select(
        F.col("_n").cast("long").alias("n_scored"),
        F.col("_ke").cast("long").alias("n_kept_exact"),
        (
            (F.col("_rlo") + 1 <= target + tol + 1)
            & (F.col("_rhi") >= target - tol - 1)
        ).alias("cut_rank_ok"),
        (
            F.abs(F.col("_ke") - F.col("_ka"))
            <= F.ceil(tol) + (F.col("_rhi") - F.col("_rlo")) + 2
        ).alias("kept_diff_ok"),
    )


Q118_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), tkx AS (
  SELECT doc_id, unnest(tk) AS t FROM toks
), freq AS (
  SELECT t, count(*) AS c FROM tkx GROUP BY 1
), tot AS (
  SELECT sum(c) AS n FROM freq
), scored AS (
  SELECT doc_id,
         round(avg(ln(c / CAST(n AS DOUBLE))), 6) AS avg_logp
  FROM tkx JOIN freq USING (t) CROSS JOIN tot
  GROUP BY doc_id
), cut AS (
  SELECT quantile_cont(avg_logp, 0.1) AS c FROM scored
)
SELECT CAST(count(*) AS BIGINT) AS n_scored,
       CAST(count(*) FILTER (WHERE s.avg_logp > cut.c) AS BIGINT) AS n_kept_exact,
       true AS cut_rank_ok,
       true AS kept_diff_ok
FROM scored s CROSS JOIN cut
"""


# --------------------------------------------------------------------------
# q121 — driver-signed correctness for the CONTINUOUS sketch tier:
# `streaming/sketches.py::track_frequent_tokens` (applyInPandasWithState,
# NoTimeout, update mode — the third and last stateful-streaming class
# after q119's windowed aggregation and q120's event-time-timeout
# sessions) replayed over the q119 micro-batch harness and hash-verified
# against the EXACT per-token count oracle. The replay runs the sketch
# in its exact regime — capacity 4096 ≥ the corpus's distinct-token
# count per shard (31 globally in the synthetic testdata at every SF),
# so Misra–Gries never prunes and `count_lb` IS the exact count. What
# the row therefore verifies end-to-end: cross-micro-batch state
# accumulation, the per-shard fold, and the hash-sharding partition
# (each token in exactly ONE shard — a broken shard route would split or
# double-count a token and break the hash). The PRUNED regime's
# correctness is covered separately: q72 audits the batch sketch against
# an exact recount, and the streaming pytest pins the lower-bound
# semantics under forced eviction.
#
# Final state reconstruction: the update-mode sink stamps each emission
# with its epoch; a shard's state after the stream = its max-epoch
# emission (no pruning → counters only grow, so that emission lists
# every token the shard has ever seen).
# --------------------------------------------------------------------------


def q121_streaming_heavy_hitters_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    import pyarrow as pa

    from citibike_analysis_spark.cache import track
    from citibike_analysis_spark.plans.relational import _write_replay_batches
    from citibike_analysis_spark.streaming.sketches import track_frequent_tokens

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    docs = d.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    arrow_schema = pa.schema(
        [pa.field("doc_id", pa.int64()), pa.field("text", pa.string())]
    )
    workdir = tempfile.mkdtemp(prefix="q121_replay_")
    try:
        in_dir = os.path.join(workdir, "in")
        _write_replay_batches(docs, in_dir, 5, arrow_schema, ["doc_id"])
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        capacity = 4096  # shared by the stream and the exact-regime assert below
        hh = track_frequent_tokens(stream, "text", capacity=capacity, n_shards=8)
        out_dir = os.path.join(workdir, "out")

        def sink(batch: DataFrame, epoch_id: int) -> None:
            if not batch.isEmpty():
                batch.withColumn("_e", F.lit(epoch_id)).write.mode(
                    "append"
                ).parquet(out_dir)

        q = (
            hh.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        log = spark.read.parquet(out_dir)
        state = log.withColumn(
            "_mx", F.max("_e").over(Window.partitionBy("shard"))
        ).filter(F.col("_e") == F.col("_mx"))
        # Fail fast on the parity precondition (r07 + r08 ADVICE):
        # equality vs the exact GROUP BY oracle holds only in the EXACT
        # regime — Misra–Gries never pruned, so count_lb == true count.
        # The check is the sketch's own sticky `pruned` flag, NOT the
        # final counter-set size: pruning shrinks the set back below
        # capacity, so a shard that exceeded capacity mid-stream would
        # pass a size check while count_lb is already a strict lower
        # bound (the r08 ADVICE hole). If any shard ever pruned, fail
        # HERE with the assumption named, not downstream as an opaque
        # hash mismatch.
        any_pruned = state.agg(F.max("pruned")).first()[0]
        if any_pruned:
            raise AssertionError(
                "q121 exact-regime assumption violated: a shard's "
                "Misra–Gries summary PRUNED mid-stream (sticky `pruned` "
                f"flag set; capacity {capacity}) — count_lb is a strict "
                "lower bound and hash parity with the exact oracle no "
                "longer holds. Raise capacity or shrink the fixture "
                "vocabulary."
            )
        final = track(
            state.select(
                "token", F.col("count_lb").cast("long").alias("n_occurrences")
            ).localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return final


Q121_SQL = f"""
WITH toks AS (
  SELECT {_DUCK_TOKENS} AS tk FROM documents WHERE text IS NOT NULL
), tkx AS (
  SELECT unnest(tk) AS token FROM toks
)
SELECT token, count(*) AS n_occurrences
FROM tkx
GROUP BY token
"""


# --------------------------------------------------------------------------
# q122 — driver-signed correctness for the STREAMING ADMISSION path:
# `streaming/enrich.py::admit_novel_documents` (stream-static anti-join
# against a landed-corpus snapshot + in-stream
# dropDuplicatesWithinWatermark) replayed over the micro-batch harness
# and hash-verified against the batch NOT-IN oracle. Fixture: the
# landed corpus is every document with doc_id % 7 == 0 (hash-column
# parquet, the production snapshot shape); the stream replays ALL
# documents with a synthetic ascending event time (base + doc_id
# seconds). Expected admitted set = distinct content hashes NOT in the
# corpus — one row per hash, which is deterministic even though WHICH
# duplicate row survives the in-stream dedup is not (the output is the
# content hash, not the arrival).
#
# The watermark is set to 30 days — wider than the fixture's time span —
# so dedup state is never evicted mid-replay and the admitted set is
# exactly the in-watermark contract (a duplicate arriving after state
# eviction re-admits BY DESIGN; that behavior is pinned by the
# streaming pytest, not this row). Covers the fourth and last §2.9
# stateful class: dropDuplicatesWithinWatermark state + a stream-static
# join, after q119 (windowed agg), q120 (timeout sessions), q121
# (NoTimeout sketch).
# --------------------------------------------------------------------------


def q122_streaming_admission_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    import pyarrow as pa

    from citibike_analysis_spark.cache import track
    from citibike_analysis_spark.plans.relational import _write_replay_batches
    from citibike_analysis_spark.streaming.enrich import admit_novel_documents

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    docs = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("ts"),
        "text",
    )
    arrow_schema = pa.schema(
        [
            pa.field("doc_id", pa.int64()),
            pa.field("ts", pa.timestamp("us", tz="UTC")),
            pa.field("text", pa.string()),
        ]
    )
    workdir = tempfile.mkdtemp(prefix="q122_replay_")
    try:
        corpus_dir = os.path.join(workdir, "corpus")
        d.filter(F.col("doc_id") % 7 == 0).select(
            F.md5(F.col("text")).alias("content_hash")
        ).write.parquet(corpus_dir)
        in_dir = os.path.join(workdir, "in")
        _write_replay_batches(docs, in_dir, 5, arrow_schema, ["ts", "doc_id"])
        stream = (
            spark.readStream.schema("doc_id long, ts timestamp, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        admitted = admit_novel_documents(
            stream, corpus_dir, ts_col="ts", watermark="30 days"
        )
        out_dir = os.path.join(workdir, "out")

        def sink(batch: DataFrame, epoch_id: int) -> None:
            if not batch.isEmpty():
                batch.write.mode("append").parquet(out_dir)

        q = (
            admitted.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        final = track(
            spark.read.parquet(out_dir)
            .select(F.md5(F.col("text")).alias("content_hash"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return final


Q122_SQL = """
WITH corpus AS (
  SELECT DISTINCT md5(text) AS ch
  FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0
)
SELECT DISTINCT md5(text) AS content_hash
FROM documents
WHERE text IS NOT NULL
  AND md5(text) NOT IN (SELECT ch FROM corpus)
"""


# --------------------------------------------------------------------------
# q127 — cluster-balanced sampling (topic-balancing data selection: pick
# ~evenly from semantic clusters so dominant topics don't swamp a
# curated subset — the cluster-proportional cousin of q117's
# source-temperature mix, over LEARNED strata instead of labeled ones),
# registered as its q114-style bound audit so the driver can hash-verify
# it despite k-means being non-SQL-expressible. Composition of existing
# operators: kmeans_clusters (q76's parameterization) → exactly-quota
# per cluster via stratified_fixed_sample on the cid stratum. One row:
#   - n_vectors — exact, oracle states count(*) of embeddings;
#   - all_assigned — every vector got exactly one cluster (a dropped or
#     duplicated assignment breaks it);
#   - per_cluster_le_quota — no cluster contributes more than quota;
#   - small_clusters_whole — clusters at or under quota are kept whole
#     (the exactly-k contract's "stratum with fewer than k rows" branch);
#   - deterministic — two independent runs select the identical id set
#     (the md5-rank sample + deterministic k-means init).
# Scale: the k-means substrate is q76's (k×dim driver centroids, one
# scan per iteration); the sample adds one shuffle on cid + a
# WindowGroupLimit-capped rank window — no new scale surface.
# --------------------------------------------------------------------------

_Q127_QUOTA = 40


def q127_cluster_balanced_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.sampling import stratified_fixed_sample
    from citibike_analysis_spark.operators.similarity import kmeans_clusters

    e = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_clusters(e, "vec_id", "embedding", k=8, train_iters=3)
    from citibike_analysis_spark.cache import track

    assigned = track(assigned.persist())  # feeds the sample + both audits
    sample = stratified_fixed_sample(
        assigned, "vec_id", k=_Q127_QUOTA, strata_cols=["cid"]
    )
    # the second run samples the SAME frame under a DIFFERENT partition
    # layout (r06 verdict #5: two runs over one persisted layout could
    # not catch layout-seeded nondeterminism — the class that actually
    # bites rank-by-hash samples); the flag now asserts
    # layout-independence, matching what the repartition-stability
    # pytest pins
    sample2 = stratified_fixed_sample(
        assigned.repartition(7), "vec_id", k=_Q127_QUOTA, strata_cols=["cid"]
    )
    per_cluster = assigned.groupBy("cid").agg(F.count("*").alias("_n"))
    picked = sample.groupBy("cid").agg(F.count("*").alias("_p"))
    cluster_ok = (
        per_cluster.join(picked, "cid", "left")
        .agg(
            F.bool_and(F.coalesce(F.col("_p"), F.lit(0)) <= _Q127_QUOTA).alias(
                "_le"
            ),
            F.bool_and(
                (F.col("_n") > _Q127_QUOTA)
                | (F.coalesce(F.col("_p"), F.lit(0)) == F.col("_n"))
            ).alias("_whole"),
        )
    )
    same = sample.select("vec_id").exceptAll(sample2.select("vec_id")).union(
        sample2.select("vec_id").exceptAll(sample.select("vec_id"))
    )
    return (
        e.agg(F.count("*").alias("n_vectors"))
        .crossJoin(F.broadcast(assigned.agg(F.count("*").alias("_na"))))
        .crossJoin(F.broadcast(cluster_ok))
        .crossJoin(F.broadcast(same.agg(F.count("*").alias("_diff"))))
        .select(
            F.col("n_vectors").cast("long").alias("n_vectors"),
            (F.col("_na") == F.col("n_vectors")).alias("all_assigned"),
            F.col("_le").alias("per_cluster_le_quota"),
            F.col("_whole").alias("small_clusters_whole"),
            (F.col("_diff") == 0).alias("deterministic"),
        )
    )


Q127_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       true AS all_assigned,
       true AS per_cluster_le_quota,
       true AS small_clusters_whole,
       true AS deterministic
FROM embeddings
"""


# --------------------------------------------------------------------------
# q128 — streaming PII scrub+gate replay (the last-but-one §2.9 behavior
# without a driver-signed row, r07 verdict task #2): replays the
# documents table through streaming/enrich.py::scrub_documents — the
# at-ingest redact + min-token gate — as q122-shaped micro-batches and
# hash-verifies the landed output against the batch redaction SQL
# (q83's proven regexp mirror) plus the same token gate. scrub is
# stateless by construction (column expressions only), so the parity
# claim here is that the STREAMING execution path — file source, batch
# planner, foreachBatch sink — applies it losslessly, which pytest
# asserted but no driver row signed.
# --------------------------------------------------------------------------

_Q128_MIN_TOKENS = 10


def q128_streaming_scrub_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    import pyarrow as pa

    from citibike_analysis_spark.cache import track
    from citibike_analysis_spark.plans.relational import (
        _Q119_BATCHES,
        _write_replay_batches,
    )
    from citibike_analysis_spark.streaming.enrich import scrub_documents

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("ts"),
        "text",
    )
    arrow_schema = pa.schema(
        [
            pa.field("doc_id", pa.int64()),
            pa.field("ts", pa.timestamp("us", tz="UTC")),
            pa.field("text", pa.string()),
        ]
    )
    workdir = tempfile.mkdtemp(prefix="q128_replay_")
    try:
        in_dir = os.path.join(workdir, "in")
        _write_replay_batches(
            docs, in_dir, _Q119_BATCHES, arrow_schema, ["ts", "doc_id"]
        )
        stream = (
            spark.readStream.schema("doc_id long, ts timestamp, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        scrubbed = scrub_documents(stream, min_tokens=_Q128_MIN_TOKENS)
        out_dir = os.path.join(workdir, "out")

        def sink(batch: DataFrame, epoch_id: int) -> None:
            if not batch.isEmpty():
                batch.write.mode("append").parquet(out_dir)

        q = (
            scrubbed.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        final = track(
            spark.read.parquet(out_dir)
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("text").alias("redacted"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return final


def _q128_sql() -> str:
    from citibike_analysis_spark.functions.text import PII_PATTERNS

    repl = "text"
    for _, p, placeholder in PII_PATTERNS:
        repl = f"regexp_replace({repl}, '{p}', '{placeholder}', 'g')"
    gate_tokens = _DUCK_TOKENS.replace("trim(text)", "trim(redacted)")
    return f"""
WITH scrubbed AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {repl} AS redacted
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, redacted FROM scrubbed
WHERE len({gate_tokens}) >= {_Q128_MIN_TOKENS}
"""


# --------------------------------------------------------------------------
# q129 — streaming cross-batch content-hash dedup replay (the LAST §2.9
# behavior without a driver-signed row): replays the unique-text corpus
# plus injected RE-DELIVERIES — exact copies of earlier documents
# arriving two micro-batches later under fresh doc_ids — through
# streaming/enrich.py::dedup_documents and asserts the landed set is
# exactly the min-doc_id-per-content-hash originals (q85's first-win
# anti-join shape). Determinism by construction: the stream input is
# pre-deduped to one row per hash (so no within-batch tie exists for
# dropDuplicatesWithinWatermark to break arbitrarily) and every
# re-delivery arrives strictly after its original's batch, so the
# first-arrival winner IS the SQL row_number()=1 row. The behavior the
# batch oracle cannot see — state carried ACROSS micro-batches — is
# exactly what the re-deliveries exercise: a copy in batch b+2 must be
# dropped by the hash remembered from batch b.
# --------------------------------------------------------------------------

def q129_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    import pyarrow as pa

    from citibike_analysis_spark.cache import track
    from citibike_analysis_spark.plans.relational import (
        _Q119_BATCHES,
        _write_replay_batches,
    )
    from citibike_analysis_spark.streaming.enrich import dedup_documents

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    firsts = (
        d.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=F.col("doc_id").cast("double"))
            ).alias("ts"),
            "text",
        )
        .withColumn(
            "_b", F.ntile(_Q119_BATCHES).over(Window.orderBy("doc_id"))
        )
    )
    # re-deliveries: same text + same EVENT time (a true repeat), new
    # doc_id, arriving two batches later — cross-batch state is the
    # behavior under test; batches 4..5 originals get no re-delivery so
    # every injected copy lands strictly inside the replay
    redeliveries = firsts.filter(
        (F.col("_b") <= _Q119_BATCHES - 2) & (F.col("doc_id") % 3 == 0)
    ).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        "ts",
        "text",
        (F.col("_b") + F.lit(2)).alias("_b"),
    )
    feed = firsts.select("doc_id", "ts", "text", "_b").unionByName(redeliveries)
    arrow_schema = pa.schema(
        [
            pa.field("doc_id", pa.int64()),
            pa.field("ts", pa.timestamp("us", tz="UTC")),
            pa.field("text", pa.string()),
        ]
    )
    workdir = tempfile.mkdtemp(prefix="q129_replay_")
    try:
        in_dir = os.path.join(workdir, "in")
        _write_replay_batches(
            feed, in_dir, _Q119_BATCHES, arrow_schema, ["doc_id"],
            batch_col="_b",
        )
        stream = (
            spark.readStream.schema("doc_id long, ts timestamp, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        kept = dedup_documents(stream, ts_col="ts", watermark="30 days")
        out_dir = os.path.join(workdir, "out")

        def sink(batch: DataFrame, epoch_id: int) -> None:
            if not batch.isEmpty():
                batch.write.mode("append").parquet(out_dir)

        q = (
            kept.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        final = track(
            spark.read.parquet(out_dir)
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.md5("text").alias("content_hash"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return final


Q129_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(text) AS content_hash
FROM (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents WHERE text IS NOT NULL
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# q142 — streaming ANN index maintenance replay (r14, r13 verdict #1):
# the composition of the engine's two flagship tiers, previously only
# tested side by side. Micro-batches of embeddings append into a
# persisted IVF-PQ index via streaming/ann.py::start_index_maintenance
# (foreachBatch -> exactly-once anti-join -> append_to_ivf_index ->
# refresh_pq_codes), and the maintained index must probe IDENTICALLY
# to a one-shot build over the same rows — the q136
# append-equals-rebuild equality, now under the streaming tier with a
# checkpoint. The reference's collection tier is exactly this shape
# (README.md:187,197 — cron */3 feed appends, on-going analyses).
# --------------------------------------------------------------------------

def q142_streaming_index_maintenance_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Build an IVF-PQ index over the EVEN half of the embeddings
    (centroids trained on that half, PQ codebooks trained on that
    half), then stream the ODD half through the maintenance sink in 4
    replay micro-batches. Reference: a one-shot
    ``build_ivf_index(full, train_on=even)`` +
    ``attach_pq_codes(train_on=even)`` — same centroids (deterministic
    training on identical rows → identical stamp), same codebooks, so
    the streamed index must equal it EXACTLY:

    - probe_parity: ``ivfpq_topk`` (route → ADC → exact re-rank) over
      the maintained index returns the identical (query_id,
      neighbor_id, rk) set as over the one-shot reference.
    - count_props_exact: the lifecycle-maintained ``cbs.ivf.n_rows`` /
      ``cbs.ivfpq.n_codes`` caches equal the REAL table counts after 4
      appends + 4 refreshes (the zero-count-job screen's data source —
      exactness under streaming cadence has never been exercised).
    - drift_signal_each_batch: every non-empty micro-batch reported
      all THREE drift statistics (cos, euclid, share-TV) against the
      build-stamped baselines — the monitoring seam a continuous
      appender rebuilds on.
    - screen_green: the strict IVF-PQ sibling screen passes after the
      stream stops (stamp pair valid, counts aligned).

    The kill-mid-stream / torn-commit replay legs live in
    ``tests/test_streaming_recovery.py`` (a restarted query resumes
    from the checkpoint and converges; a re-delivered epoch appends
    nothing). Per-process uuid + finally-drop, same as q131/q135."""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    import pyarrow as pa

    from citibike_analysis_spark.operators.pq import (
        _IVFPQ_NCODES_PROP,
        _verify_ivfpq_stamp,
        attach_pq_codes,
        ivfpq_topk,
    )
    from citibike_analysis_spark.operators.similarity import (
        _IVF_NROWS_PROP,
        build_ivf_index,
    )
    from citibike_analysis_spark.plans.relational import _write_replay_batches
    from citibike_analysis_spark.streaming.ann import start_index_maintenance

    global _Q131_RUN_TAG
    if _Q131_RUN_TAG is None:
        _Q131_RUN_TAG = uuid.uuid4().hex[:8]
    base = (
        "q142_sim_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{_Q131_RUN_TAG}"
    )
    t, ref = base, f"{base}_ref"
    e = load_table(spark, sf_dir, "embeddings")
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1)
    train = even.select("vec_id", "embedding")
    n_batches = 4
    workdir = tempfile.mkdtemp(prefix="q142_replay_")
    try:
        build_ivf_index(e, ref, nlist=8, train_iters=2, train_on=even)
        attach_pq_codes(spark, ref, m=8, ksub=16, train_iters=2, train_on=train)
        build_ivf_index(even, t, nlist=8, train_iters=2, train_on=even)
        attach_pq_codes(spark, t, m=8, ksub=16, train_iters=2, train_on=train)
        arrow_schema = pa.schema(
            [
                pa.field("vec_id", pa.int64()),
                pa.field("embedding", pa.list_(pa.float32())),
            ]
        )
        in_dir = os.path.join(workdir, "in")
        _write_replay_batches(
            odd.select("vec_id", "embedding"),
            in_dir,
            n_batches,
            arrow_schema,
            ["vec_id"],
        )
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        seen: list[dict] = []
        q = start_index_maintenance(
            stream,
            t,
            os.path.join(workdir, "ckpt"),
            on_batch=seen.append,
            query_name="q142_streaming_index_maintenance",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # foreachBatch ran in a CLONED session (Structured Streaming's
        # isolation contract): its appends updated the clone's catalog
        # cache, while THIS session still holds the relation it cached
        # during build/attach — standard Spark cross-session
        # visibility, and exactly what a probe service must do after a
        # maintenance stream it did not write from (see
        # streaming/ann.py's probe-visibility note)
        spark.catalog.refreshTable(t)
        spark.catalog.refreshTable(f"{t}__codes")
        probe_q = e.filter(F.col("vec_id") < 10)
        key = lambda rows: sorted(
            (r["query_id"], r["neighbor_id"], r["rk"]) for r in rows
        )
        got = key(
            ivfpq_topk(
                spark, t, probe_q, k=5, nprobe=4, shortlist=50, n_queries=10
            ).collect()
        )
        want = key(
            ivfpq_topk(
                spark, ref, probe_q, k=5, nprobe=4, shortlist=50, n_queries=10
            ).collect()
        )
        probe_parity = bool(got) and got == want
        lp = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {t}").collect()
        }
        cp = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {t}__codes").collect()
        }
        n_total = e.count()
        count_props_exact = (
            int(lp.get(_IVF_NROWS_PROP, -1)) == spark.table(t).count() == n_total
            and int(cp.get(_IVFPQ_NCODES_PROP, -1))
            == spark.table(f"{t}__codes").count()
            == n_total
        )
        applied = [s for s in seen if s["n_novel"] > 0]
        drift_each = (
            len(applied) == n_batches
            and sum(s["n_novel"] for s in applied) == odd.count()
            and all(s["n_codes_refreshed"] == s["n_novel"] for s in applied)
            and all(
                s["drift"] is not None
                and s["ed_drift"] is not None
                and s["share_tv"] is not None
                for s in applied
            )
        )
        try:
            _verify_ivfpq_stamp(spark, t, check_counts=True)
            screen_green = True
        except ValueError:
            screen_green = False
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        for tb in (t, ref):
            for s in ("", "__cents", "__tombs", "__codes", "__books"):
                spark.sql(f"DROP TABLE IF EXISTS {tb}{s}")
    return spark.createDataFrame(
        [
            (
                n_total,
                even.count(),
                odd.count(),
                n_batches,
                probe_parity,
                count_props_exact,
                drift_each,
                screen_green,
            )
        ],
        "n_total bigint, n_built bigint, n_streamed bigint, "
        "n_batches bigint, probe_parity boolean, count_props_exact boolean, "
        "drift_signal_each_batch boolean, screen_green boolean",
    )


Q142_SQL = """
SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_total,
       CAST((SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0) AS BIGINT)
         AS n_built,
       CAST((SELECT count(*) FROM embeddings WHERE vec_id % 2 = 1) AS BIGINT)
         AS n_streamed,
       CAST(4 AS BIGINT) AS n_batches,
       TRUE AS probe_parity,
       TRUE AS count_props_exact,
       TRUE AS drift_signal_each_batch,
       TRUE AS screen_green
"""


# --------------------------------------------------------------------------
# q143/q144 — span-level dedup (r14): maximal duplicated token spans and
# the keep-first-occurrence scrub (Lee et al. 2022 exact-substring dedup,
# expressed as positional k-gram runs — operators/dedup.py docstrings
# carry the 100 TB plan-shape argument). Complements the doc-level
# (q30/q36/q39), chunk-level (q74), and fingerprint (q50) tiers with the
# arbitrary-offset modality none of them localize.
# --------------------------------------------------------------------------

_Q143_K = 8

#: shared oracle CTE prefix: positional k-grams over whitespace tokens.
#: The Spark side keys gram identity by xxhash64 of the same space-join
#: (injective — tokens are whitespace-split); the oracle groups by the
#: gram string itself, so the two agree exactly modulo 64-bit hash
#: collisions (~G²/2⁶⁵).
_Q143_GRAMS_CTE = f"""
WITH doc_toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), grams AS (
  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos,
         array_to_string(tk[g.i : g.i + {_Q143_K - 1}], ' ') AS gram
  FROM doc_toks, LATERAL (SELECT unnest(range(1, len(tk) - {_Q143_K} + 2)) AS i) g
)"""


def q143_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.dedup import duplicated_spans

    d = load_table(spark, sf_dir, "documents")
    return duplicated_spans(d, "doc_id", "text", k=_Q143_K)


Q143_SQL = f"""{_Q143_GRAMS_CTE},
dup AS (SELECT gram FROM grams GROUP BY 1 HAVING count(*) >= 2),
dp AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dp
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_Q143_K - 1} AS BIGINT) AS span_end,
       CAST(max(pos) - min(pos) + {_Q143_K} AS BIGINT) AS span_tokens
FROM runs GROUP BY doc_id, grp
"""


def q144_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.dedup import scrub_duplicated_spans

    d = load_table(spark, sf_dir, "documents")
    return scrub_duplicated_spans(d, "doc_id", "text", k=_Q143_K)


Q144_SQL = f"""{_Q143_GRAMS_CTE},
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY gram) AS n
  FROM grams
),
cut AS (SELECT doc_id, pos FROM ranked WHERE n >= 2 AND rn > 1),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM cut
),
cutspans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {_Q143_K - 1} AS e
  FROM runs GROUP BY doc_id, grp
),
toks AS (
  SELECT doc_id, tk[t.i] AS tok, CAST(t.i - 1 AS BIGINT) AS pos
  FROM doc_toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) t
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM cutspans c
    WHERE c.doc_id = t.doc_id AND t.pos BETWEEN c.s AND c.e)
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS txt
  FROM kept GROUP BY doc_id
),
nt AS (SELECT doc_id, len(tk) AS n_tokens FROM doc_toks)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(n.n_tokens AS BIGINT) AS n_tokens,
       CAST(n.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(a.txt, '') AS scrubbed_text
FROM documents d
JOIN nt n ON d.doc_id = n.doc_id
LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


# --------------------------------------------------------------------------
# q145 — span-level decontamination (r14): localize verbatim benchmark
# leakage as maximal k-gram-covered spans (operators/dedup.py::
# contaminated_spans). Benchmark convention mirrors q63: documents with
# source == src0 are the held-out benchmark, the rest are the corpus.
# --------------------------------------------------------------------------


def q145_contaminated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.dedup import contaminated_spans

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != _Q63_BENCH_SOURCE)
    bench = d.filter(F.col("source") == _Q63_BENCH_SOURCE)
    return contaminated_spans(corpus, bench, "doc_id", "text", k=_Q143_K)


#: shared q145/q146 oracle prefix (the q143/q144 `_Q143_GRAMS_CTE`
#: pattern): source-tagged positional grams, the benchmark gram set,
#: leaked corpus positions, and their consecutive-run grouping — the
#: two decontamination oracles must never drift apart on this algebra.
_Q145_DP_CTE = f"""
WITH doc_toks AS (
  SELECT doc_id, source, {_DUCK_TOKENS} AS tk FROM documents
), grams AS (
  SELECT doc_id, source, CAST(g.i - 1 AS BIGINT) AS pos,
         array_to_string(tk[g.i : g.i + {_Q143_K - 1}], ' ') AS gram
  FROM doc_toks, LATERAL (SELECT unnest(range(1, len(tk) - {_Q143_K} + 2)) AS i) g
),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE source = '{_Q63_BENCH_SOURCE}'
),
dp AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN bench b USING (gram)
  WHERE g.source <> '{_Q63_BENCH_SOURCE}'
),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dp
)"""


Q145_SQL = f"""{_Q145_DP_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_Q143_K - 1} AS BIGINT) AS span_end,
       CAST(max(pos) - min(pos) + {_Q143_K} AS BIGINT) AS span_tokens
FROM runs GROUP BY doc_id, grp
"""


def q146_scrub_contaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citibike_analysis_spark.operators.dedup import scrub_contaminated_spans

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != _Q63_BENCH_SOURCE)
    bench = d.filter(F.col("source") == _Q63_BENCH_SOURCE)
    return scrub_contaminated_spans(corpus, bench, "doc_id", "text", k=_Q143_K)


Q146_SQL = f"""{_Q145_DP_CTE},
cutspans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {_Q143_K - 1} AS e
  FROM runs GROUP BY doc_id, grp
),
toks AS (
  SELECT doc_id, tk[t.i] AS tok, CAST(t.i - 1 AS BIGINT) AS pos
  FROM doc_toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) t
  WHERE source <> '{_Q63_BENCH_SOURCE}'
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM cutspans c
    WHERE c.doc_id = t.doc_id AND t.pos BETWEEN c.s AND c.e)
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS txt
  FROM kept GROUP BY doc_id
),
nt AS (
  SELECT doc_id, len(tk) AS n_tokens FROM doc_toks
  WHERE source <> '{_Q63_BENCH_SOURCE}'
)
SELECT CAST(n.doc_id AS BIGINT) AS doc_id,
       CAST(n.n_tokens AS BIGINT) AS n_tokens,
       CAST(n.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(a.txt, '') AS scrubbed_text
FROM nt n
LEFT JOIN agg a ON n.doc_id = a.doc_id
"""


# --------------------------------------------------------------------------
# q147 — persisted gram index (r14): build the even half's gram set as a
# bucketed catalog table, probe the odd half's span coverage against it
# (operators/dedup.py::build_gram_index/gram_index_coverage — the 100 TB
# form of span dedup: a crawl batch is gated on how much of it already
# exists verbatim, without rescanning the corpus). Index tables carry a
# per-process uuid (the q131 rule) and are dropped in a finally.
# --------------------------------------------------------------------------

_Q147_RUN_TAG: str | None = None


def q147_gram_index_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import uuid

    from citibike_analysis_spark.operators.dedup import (
        build_gram_index,
        gram_index_coverage,
    )

    global _Q147_RUN_TAG
    if _Q147_RUN_TAG is None:
        _Q147_RUN_TAG = uuid.uuid4().hex[:8]
    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    t = f"q147_gram_idx_{_Q147_RUN_TAG}_{sf_tag}"
    d = load_table(spark, sf_dir, "documents")
    even = d.filter(F.col("doc_id") % 2 == 0)
    odd = d.filter(F.col("doc_id") % 2 == 1)
    try:
        build_gram_index(even, t, k=_Q143_K)
        # eager localCheckpoint detaches the result from the catalog
        # table, which the finally below drops before the caller reads
        from citibike_analysis_spark.cache import track

        return track(gram_index_coverage(spark, t, odd).localCheckpoint(eager=True))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


Q147_SQL = f"""
WITH doc_toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
), grams AS (
  SELECT doc_id, array_to_string(tk[g.i : g.i + {_Q143_K - 1}], ' ') AS gram
  FROM doc_toks, LATERAL (SELECT unnest(range(1, len(tk) - {_Q143_K} + 2)) AS i) g
),
even_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 2 = 0),
hits AS (
  SELECT o.doc_id, count(*) AS n_grams,
         sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_covered
  FROM (SELECT doc_id, gram FROM grams WHERE doc_id % 2 = 1) o
  LEFT JOIN even_grams e USING (gram)
  GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(h.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_covered, 0) AS BIGINT) AS n_covered,
       round(CAST(coalesce(h.n_covered, 0) AS DOUBLE)
             / greatest(coalesce(h.n_grams, 0), 1), 6) AS coverage
FROM documents d
LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 2 = 1
"""


QUERIES: dict[str, QuerySpec] = {
    "q30_dedup_exact": QuerySpec(q30_dedup_exact, Q30_SQL, "§7 dedup-exact"),
    "q31_token_count": QuerySpec(q31_token_count, Q31_SQL, "§7 text-tokens"),
    "q32_text_quality": QuerySpec(q32_text_quality, Q32_SQL, "§7 text-quality"),
    "q33_lang_id": QuerySpec(q33_lang_id, Q33_SQL, "§7 text-langid"),
    "q34_ngram_jaccard": QuerySpec(q34_ngram_jaccard, Q34_SQL, "§7 dedup-ngram"),
    "q35_fingerprint_dedup": QuerySpec(q35_fingerprint_dedup, Q35_SQL, "§7 dedup-fingerprint"),
    "q36_minhash_dedup": QuerySpec(q36_minhash_dedup, None, "§7 dedup-minhash-lsh"),
    "q37_simhash_pairs": QuerySpec(q37_simhash_pairs, None, "§7 dedup-simhash"),
    "q38_ann_topk": QuerySpec(q38_ann_topk, Q38_SQL, "§7 similarity-bruteforce"),
    "q39_embedding_near_dup": QuerySpec(q39_embedding_near_dup, Q39_SQL, "§7 dedup-embedding"),
    "q40_approx_ntile": QuerySpec(q40_approx_ntile, Q40_SQL, "§7 scalable-ntile"),
    "q44_ann_lsh": QuerySpec(q44_ann_lsh, None, "§7 similarity-lsh"),
    "q45_multimodal_features": QuerySpec(q45_multimodal_features, Q45_SQL, "§7 multimodal"),
    "q46_dedup_clusters": QuerySpec(q46_dedup_clusters, Q46_SQL, "§7 dedup-clusters"),
    "q49_ann_ivf": QuerySpec(q49_ann_ivf, None, "§7 similarity-ivf"),
    "q50_winnow_pairs": QuerySpec(q50_winnow_pairs, None, "§7 dedup-winnow"),
    "q55_bpe_token_count": QuerySpec(q55_bpe_token_count, _q55_sql(), "§7 text-bpe-tokens"),
    "q59_quality_filter": QuerySpec(q59_quality_filter, Q59_SQL, "§7 quality-gate"),
    "q60_normalized_dedup": QuerySpec(q60_normalized_dedup, Q60_SQL, "§7 dedup-normalized"),
    "q61_capped_jaccard": QuerySpec(q61_capped_jaccard, Q61_SQL, "§7 dedup-ngram-capped"),
    "q62_dedup_clusters_star": QuerySpec(q62_dedup_clusters_star, Q46_SQL, "§7 dedup-clusters-star"),
    "q63_decontaminate": QuerySpec(q63_decontaminate, Q63_SQL, "§7 decontamination"),
    "q64_repetition_scores": QuerySpec(q64_repetition_scores, Q64_SQL, "§7 text-repetition"),
    "q65_stratified_sample": QuerySpec(q65_stratified_sample, Q65_SQL, "§7 sampling"),
    "q66_weighted_mixture": QuerySpec(q66_weighted_mixture, Q66_SQL, "§7 corpus-mixing"),
    "q67_token_budget": QuerySpec(q67_token_budget, Q67_SQL, "§7 token-budget"),
    "q68_unigram_logprob": QuerySpec(q68_unigram_logprob, Q68_SQL, "§7 corpus-lm-quality"),
    "q69_tfidf_topk": QuerySpec(q69_tfidf_topk, Q69_SQL, "§7 tfidf-keywords"),
    "q70_deduped_corpus": QuerySpec(q70_deduped_corpus, Q70_SQL, "§7 dedup-materialize"),
    "q71_quality_percentile_gate": QuerySpec(
        q71_quality_percentile_gate, Q71_SQL, "§7 adaptive-quality-gate"
    ),
    "q72_frequent_tokens": QuerySpec(q72_frequent_tokens, Q72_SQL, "§7 heavy-hitters"),
    "q74_chunk_dedup": QuerySpec(q74_chunk_dedup, Q74_SQL, "§7 dedup-chunks"),
    "q75_shuffle_shards": QuerySpec(q75_shuffle_shards, Q75_SQL, "§7 training-shuffle"),
    "q76_kmeans_clusters": QuerySpec(q76_kmeans_clusters, None, "§7 embedding-clustering"),
    "q77_semantic_dedup": QuerySpec(q77_semantic_dedup, None, "§7 dedup-semantic"),
    "q78_quantization_error": QuerySpec(
        q78_quantization_error, Q78_SQL, "§7 embedding-quantization"
    ),
    "q79_bigram_logprob": QuerySpec(q79_bigram_logprob, Q79_SQL, "§7 corpus-lm-bigram"),
    "q80_unicode_dedup": QuerySpec(q80_unicode_dedup, Q80_SQL, "§7 dedup-unicode §2.10"),
    "q81_pack_offsets": QuerySpec(q81_pack_offsets, Q81_SQL, "§7 sequence-packing"),
    "q82_pca_project": QuerySpec(q82_pca_project, None, "§7 embedding-pca"),
    "q83_pii_scrub": QuerySpec(q83_pii_scrub, _q83_sql(), "§7 pii-redaction"),
    "q84_dup_ngram_coverage": QuerySpec(
        q84_dup_ngram_coverage, Q84_SQL, "§7 text-repetition-coverage"
    ),
    "q85_incremental_dedup": QuerySpec(
        q85_incremental_dedup, Q85_SQL, "§7 dedup-incremental"
    ),
    "q86_corpus_pipeline": QuerySpec(
        q86_corpus_pipeline, Q86_SQL, "§7 corpus-build-pipeline"
    ),
    "q87_fixed_sample": QuerySpec(q87_fixed_sample, Q87_SQL, "§7 sampling-fixed-k"),
    "q88_zscore_by_source": QuerySpec(
        q88_zscore_by_source, Q88_SQL, "§7 group-normalization"
    ),
    "q89_build_vocab": QuerySpec(q89_build_vocab, Q89_SQL, "§7 vocab-build"),
    "q90_encode_documents": QuerySpec(
        q90_encode_documents, Q90_SQL, "§7 corpus-encode"
    ),
    "q91_token_entropy": QuerySpec(q91_token_entropy, Q91_SQL, "§7 text-entropy"),
    "q92_containment_pairs": QuerySpec(
        q92_containment_pairs, Q92_SQL, "§7 dedup-containment"
    ),
    "q93_mad_by_source": QuerySpec(q93_mad_by_source, Q93_SQL, "§2.10 U5 applyInPandas"),
    "q94_trimmed_mean": QuerySpec(q94_trimmed_mean, Q94_SQL, "§2.10 U5 grouped-agg"),
    "q95_global_positions": QuerySpec(
        q95_global_positions, Q95_SQL, "§7 global-index-no-sort"
    ),
    "q96_quality_logistic": QuerySpec(
        q96_quality_logistic, Q96_SQL, "§7 model-quality-score"
    ),
    "q99_weighted_sample": QuerySpec(
        q99_weighted_sample, Q99_SQL, "§7 sampling-weighted"
    ),
    "q103_incremental_embedding_dedup": QuerySpec(
        q103_incremental_embedding_dedup, Q103_SQL, "§7 dedup-embedding-incremental"
    ),
    "q105_neardup_calibration": QuerySpec(
        q105_neardup_calibration, Q105_SQL, "§7 dedup-embedding-calibration"
    ),
    "q113_incremental_dedup_calibration": QuerySpec(
        q113_incremental_dedup_calibration, Q113_SQL, "§7 dedup-incremental-calibration"
    ),
    "q114_kmeans_audit": QuerySpec(
        q114_kmeans_audit, Q114_SQL, "§7 embedding-clustering-audit"
    ),
    "q106_ann_lsh_recall_audit": QuerySpec(
        q106_ann_lsh_recall_audit, Q106_SQL, "§7 similarity-lsh-audit"
    ),
    "q107_ann_ivf_recall_audit": QuerySpec(
        q107_ann_ivf_recall_audit, Q107_SQL, "§7 similarity-ivf-audit"
    ),
    "q108_minhash_recall_audit": QuerySpec(
        q108_minhash_recall_audit, Q108_SQL, "§7 dedup-minhash-audit"
    ),
    "q109_semdedup_precision_audit": QuerySpec(
        q109_semdedup_precision_audit, Q109_SQL, "§7 dedup-semantic-audit"
    ),
    "q110_winnow_guarantee_audit": QuerySpec(
        q110_winnow_guarantee_audit, Q110_SQL, "§7 dedup-winnow-audit"
    ),
    "q111_pca_variance_audit": QuerySpec(
        q111_pca_variance_audit, Q111_SQL, "§7 decomposition-audit"
    ),
    "q112_simhash_identity_audit": QuerySpec(
        q112_simhash_identity_audit, Q112_SQL, "§7 dedup-simhash-audit"
    ),
    "q116_importance_resample": QuerySpec(
        q116_importance_resample, Q116_SQL, "§7 sampling-importance"
    ),
    "q117_temperature_mixture": QuerySpec(
        q117_temperature_mixture, Q117_SQL, "§7 sampling-temperature"
    ),
    "q118_percentile_gate_scale_audit": QuerySpec(
        q118_percentile_gate_scale_audit, Q118_SQL, "§7 adaptive-quality-gate-scale"
    ),
    "q121_streaming_heavy_hitters_replay": QuerySpec(
        q121_streaming_heavy_hitters_replay,
        Q121_SQL,
        "§2.9 stateful-sketch streaming-batch-parity",
    ),
    "q122_streaming_admission_replay": QuerySpec(
        q122_streaming_admission_replay,
        Q122_SQL,
        "§2.9 admission streaming-batch-parity",
    ),
    "q127_cluster_balanced_sample_audit": QuerySpec(
        q127_cluster_balanced_sample_audit,
        Q127_SQL,
        "§7 sampling-cluster-balanced",
    ),
    "q128_streaming_scrub_replay": QuerySpec(
        q128_streaming_scrub_replay,
        _q128_sql(),
        "§2.9 pii-scrub streaming-batch-parity",
    ),
    "q129_streaming_dedup_replay": QuerySpec(
        q129_streaming_dedup_replay,
        Q129_SQL,
        "§2.9 content-dedup streaming-batch-parity",
    ),
    "q131_lsh_index_lifecycle_audit": QuerySpec(
        q131_lsh_index_lifecycle_audit,
        Q131_SQL,
        "§7 similarity-index-lifecycle-audit",
    ),
    "q133_bloom_decontaminate": QuerySpec(
        q133_bloom_decontaminate, Q63_SQL, "§7 dedup-decontaminate-bloom"
    ),
    "q134_lsh_compaction_audit": QuerySpec(
        q134_lsh_compaction_audit,
        Q134_SQL,
        "§7 similarity-index-compaction-audit",
    ),
    "q135_lsh_deletion_audit": QuerySpec(
        q135_lsh_deletion_audit,
        Q135_SQL,
        "§7 similarity-index-deletion-audit",
    ),
    "q136_ivf_index_lifecycle_audit": QuerySpec(
        q136_ivf_index_lifecycle_audit,
        Q136_SQL,
        "§7 similarity-ivf-index-lifecycle-audit",
    ),
    "q137_ivf_deletion_audit": QuerySpec(
        q137_ivf_deletion_audit,
        Q137_SQL,
        "§7 similarity-ivf-index-deletion-audit",
    ),
    "q138_ivf_append_drift_audit": QuerySpec(
        q138_ivf_append_drift_audit,
        Q138_SQL,
        "§7 similarity-ivf-append-drift-audit",
    ),
    "q139_pq_reconstruction_audit": QuerySpec(
        q139_pq_reconstruction_audit,
        Q139_SQL,
        "§7 similarity-pq-codec-audit",
    ),
    "q140_pq_rerank_recall_audit": QuerySpec(
        q140_pq_rerank_recall_audit,
        Q140_SQL,
        "§7 similarity-pq-rerank-recall-audit",
    ),
    "q141_ivfpq_recall_audit": QuerySpec(
        q141_ivfpq_recall_audit,
        Q141_SQL,
        "§7 similarity-ivfpq-pipeline-recall-audit",
    ),
    "q142_streaming_index_maintenance_replay": QuerySpec(
        q142_streaming_index_maintenance_replay,
        Q142_SQL,
        "§2.9 + §7 streaming-index-maintenance",
    ),
    "q143_duplicated_spans": QuerySpec(
        q143_duplicated_spans, Q143_SQL, "§7 dedup-spans"
    ),
    "q144_scrub_spans": QuerySpec(q144_scrub_spans, Q144_SQL, "§7 dedup-spans-scrub"),
    "q145_contaminated_spans": QuerySpec(
        q145_contaminated_spans, Q145_SQL, "§7 decontaminate-spans"
    ),
    "q146_scrub_contaminated": QuerySpec(
        q146_scrub_contaminated, Q146_SQL, "§7 decontaminate-spans-scrub"
    ),
    "q147_gram_index_coverage": QuerySpec(
        q147_gram_index_coverage, Q147_SQL, "§7 dedup-spans-gram-index"
    ),
}
