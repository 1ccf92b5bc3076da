"""Corpus-relative document statistics (SURVEY.md §7 north-star).

Per-document signals computed against WHOLE-CORPUS statistics — the
class of quality scores the purely columnar q32 features cannot
express: a document is scored by how its tokens distribute across the
corpus (unigram language-model likelihood, TF-IDF salience).

Scale shape for both: one explode of the token stream, one token-keyed
aggregation for the global statistic (map-side partial agg — the
shuffle carries one row per DISTINCT token, not per occurrence), and a
token-keyed equi-join back to re-score occurrences. Corpus-level
scalars (total token count, document count) ride 1-row broadcast
frames. Nothing is ever collected to the driver.
"""

from __future__ import annotations

import pandas as pd  # module-global: pandas_udf/applyInPandas hints resolve here
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from citibike_analysis_spark.functions.text import tokens


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean unigram log-likelihood under the corpus's own
    token distribution: ``avg over occurrences of ln(count(t)/N)``.

    The gibberish/outlier detector of the quality family: documents of
    rare tokens (OCR noise, wrong language, mojibake) score far below
    the corpus mode, with no model dependency. Output:
    (doc_id, n_tokens, avg_logp) — avg_logp null for empty documents.

    r14 (guide §2.5): the corpus is ``spread()`` first — tokenize +
    explode is the CPU-heavy stage and a single-row-group source runs it
    on one core. ``freq`` deliberately stays UNPERSISTED: its only
    duplicated consumer is the 1-row total, and the measured A/B
    (ab_env, reuse=persist vs none, fresh-JVM min-of-3) read the persist
    10% SLOWER — the redundant branch evaluation races on otherwise-idle
    cores while the persist adds a barrier + cache write (the same
    economics as Finding 1's lazy-default decision in
    OPTIMIZATION_r14.md; contrast :func:`bigram_logprob`, where three
    heavy branches make the persist win).
    """
    from citibike_analysis_spark.partitioning import spread

    # explode_OUTER + no join back to df (r15 — the q90/q74 pattern,
    # guide §2.4/§8): the old plan LEFT-joined the score aggregate back
    # to a bare-id scan of the source only to resurrect empty
    # documents. The OUTER explode keeps a null-token row per empty
    # document; the freq branch filters it out (so corpus counts and N
    # are unchanged), the re-score join goes LEFT (a null token matches
    # nothing), count(_t) ignores it and avg skips the null log — every
    # df row is present in one aggregate, one less source reference,
    # no join. Byte-identical to the join form at sf0.01/sf0.1 and on
    # empty/null-text fixtures (verified before landing).
    df = spread(df, id_col)
    tk = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(tokens(F.col(text_col))).alias("_t"),
    )
    freq = (
        tk.filter(F.col("_t").isNotNull())
        .groupBy("_t")
        .agg(F.count("*").alias("_c"))
    )
    total = freq.agg(F.sum("_c").alias("_n"))  # 1 row: corpus token count
    return (
        tk.join(freq, "_t", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("_id")
        .agg(
            F.count("_t").alias("n_tokens"),
            F.avg(F.log(F.col("_c") / F.col("_n"))).alias("_avg"),
        )
        .select(
            F.col("_id").cast("long").alias("doc_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("_avg", 6).alias("avg_logp"),
        )
    )


def importance_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
) -> DataFrame:
    """DSIR-style importance scores for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS — the unigram-feature instantiation): score each RAW-pool
    document by how much likelier its tokens are under the TARGET
    domain's language model than under the pool's own,

        ``logratio = mean over occurrences of
        ln p̂_target(t) − ln p̂_raw(t)``,

    with add-one smoothing over the UNION vocabulary (V = distinct
    tokens across both sides), so pool-only tokens get a finite target
    probability. High scores = "looks like the target domain"; the
    selection step gates on a score percentile (see q116).

    ``target_col`` is a boolean column marking the target-domain sample
    rows; only pool rows (``NOT target``) are scored and returned.
    Output: (doc_id, n_tokens, logratio); logratio null for empty pool
    documents, which the caller's gate drops.

    Scale shape: ONE token explode serves both language models — the
    per-token aggregation computes target and pool counts as conditional
    sums in the same map-side partial pass, so the shuffle carries one
    row per distinct token with two counters, not two token streams.
    Corpus scalars (N_target, N_raw, V) ride a 1-row broadcast. The
    re-score join is token-keyed like :func:`unigram_logprob`; nothing
    collects to the driver.
    """
    # explode_OUTER + no join back (r15 — same pattern and verification
    # as unigram_logprob above): the freq branch filters the null-token
    # rows so both language models and the union vocabulary are
    # unchanged; the re-score join goes LEFT and empty pool documents
    # ride through their own aggregate group.
    tk = df.select(
        F.col(id_col).alias("_id"),
        F.col(target_col).cast("boolean").alias("_tgt"),
        F.explode_outer(tokens(F.col(text_col))).alias("_t"),
    )
    freq = tk.filter(F.col("_t").isNotNull()).groupBy("_t").agg(
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("_ct"),
        F.sum(F.when(F.col("_tgt"), 0).otherwise(1)).alias("_cr"),
    )
    totals = freq.agg(
        F.sum("_ct").alias("_nt"),
        F.sum("_cr").alias("_nr"),
        F.count("*").alias("_v"),
    )  # 1 row: target tokens, raw-pool tokens, union vocabulary size
    return (
        tk.filter(~F.col("_tgt"))
        .join(freq, "_t", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("_id")
        .agg(
            F.count("_t").alias("n_tokens"),
            F.avg(
                F.log((F.col("_ct") + 1) / (F.col("_nt") + F.col("_v")))
                - F.log((F.col("_cr") + 1) / (F.col("_nr") + F.col("_v")))
            ).alias("_lr"),
        )
        .select(
            F.col("_id").cast("long").alias("doc_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("_lr", 6).alias("logratio"),
        )
    )


def build_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Tokenizer vocabulary: every distinct token with its corpus count
    and a dense frequency-rank id (0 = most frequent; ties break on
    token text — fully deterministic). Output: (token, n_occurrences,
    token_id).

    Scale note: the ranking window is GLOBAL over the *vocabulary* —
    the distinct-token set, which is orders of magnitude smaller than
    the corpus (heaps' law: ~10⁶–10⁷ rows at 100 TB) — so the
    single-partition sort ranks millions of 16-byte rows, not the
    corpus. The corpus-sized work (token counting) is a hash aggregation
    with map-side partials. If a pathological vocabulary ever outgrew
    one task, rank via approx-quantile bucketing (operators/windows.
    approx_ntile) exactly as q56 does for suppliers.
    """
    from citibike_analysis_spark.partitioning import spread

    # spread() before tokenize (r14, guide §2.5): keyed on the text
    # column (this operator has no id column in scope); deterministic
    # and well-spread for any non-degenerate corpus. Measured as part
    # of q90's 0.44x A/B (vocab + encode together).
    df = spread(df, text_col)
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return counts.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("long")
    )


def encode_documents(
    df: DataFrame, id_col: str, text_col: str, vocab: DataFrame
) -> DataFrame:
    """Encode every document as its token-id sequence under ``vocab``
    (:func:`build_vocab` output): (doc_id, n_tokens, token_ids
    array<long>) — the materialization step that turns a text corpus
    into the integer arrays a trainer memory-maps. Unknown tokens
    (absent from the vocab) encode as -1.

    Plan shape: posexplode (position is load-bearing — the sequence must
    be rebuilt in order), broadcast-or-shuffle equi-join against the
    vocab on the token, then groupBy doc re-assembling with
    array_sort(collect_list(struct(pos, id))) — the same
    order-restoring aggregation as dedup_chunks' reassembly. Empty
    documents produce an empty array.

    Contract: ``vocab`` must fit one broadcast. Its (token, token_id)
    side is always ``F.broadcast``-hinted, so an oversized vocab fails
    on the driver (out of memory or the broadcast size limit) instead of
    falling back to a sort-merge join. :func:`build_vocab` output
    already meets this (its global rank window needs the vocabulary in
    one task); callers passing any other frame must prune it first.
    """
    from citibike_analysis_spark.partitioning import spread

    # spread() the tokenize+posexplode side only (r14, guide §2.5): the
    # trailing doc_id join reads bare ids and would pay the exchange for
    # nothing. q90 A/B (with build_vocab's spread): 6.56 → 2.86 s.
    tk = spread(df, id_col).select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk")
    )
    # posexplode_OUTER + no join back to df (r15, guide §2.3/§8 "attach
    # without re-shuffling the payload"): the old plan posexploded (a
    # zero-token document vanished) and LEFT-joined the aggregate back
    # to df only to resurrect those rows — and at the x10 cell that
    # join's enc-side exchange shipped the ENCODED ARRAYS (123 MB of
    # payload moved to attach bare ids: AQE flips the join to SMJ once
    # enc outgrows the broadcast threshold). The OUTER explode emits a
    # (null, null) row per empty document, count(token) ignores it and
    # collect_list skips the null struct, so every df row is already
    # present in the aggregate — same rows, one source reference
    # instead of two, no payload-bearing join (output proven
    # byte-identical to the join form at sf0.01 and sf0.1, and on
    # empty-text/null-text fixtures, before landing).
    pos = tk.select("_id", F.posexplode_outer("_tk").alias("_pos", "token"))
    # EXPLICIT broadcast of the vocab side (r15, guide §3.1 "estimates
    # are often badly wrong after filters or UDFs — use a hint"): the
    # rank window in build_vocab destroys the size estimate, so at the
    # x10 cell the planner flipped this join to SortMergeJoin — which
    # exchanged the posexploded corpus by token (138 MB) AND destroyed
    # the spread()'s _id partitioning, forcing a second 123 MB exchange
    # to reassemble. With the vocab broadcast, the join and the
    # reassembly aggregate both ride the spread partitioning: zero
    # corpus-sized exchanges in the whole encode (x10 plan: 2 exchanges
    # of exploded rows → 0). Scale contract unchanged: build_vocab's
    # global rank window ALREADY requires the vocabulary (heaps' law,
    # ~10⁶-10⁷ rows at 100 TB) to fit a single task; a side that fits
    # one task fits a broadcast.
    joined = pos.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    )
    enc = joined.groupBy("_id").agg(
        F.count("token").alias("n_tokens"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("token").isNotNull(),
                        F.struct(
                            "_pos",
                            F.coalesce("token_id", F.lit(-1)).alias("tid"),
                        ),
                    )
                )
            ),
            lambda s: s["tid"],
        ).alias("token_ids"),
    )
    return enc.select(
        F.col("_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("token_ids").alias("token_ids"),
    )


def group_mad(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group MEDIAN + MAD (median absolute deviation) — the robust
    location/scale pair for outlier gating when means are dragged by a
    heavy tail. Output: (group_cols…, n, median, mad).

    This is the engine's batch ``applyInPandas`` slice (SURVEY.md §2.10
    U5): MAD is a two-level order statistic (a median OF deviations FROM
    a median), which no single-pass built-in aggregate expresses — the
    legitimate case for the grouped-pandas escape hatch. Each group's
    rows land in one Arrow batch on one task (groups must fit a task —
    the stat is per-SOURCE, not per-corpus, by design); interpolated
    median convention matches pandas/DuckDB ``quantile_cont(0.5)``.
    """

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        med = pdf[value_col].median()
        mad = (pdf[value_col] - med).abs().median()
        return pd.DataFrame(
            [
                [*(pdf[c].iloc[0] for c in group_cols), len(pdf), float(med), float(mad)]
            ],
            columns=[*group_cols, "n", "median", "mad"],
        )

    group_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema
        if f.name in group_cols
    )
    schema = f"{group_fields}, n long, median double, mad double"
    out = df.groupBy(*group_cols).applyInPandas(stats, schema)
    return out.select(
        *group_cols, "n", F.round("median", 6).alias("median"), F.round("mad", 6).alias("mad")
    )


def trimmed_mean_udaf(fraction: float = 0.1):
    """GROUPED_AGG pandas UDF (SURVEY.md §2.10 U5): mean after dropping
    ``floor(fraction·n)`` values from each tail — the outlier-immune
    mean for per-group quality dashboards. Usable directly in
    ``.agg(trimmed_mean_udaf(0.1)(F.col(x)))``; partial-agg does NOT
    apply (order statistics don't merge), so each group's values gather
    on one task — same per-group-fits-a-task contract as
    :func:`group_mad`, and the reason the default path for plain means
    stays with built-ins.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed(v: pd.Series) -> float:
        s = v.sort_values(ignore_index=True)
        n = len(s)
        k = min(int(n * fraction), max((n - 1) // 2, 0))
        return float(s.iloc[k : n - k].mean())

    return trimmed


def group_zscore(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    out: str = "zscore",
) -> DataFrame:
    """Per-group standardization: ``z = (x − mean_g) / stddev_g`` with
    the group's SAMPLE standard deviation — the "normalize quality
    scores within each source" step before cross-source thresholds can
    be compared. Groups with zero variance (or a single row) get NULL.

    One window aggregation over the group columns — mean and stddev are
    mergeable moments, so the window's underlying shuffle is the only
    data movement; no join, no second scan.
    """
    w = Window.partitionBy(*group_cols)
    mean = F.avg(value_col).over(w)
    std = F.stddev_samp(value_col).over(w)
    z = F.when(std > 0, (F.col(value_col) - mean) / std)
    return df.withColumn(out, F.round(z, 6))


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean bigram conditional log-likelihood under the
    corpus's own bigram distribution:
    ``avg over bigram occurrences of ln(c(w1 w2) / c(w1 ·))``, where
    ``c(w1 ·)`` counts bigram occurrences starting with ``w1``.

    The order-sensitive upgrade of :func:`unigram_logprob`: a document of
    common tokens in an uncommon ORDER (shuffled text, word salad) scores
    low here while scoring normally on unigrams — the cheap n-gram
    proxy for model-based perplexity filtering. Output:
    (doc_id, n_bigrams, avg_logp) — avg_logp null for documents with
    fewer than two tokens.

    Same scale shape as unigram_logprob: one explode (n-1 rows per doc),
    bigram- and context-keyed aggregations whose shuffles carry one row
    per DISTINCT bigram/context, and an equi-join back to occurrences.

    r14 (guide §2.4/§2.5): ``spread()`` + ``reuse(freq)`` for the same
    reasons as :func:`unigram_logprob` — profiled THREE racing
    single-task evaluations of the tokenize+explode pipeline (one per
    freq consumer plus the re-score side); the persist collapses the
    two freq subtrees and the spread parallelizes what remains.
    """
    from citibike_analysis_spark.cache import reuse
    from citibike_analysis_spark.partitioning import spread

    df = spread(df, id_col)
    tk = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk")
    )
    idx = F.when(
        F.size("_tk") < 2, F.array().cast("array<int>")
    ).otherwise(F.sequence(F.lit(1), F.size("_tk") - 1))
    # explode_OUTER + no join back (r15 — the q90/q74/unigram pattern):
    # a document with fewer than two tokens keeps a (null, null) bigram
    # row; the freq branch filters it (bigram and context counts are
    # unchanged), the re-score joins go LEFT (null keys match nothing),
    # count(_w1) ignores it and avg skips the null log — every df row
    # is present in the single aggregate with no bare-id scan and no
    # join back. Byte-identical at sf0.01/sf0.1 + edge fixtures.
    bg = tk.select(
        "_id",
        F.explode_outer(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("_tk"), i).alias("_w1"),
                    F.element_at(F.col("_tk"), i + 1).alias("_w2"),
                ),
            )
        ).alias("_b"),
    ).select("_id", "_b._w1", "_b._w2")
    freq = reuse(
        bg.filter(F.col("_w1").isNotNull())
        .groupBy("_w1", "_w2")
        .agg(F.count("*").alias("_c"))
    )
    ctx = freq.groupBy("_w1").agg(F.sum("_c").alias("_cw1"))
    return (
        bg.join(freq, ["_w1", "_w2"], "left")
        .join(ctx, "_w1", "left")
        .groupBy("_id")
        .agg(
            F.count("_w1").alias("n_bigrams"),
            F.avg(F.log(F.col("_c") / F.col("_cw1"))).alias("_avg"),
        )
        .select(
            F.col("_id").cast("long").alias("doc_id"),
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.round("_avg", 6).alias("avg_logp"),
        )
    )


def tfidf_topk(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k TF-IDF keywords per document:
    ``score(t, d) = tf(t, d) × ln(N_docs / df(t))``, ties broken by
    token text — deterministic. Output: (doc_id, token, score, rk).

    The ranking window partitions by document, so Spark's
    WindowGroupLimit keeps ≤ k rows per document on the map side of the
    final shuffle.
    """
    # NOT spread() (r14): measured 1.27x slower (q69 min 1.89 → 2.40 s)
    # — the (doc, token) tf aggregate right above the explode already
    # shuffles, so the extra exchange buys no downstream parallelism.
    tk = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("_t")
    )
    tf = tk.groupBy("_id", "_t").agg(F.count("*").alias("_tf"))
    docfreq = tf.groupBy("_t").agg(F.count("*").alias("_df"))
    ndocs = df.agg(F.count("*").alias("_nd"))  # 1 row
    scored = (
        tf.join(docfreq, "_t")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("_score", F.col("_tf") * F.log(F.col("_nd") / F.col("_df")))
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_score"), F.asc("_t"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            F.col("_id").cast("long").alias("doc_id"),
            F.col("_t").alias("token"),
            F.round("_score", 6).alias("score"),
            "rk",
        )
    )
