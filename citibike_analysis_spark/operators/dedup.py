"""Deduplication operators for large-scale text corpora (SURVEY.md §7 stage 7).

Three tiers, all pure DataFrame composition:

- **exact**: content-hash groupBy — one shuffle on the hash key (q35
  groups on ``functions.text.bag_fingerprint`` the same way for an
  order/multiplicity-insensitive key).
- **n-gram Jaccard**: exact near-dup via shingle inverted index — the
  self-join is on the *shingle* key, so work is proportional to shared
  shingles, not to |docs|².
- **MinHash + LSH**: approximate near-dup at corpus scale — signatures are
  computed array-side (no explode, no shuffle), banding turns candidate
  generation into an equi-join on (band, band-hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from citibike_analysis_spark.cache import free_checkpoint, reuse
from citibike_analysis_spark.functions.text import (
    kgram_hashes_of,
    shingles_of,
    tokens,
    winnow_of,
)


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, canonical_id, dup_count).

    Canonical = min id. One hash-partitioned aggregation; at 100 TB the
    md5 key distributes uniformly so there is no skew by construction.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).cast("long").alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _df_capped(index: DataFrame, key: str, max_doc_freq: int | None) -> DataFrame:
    """Drop inverted-index keys whose document frequency exceeds the cap.

    A count window over the key — one shuffle on ``key``, which the
    downstream self-join (also keyed on ``key``) reuses, so the cap costs
    no extra exchange of the big side. Without it a single ubiquitous
    key (boilerplate) turns the self-join quadratic: df=d → d(d-1)/2
    join rows.
    """
    if max_doc_freq is None:
        return index
    return (
        index.withColumn("_df", F.count("*").over(Window.partitionBy(key)))
        .filter(F.col("_df") <= F.lit(max_doc_freq))
        .drop("_df")
    )


def _shingle_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
):
    """Shared inverted-index core of the shingle near-dup family —
    previously copy-pasted line-for-line between
    :func:`ngram_jaccard_pairs` and :func:`ngram_containment_pairs`
    (review finding). Returns ``(sizes, inter)``: per-doc distinct
    shingle counts from the FULL index, and intersection counts
    ``(_ida < _idb, _common)`` over the df-capped join side.

    The inverted index carries ONLY (doc id, 64-bit shingle hash):
    16-byte rows through the join shuffle. Two expression-shape traps,
    both measured ~10x at sf0.1:
    - the shingle expression must be exploded *directly* over the named
      token projection (a named array column gets an inferred
      size(...)>0 filter that re-evaluates the whole array per row);
    - |shingle set| must NOT ride through the explode (a projected
      size(array-expr) column is re-evaluated per exploded row) — set
      sizes are re-aggregated from the index and joined onto the far
      smaller pair table instead.
    A 64-bit hash collision would conflate two shingles — negligible at
    any realistic shingle cardinality (birthday bound ≈ n²/2⁶⁵).

    The corpus is ``spread()`` first (r14): tokenize+shingle+hash is the
    family's CPU-heavy stage and a single-row-group source would run it
    on one core (guide §2.5 input skew; no-op whenever the scan already
    carries ≥ default-parallelism partitions).
    """
    from citibike_analysis_spark.partitioning import spread

    df = spread(df, id_col)
    tk = df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk"))
    inv = tk.select(
        "_id", F.explode(shingles_of(F.col("_tk"), n)).alias("_s")
    ).select("_id", F.xxhash64("_s").alias("_h"))
    # the index feeds three plan branches (sizes + both join sides);
    # materialize once so tokenize+shingle+explode doesn't run three times
    inv = reuse(inv)
    sizes = inv.groupBy("_id").agg(F.count("*").alias("_n"))  # shingles distinct
    joinable = _df_capped(inv, "_h", max_doc_freq)
    # Materialize the df-capped view once (r15, guide §2.4): both
    # self-join sides reference it, and the plan computed the cap
    # WINDOW (a full-index exchange + count window) once PER SIDE —
    # plans/r15/q61_capped_jaccard_before.txt shows two Window nodes
    # with two hashpartitioning(_h) exchanges and no ReusedExchange.
    # Persisting the capped index runs the window once; at corpus scale
    # that saves a full index exchange+window pass per query.
    # Interleaved fresh-JVM min-of-5 (scripts/ab_env.py, since removed;
    # recover it from commit fb98187; sf0.1, local[32]):
    # q34 1.054→0.640 s (0.61×), q61 1.898→1.230 (0.65×),
    # q46 3.334→2.838 (0.85×), q92 0.809→0.791 (0.98×). Persisting
    # ``sizes`` as well was measured and REJECTED (same protocol:
    # "both" mode read q34 0.777 vs join-only 0.640, q61 1.526 vs
    # 1.230 — the tiny aggregate's persist barrier costs more than the
    # duplicated one-pass agg; same economics as q68's rejected freq
    # persist).
    # Eager materialization of this persist was measured and REJECTED
    # twice at the x10 cell (r15): a blanket eager reuse() read q61
    # 0.69x once but q34 2.85x and q46 1.21x worse; a targeted
    # count() on joinable alone read q61 1.02 (wash) and q46 1.56x
    # worse on the re-run — the one-off q61 win did not reproduce. The
    # lazy local default stands (cache._eager_default).
    if max_doc_freq is not None:
        joinable = reuse(joinable)
    # NOT width-pinned (r14): an explicit repartition(_h) on the join
    # side — the q39/q86 exchange-pin pattern — measured q34 1.81x and
    # q92 1.75x SLOWER (q46 wash): this self-join broadcasts one side
    # from the persisted index, so the pin added a real exchange and
    # forced a sort-merge where a broadcast join was free. The pin
    # pattern pays only where the planner already NEEDS the exchange.
    a, b = joinable.alias("a"), joinable.alias("b")
    inter = (
        a.join(b, (F.col("a._h") == F.col("b._h")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("_ida"), F.col("b._id").alias("_idb"))
        .agg(F.count("*").alias("_common"))
    )
    return sizes, inter


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard near-duplicate pairs (a < b, jaccard ≥ threshold).

    Inverted-index plan: explode distinct shingles, self-join on the
    shingle, count intersections per pair, then
    ``J = |∩| / (|A| + |B| - |∩|)``. High-frequency shingles dominate the
    join fan-out — one shingle in d documents contributes d(d-1)/2 join
    rows — so at corpus scale set ``max_doc_freq``: shingles appearing in
    more than that many documents are dropped from the JOIN side of the
    index (standard candidate pruning). Set sizes |A|,|B| still come from
    the full index, so the estimate is conservative (``J_est ≤ J``): the
    cap can only *miss* pairs whose every shared shingle is ubiquitous,
    never admit false positives. ``None`` (default) disables the cap and
    the result is exact.
    """
    sizes, inter = _shingle_intersections(df, id_col, text_col, n, max_doc_freq)
    inter = inter.withColumnsRenamed({"_ida": "id_a", "_idb": "id_b"})
    return (
        inter.join(sizes.withColumnsRenamed({"_id": "id_a", "_n": "_na"}), "id_a")
        .join(sizes.withColumnsRenamed({"_id": "id_b", "_n": "_nb"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("_common") / (F.col("_na") + F.col("_nb") - F.col("_common")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select(
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: containment ``C(A→B) = |A∩B| / |A|`` — the
    fraction of A's shingles that also appear in B. Catches what Jaccard
    structurally cannot: a short document quoted whole inside a much
    longer one has tiny Jaccard (the union is dominated by B) but
    containment ≈ 1. The quote/subset detector of the dedup family
    (cf. Broder's resemblance-vs-containment distinction, SEQUENCES'97).

    Output: (id_a, id_b, containment) with id_a the CONTAINED side —
    both directions of a pair are evaluated, so (a,b) and (b,a) can both
    appear; no a<b normalization (the relation is directional).

    Same inverted-index plan as :func:`ngram_jaccard_pairs` (the
    intersection table is computed once for the unordered pair and then
    scored in both directions), including the ``max_doc_freq`` join-side
    cap — capped scores can only shrink (conservative).
    """
    sizes, inter = _shingle_intersections(df, id_col, text_col, n, max_doc_freq)
    inter = inter.withColumnsRenamed({"_ida": "_x", "_idb": "_y"})
    # score the unordered intersection in both directions; materialize it
    # first — it feeds BOTH union branches, and without reuse() the
    # dominant-cost shingle self-join subtree appears twice in the plan
    # (executes twice with exchange reuse disabled — review finding;
    # same rule as inv/cand/sh)
    inter = reuse(inter)
    # single-reference symmetrize (r14, guide §2.4): the explode derives
    # both directions from one copy of the intersection plan instead of
    # embedding it once per union side
    directed = (
        inter.select(
            F.explode(
                F.array(
                    F.struct(F.col("_x"), F.col("_y")),
                    F.struct(F.col("_y").alias("_x"), F.col("_x").alias("_y")),
                )
            ).alias("_d"),
            "_common",
        )
        .select("_d._x", "_d._y", "_common")
    )
    return (
        directed.join(sizes.withColumnsRenamed({"_id": "_x", "_n": "_na"}), "_x")
        .withColumn("containment", F.col("_common") / F.col("_na"))
        .filter(F.col("containment") >= F.lit(threshold))
        .select(
            F.col("_x").cast("long").alias("id_a"),
            F.col("_y").cast("long").alias("id_b"),
            F.round("containment", 6).alias("containment"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures: (id, h0..h{k-1}) with ``hi = min(xxhash64(i, s))``.

    Plan shape: explode shingles once, then ONE hash-aggregate computing
    all k family minima (partial agg map-side, so the shuffle moves k
    longs per document — not the shingles). This deliberately avoids the
    tempting array-side ``transform(sequence(k), i -> array_min(...))``
    projection: Catalyst re-inlines the shingle-derivation subtree under
    every hash family (no CSE inside nested lambdas; ProjectCollapse undoes
    manual materialization), recomputing the shingling k times per row —
    measured ~20x slower. The explode+agg form evaluates each shingle
    exactly once per family and scales linearly.

    Each shingle string is hashed ONCE to a 64-bit base value; family i
    hashes the fixed-width base (``xxhash64(i, base)``, an 8-byte input)
    instead of re-hashing the variable-length string k times — same
    independence guarantees, measured ~2x on the signature stage.

    Spread first (r14): the tokenize+shingle+hash stage is CPU-bound and
    must not inherit a single-split scan's one-core layout (guide §2.5).
    """
    from citibike_analysis_spark.partitioning import spread

    df = spread(df, id_col)
    exploded = (
        df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk"))
        .select("_id", F.explode(shingles_of(F.col("_tk"), shingle_n)).alias("_s"))
        .select("_id", F.xxhash64("_s").alias("_h"))
    )
    # each family min as ONE F.expr string: the nested-builder form
    # (F.min(F.xxhash64(F.lit(i), F.col("_h"))).alias(...)) cost 5 py4j
    # round-trips per family — profiled at 0.78 s of q36's 1.6 s
    # DataFrame-construction wall (r14, guide §5: driver-side latency;
    # ~0.45 ms per round-trip × 64 families × 5 calls). The SQL string
    # parses to the identical expression: an INT literal `i` (matching
    # F.lit(int)) hashed with the long `_h`.
    return exploded.groupBy("_id").agg(
        *[
            F.expr(f"min(xxhash64({i}, _h)) AS h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) via banded MinHash-LSH.

    Split the k-hash signature into ``bands`` bands of ``k/bands`` rows;
    two docs are candidates iff some band hashes identically. Candidate
    generation is groupBy(band, band_hash) + within-bucket pairing — an
    equi-join, not a cross product. Pair probability ≈ 1-(1-J^r)^b.

    ``bands`` must divide ``num_hashes``: bands > num_hashes would make
    every band hash the empty string (ALL docs bucket together — the
    exact O(n²) blowup LSH exists to avoid), and a non-divisor silently
    ignored the trailing hashes, weakening the advertised guarantee
    (review finding).
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes: got num_hashes={num_hashes}, "
            f"bands={bands}"
        )
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    # one F.expr for the whole band array (r14): the nested-builder form
    # paid ~8 py4j round-trips per band (profiled 0.79 s of q36's
    # construction wall across these two listcomps); the SQL string is
    # one round-trip and parses to the identical expression (INT band
    # literal, same concat_ws(',') over the same h-columns).
    band_structs = F.expr(
        "array({})".format(
            ", ".join(
                "struct({j} AS band, xxhash64(concat_ws(',', {cols})) AS bh)".format(
                    j=j,
                    cols=", ".join(f"h{j * rows + r}" for r in range(rows)),
                )
                for j in range(bands)
            )
        )
    )
    banded = sig.select("_id", F.explode(band_structs).alias("_b")).select(
        "_id", "_b.band", "_b.bh"
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").cast("long").alias("id_a"),
            F.col("b._id").cast("long").alias("id_b"),
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard (a < b, J ≥ threshold).

    The verify join re-attaches shingle sets only for candidate ids —
    at scale this touches a vanishing fraction of the corpus.
    """
    cand = minhash_lsh_candidates(df, id_col, text_col, num_hashes, bands, shingle_n)
    # the candidate list feeds the verify join and the id-set derivation;
    # materialize so the signature+banding pipeline runs once
    cand = reuse(cand)
    # Shingle only candidate documents: broadcast-semi-join the candidate
    # id set *below* the shingle projection, so tokenization runs on the
    # (vanishing at scale) candidate subset, not the corpus.
    # One reference to cand, not a self-union (r14, guide §2.4 — same
    # fix as connected_components' symmetrize): ``cand ∪ cand.swap``
    # embedded the banding pipeline twice in the plan; exploding a
    # 2-element array derives both halves from a single copy.
    cand_ids = (
        cand.select(F.explode(F.array("id_a", "id_b")).alias("_cid"))
        .distinct()
    )
    sh = (
        df.join(F.broadcast(cand_ids), df[id_col] == F.col("_cid"), "left_semi")
        .select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk"))
        .select("_id", shingles_of(F.col("_tk"), shingle_n).alias("_sh"))
    )
    sh = reuse(sh)  # reused by both sides of the verify join
    j = (
        cand.join(sh.withColumnsRenamed({"_id": "id_a", "_sh": "_sha"}), "id_a")
        .join(sh.withColumnsRenamed({"_id": "id_b", "_sh": "_shb"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sha", "_shb"))
            / F.size(F.array_union("_sha", "_shb")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    return j.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """(id, fingerprint) winnowing index — one row per selected k-gram
    hash (functions.text.winnow_of). Positional fingerprinting: shared
    fingerprints localize *where* documents overlap, which set-sampling
    (MinHash) cannot. Spread first (r14, guide §2.5): the rolling-hash
    winnowing is CPU-bound."""
    from citibike_analysis_spark.partitioning import spread

    df = spread(df, id_col)
    return (
        df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk"))
        .select("_id", kgram_hashes_of(F.col("_tk"), k).alias("_kh"))
        .select("_id", F.explode(winnow_of(F.col("_kh"), w)).alias("fingerprint"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ min_shared winnowing fingerprints (a < b).

    Same inverted-index join shape as :func:`ngram_jaccard_pairs`: the
    shuffle moves (id, 64-bit fingerprint) rows; candidate work scales
    with shared fingerprints, never |docs|². The w+k-1 guarantee makes
    this the detector for long verbatim spans (quotes, boilerplate,
    near-exact plagiarism) between otherwise-different documents.
    ``max_doc_freq`` caps fingerprint document frequency on the join
    side exactly as in :func:`ngram_jaccard_pairs` — shared counts can
    only shrink, so pairs may fall below ``min_shared`` but none are
    added.
    """
    fp = reuse(  # both join sides read the same index — compute once
        winnow_fingerprints(df, id_col, text_col, k, w)
    )
    fp = _df_capped(fp, "fingerprint", max_doc_freq)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            F.col("n_shared"),
        )
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the count of
    distinct word n-grams it shares with ANY benchmark document, plus a
    boolean flag — the standard pre-training contamination check (drop or
    audit training documents that overlap an eval set's n-grams).

    Output: (doc_id, n_shared, contaminated) — one row per corpus
    document, including clean ones (n_shared = 0).

    Plan shape: both sides reduce to DISTINCT (id, 64-bit n-gram hash)
    index rows; the benchmark's distinct hash set is typically tiny next
    to the corpus (an eval set vs a crawl), so the overlap join is an
    equi-join on the hash that AQE broadcasts when small. The corpus is
    scanned once; nothing quadratic anywhere. A 64-bit hash collision
    would flag one extra shingle — negligible (same birthday bound as
    :func:`ngram_jaccard_pairs`).

    The corpus side is ``spread()`` first (r14, guide §2.5): tokenize +
    shingle + hash is the CPU-heavy stage and a single-row-group source
    runs it on one core (profiled: the corpus gram job carried 0.58 s of
    q63's 0.84 s job time in ONE task). No-op whenever the scan already
    carries ≥ default-parallelism partitions, and a refused probe on
    non-scan-level inputs (q86 passes a window output) leaves the plan
    untouched.
    """
    from citibike_analysis_spark.partitioning import spread

    # spread only the gram side: the final left-join side projects bare
    # ids and would pay the repartition exchange for nothing
    csh = (
        spread(corpus, id_col)
        .select(
            F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk")
        )
        .select("_id", F.explode(shingles_of(F.col("_tk"), n)).alias("_s"))
        .select("_id", F.xxhash64("_s").alias("_h"))
    )
    bsh = (
        benchmark.select(tokens(F.col(text_col)).alias("_tk"))
        .select(F.explode(shingles_of(F.col("_tk"), n)).alias("_s"))
        .select(F.xxhash64("_s").alias("_h"))
        .distinct()
    )
    hits = (
        csh.join(bsh, "_h")
        .groupBy("_id")
        .agg(F.count("*").alias("_n"))  # csh rows are distinct per doc
    )
    return (
        corpus.select(F.col(id_col).alias("doc_id"))
        .join(hits, F.col("doc_id") == F.col("_id"), "left")
        .select(
            F.col("doc_id").cast("long"),
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("_n", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def bloom_m_bits(n_items: int, bits_per_item: int = 16) -> int:
    """Bitmap size (bits) for the bloom gate: ``bits_per_item`` per
    benchmark gram, rounded up to a power of two, floor 1024. Exported
    so instruments (``tests/test_properties.py``; formerly
    ``scripts/ab_bloom_gate.py``, removed, recover it from commit
    fb98187) measure the EXACT filter the operator ships instead of
    re-deriving the sizing inline (r09 ADVICE — an inline copy silently
    desynchronizes).

    ``n_items <= 0`` returns the 1024 floor (r10 ADVICE: the operator
    guards its own empty-benchmark case before calling, but the helper
    is public and the FPP instrument calls it on a sampled gram count —
    an unlucky empty sample crashed with an opaque ``math domain
    error`` from ``log2(0)`` instead of degrading to the floor)."""
    import math

    if n_items <= 0:
        return 1024
    return max(1024, 1 << math.ceil(math.log2(bits_per_item * n_items)))


def bloom_positions(h: Column, m: int, k: int = 4) -> list[Column]:
    """The gate's k salted bit positions for a 64-bit gram hash:
    ``pmod(xxhash64(h, i), m)`` for i in 0..k-1. Shared by the operator
    and its FPP instrument — see :func:`bloom_m_bits`."""
    return [F.pmod(F.xxhash64(h, F.lit(i)), F.lit(m)) for i in range(k)]


def bloom_bit_test(bitmap_col: str, pos_col: str) -> Column:
    """Membership test of one position against the dense ``array<long>``
    bitmap: word = pos DIV 64 (1-indexed for element_at), bit =
    pos MOD 64. Shared by the operator and its FPP instrument — see
    :func:`bloom_m_bits`."""
    return F.expr(
        f"(element_at({bitmap_col}, CAST({pos_col} DIV 64 AS INT) + 1) & "
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({pos_col}, 64) AS INT))) != 0"
    )


def contamination_flags_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    k: int = 4,
    bits_per_item: int = 16,
) -> DataFrame:
    """Bloom-gated benchmark decontamination — identical output to
    :func:`contamination_flags`, different scale shape.

    Why: the exact form joins EVERY corpus n-gram against the
    benchmark's distinct hash set — at 100 TB that is a shuffle (or a
    broadcast of the full 8-byte-per-gram set) sized by the corpus's
    gram count. A Bloom filter compresses the benchmark set to
    ``bits_per_item`` bits per gram (16 bits → FPP ≈ 2e-3 at k=4) and
    the membership probe is a MAP-SIDE, whole-stage-codegen bit test —
    no join, no shuffle — so the overlap join only ever sees the tiny
    bloom-positive slice. False positives are removed by the exact
    hash join over that slice (output equality with the exact operator
    is pytest-pinned); false negatives are impossible, so no
    contaminated document can slip through.

    Built from public DataFrame primitives (`bloom_filter_agg` is not
    exposed in this build): k salted ``xxhash64(gram, i)`` bit
    positions; the benchmark side ``bit_or``-aggregates its positions
    into a dense ``array<long>`` bitmap (m/64 words, m rounded to a
    power of two ≥ bits_per_item×|bench grams|); the bitmap rides to
    every corpus task as ONE broadcast row, and the probe is a
    conjunction of k ``element_at & (1<<bit)`` tests. Sizing contract:
    the bitmap must fit a broadcast — by construction it does for the
    eval-set-vs-crawl asymmetry this audit exists for (1e7 bench grams
    → 20 MB bitmap; the corpus can be arbitrarily large because it is
    never collected, joined, or shuffled before the gate).

    Measured regime (r10 single-JVM + r11 process-boundary cells,
    `scripts/ab_bloom_gate.py`, since removed, recover it from commit
    fb98187; the walls are in SCALE.md): on a SINGLE NODE prefer
    :func:`contamination_flags` — the gate loses a flat ~1.35–1.39×
    to the hashed exact shuffle join at both 11M and 111M probe
    grams, because a local[N] shuffle of 8-byte longs is memory-speed
    while the gate's k hashes + bit tests are paid per probe. What
    the gate buys is SHUFFLE-ROW REDUCTION — measured 9.34× (111.1M
    probe rows → 11.9M bloom-positive) at 10.7% true contamination +
    5.25e-4 observed FPP (= analytic; x10 read 2.27e-4 vs 2.36e-4, so
    the bits_per_item=16/k=4 sizing math holds by measurement) —
    which converts to wall time as the shuffle crosses real process
    boundaries: MEASURED under local-cluster[2,16] at x100 the gate
    reaches statistical parity with the exact shuffle (ratio 1.056
    min-basis, per-pass 1.37/0.98 inside the seam's ±15% band) —
    the exact join slowed 1.32× crossing the socket boundary while
    the gate stayed flat, so each further boundary (network,
    node count) falls on the exact join's 9.34×-larger volume. Use
    this form on multi-node deployments where corpus ≫ benchmark and
    the probe-gram shuffle is the bottleneck; use the exact form on
    single nodes and memory-local shuffles.
    """
    from citibike_analysis_spark.partitioning import spread

    # both sides reduce grams to 64-bit hashes IMMEDIATELY (the exact
    # operator's economics: distinct/shuffle 8-byte longs, never gram
    # strings — the string-keyed first cut paid a 40-byte-row bench
    # shuffle that dominated its wall); the bloom's k salted positions
    # hash the HASH (xxhash64(_h, i)), which inherits the same 64-bit
    # collision bound already documented for the exact join. The corpus
    # gram side is spread() first (r14, guide §2.5) like the exact form.
    csh = (
        spread(corpus, id_col)
        .select(
            F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk")
        )
        .select("_id", F.explode(shingles_of(F.col("_tk"), n)).alias("_s"))
        .select("_id", F.xxhash64("_s").alias("_h"))
    )
    # bsh feeds three branches (the sizing count, the bitmap build, the
    # exact-verify hash set) — materialize once
    bsh = reuse(
        benchmark.select(tokens(F.col(text_col)).alias("_tk"))
        .select(F.explode(shingles_of(F.col("_tk"), n)).alias("_s"))
        .select(F.xxhash64("_s").alias("_h"))
        .distinct()
    )
    ids = corpus.select(F.col(id_col).alias("doc_id").cast("long"))
    n_b = bsh.count()  # index-build-side action, like the LSH auto-bits count
    if n_b == 0:
        # no benchmark grams: every document is clean (the exact
        # operator's hits side is empty and the left join coalesces 0)
        return ids.select(
            "doc_id",
            F.lit(0).cast("long").alias("n_shared"),
            F.lit(False).alias("contaminated"),
        )
    m = bloom_m_bits(n_b, bits_per_item)
    words = m // 64

    def positions(h: Column) -> list[Column]:
        return bloom_positions(h, m, k)

    # benchmark → sparse (word, bits) rows → ONE dense bitmap row (m/64
    # longs). Densification is a numpy scatter behind the declared
    # Arrow seam (same exception class as _bucketize's matmul): the two
    # pure-SQL forms both measured ~10 s at the 10× corpus — a
    # collect() round-trips the array through py4j, and
    # map_from_entries + transform(sequence) pays Spark's LINEAR-scan
    # GetMapValue per index (quadratic in words) — while the scatter is
    # O(words) vectorized with one ~MB Arrow row out.
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    n_words = words

    @pandas_udf("array<long>")
    def _densify(ws, bs):
        import pandas as pd

        out = []
        for w_arr, b_arr in zip(ws, bs):
            dense = np.zeros(n_words, dtype=np.int64)
            if len(w_arr):
                dense[np.asarray(w_arr, dtype=np.int64)] = np.asarray(
                    b_arr, dtype=np.int64
                )
            out.append(dense.tolist())
        return pd.Series(out)

    bitmap = (
        bsh.select(F.explode(F.array(*positions(F.col("_h")))).alias("_p"))
        .select(
            (F.col("_p") / 64).cast("long").alias("_w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(_p, 64) AS INT))").alias(
                "_b"
            ),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_bits"))
        .agg(
            F.collect_list("_w").alias("_ws"),
            F.collect_list("_bits").alias("_bs"),
        )
        .select(_densify("_ws", "_bs").alias("_bm"))
    )

    probe = csh.join(F.broadcast(bitmap))
    for i, pos in enumerate(positions(F.col("_h"))):
        probe = probe.withColumn(f"_p{i}", pos)
    cond = None
    for i in range(k):
        cond_i = bloom_bit_test("_bm", f"_p{i}")
        cond = cond_i if cond is None else (cond & cond_i)
    candidates = probe.filter(cond).select("_id", "_h")

    # exact verify of the bloom-positive slice only (removes the ~2e-3
    # false positives; identical tail to contamination_flags)
    hits = candidates.join(bsh, "_h").groupBy("_id").agg(
        F.count("*").alias("_n")
    )
    return (
        ids.join(hits, ids["doc_id"] == F.col("_id"), "left")
        .select(
            "doc_id",
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("_n", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def dedup_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 20,
) -> DataFrame:
    """Chunk-level exact span dedup: split each document into consecutive
    ``chunk_tokens``-token chunks, keep only the FIRST occurrence of each
    distinct chunk corpus-wide (first = lowest (doc_id, chunk_idx)), and
    reassemble the surviving chunks per document — the
    repeated-span-removal step of corpus cleaning (boilerplate, quoted
    reposts, license headers), at chunk rather than document granularity.

    Output: (doc_id, n_chunks, n_kept, deduped_text) — one row per input
    document; a document whose every chunk appeared earlier keeps
    ``deduped_text = ''``.

    Plan shape: one explode (≈ n_tokens/chunk_tokens rows per doc), one
    window keyed on ``md5(chunk)`` (fixed-width 32-byte shuffle key,
    uniform ⇒ no skew; md5 rather than xxhash64 so the oracle replays
    the identical key), one groupBy to reassemble. Work is linear in
    corpus size; nothing is quadratic and nothing collects.
    """
    # NOT spread() (r15 adjudication of the r14 driver regression —
    # BENCH_r14 read q74 at 0.849 on the touched code): the r14 cell
    # (3.67 → 3.01) did not reproduce under an INTERLEAVED fresh-JVM
    # protocol on an idle host. 6 alternating passes at 32 cores read
    # unspread faster in 5 of 6 (median 1.63 s vs 2.03, min 1.25 vs
    # 1.35); 4 passes at 8 cores read a wash (median 0.98 vs 0.87 the
    # other way). Mechanism matches q72's rejected spread: the exchange
    # ships FULL TEXT bytes to parallelize a tokenize whose output the
    # md5-chunk window immediately re-shuffles anyway — the window
    # exchange already spreads the heavy dedup work, so the extra
    # full-text exchange only adds bytes. Reverted to the pre-r14 shape.
    tk = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk")
    )
    starts = F.when(
        F.size("_tk") < 1, F.array().cast("array<int>")
    ).otherwise(F.sequence(F.lit(1), F.size("_tk"), F.lit(chunk_tokens)))
    # explode_OUTER + ONE conditional aggregate, no joins (r15, guide
    # §2.4/§8 — the q90 encode pattern): the old plan referenced the
    # exploded chunk frame TWICE (the kept window and a separate
    # n_chunks groupBy — two full tokenize+explode evaluations, the
    # frame is deliberately unpersisted) and LEFT-joined both aggregates
    # back to the source only to resurrect zero-chunk documents, the
    # kept join shipping the reassembled deduped_text payload. The
    # OUTER explode keeps a (null, null) row per empty document; those
    # rows collect in the md5(NULL) window partition, which no real
    # chunk shares, so every real chunk's row_number is unchanged.
    # count(chunk) ignores the null rows, the kept-predicate skips
    # them, and collect_list skips null structs — every df row is
    # present in the single aggregate. Output proven byte-identical to
    # the two-join form at sf0.01 and sf0.1 and on empty/null-text
    # fixtures before landing.
    chunks = tk.select(
        "_id",
        F.explode_outer(
            F.transform(
                starts,
                lambda s: F.struct(
                    F.floor((s - 1) / F.lit(chunk_tokens))
                    .cast("long")
                    .alias("idx"),
                    F.concat_ws(" ", F.slice(F.col("_tk"), s, chunk_tokens)).alias(
                        "chunk"
                    ),
                ),
            )
        ).alias("_c"),
    ).select("_id", "_c.idx", "_c.chunk")
    w = Window.partitionBy(F.md5(F.col("chunk"))).orderBy("_id", "idx")
    is_kept = F.col("chunk").isNotNull() & (F.col("_rn") == 1)
    return (
        chunks.withColumn("_rn", F.row_number().over(w))
        .groupBy("_id")
        .agg(
            F.count("chunk").alias("n_chunks"),
            F.count(F.when(is_kept, F.lit(1))).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(is_kept, F.struct("idx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("deduped_text"),
        )
        .select(
            F.col("_id").cast("long").alias("doc_id"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("deduped_text"),
        )
    )


def dedup_against_corpus(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental exact dedup: keep only new-batch documents whose
    content hash appears NOWHERE in the existing corpus and is the first
    occurrence WITHIN the batch — the production shape of dedup (a daily
    crawl lands against a multi-year corpus; re-dedup'ing the union from
    scratch would rescan 100 TB to admit a few GB).

    Output: the surviving new-batch rows plus their content_hash.

    Plan shape: the corpus side reduces to DISTINCT hashes before the
    anti-join (one narrow projection + aggregation of the big side — at
    scale this is the pre-built hash index a warehouse would persist
    bucketed on the hash, making the anti-join exchange-free on the
    index side, exactly like sources/bucketed.py); the within-batch
    keep-first is a window over the (small) batch only.
    """
    nb = new_batch.withColumn("content_hash", F.md5(F.col(text_col)))
    corpus_hashes = corpus.select(
        F.md5(F.col(text_col)).alias("content_hash")
    ).distinct()
    fresh = nb.join(corpus_hashes, "content_hash", "left_anti")
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def simhash64_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: (_id, _h long bit pattern).

    Per bit b: majority vote of token-hash bit b over the token stream
    (multiplicity-weighted); bit set iff the vote is positive. Compare
    signatures with ``bit_count(a ^ b)`` (Hamming distance).

    Same plan rationale as :func:`minhash_signatures`: explode tokens,
    hash once per token, ONE aggregate computing all 64 bit votes
    map-side — the shuffle carries 64 ints per document. Documents with
    zero tokens produce no signature (no explode rows).
    """
    from citibike_analysis_spark.partitioning import spread

    # spread() first (r14, guide §2.5): the 64-bit-vote aggregate's map
    # side is the CPU-heavy stage. q37 A/B: 10.26 → 3.79 s (0.37x).
    exploded = spread(df, id_col).select(
        F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("_t")
    ).withColumn("_th", F.xxhash64(F.col("_t")))
    votes = exploded.groupBy("_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftrightunsigned(F.col("_th"), b).bitwiseAND(F.lit(1))
                    == F.lit(1),
                    1,
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    acc = F.lit(0).cast("long")
    for b in range(64):
        acc = acc + F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("_id", acc.alias("_h"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming (a < b).

    Candidate generation uses the pigeonhole trick: split the 64-bit hash
    into ``max_hamming + 1`` blocks; any pair within the distance budget
    agrees exactly on at least one block, so candidates come from an
    equi-join on (block_idx, block_bits) rather than a cross join.
    """
    blocks = max_hamming + 1
    width = 64 // blocks
    sig = simhash64_signatures(df, id_col, text_col)
    # Block bits via shiftrightunsigned (avoids sign-extension on bit 63);
    # block offsets are Python literals, so build the (blk, bits) array
    # driver-side and explode it.
    blocks_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("blk"),
                F.shiftrightunsigned(F.col("_h"), j * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bits"),
            )
            for j in range(blocks)
        ]
    )
    exploded = sig.select(
        "_id", "_h", F.explode(blocks_arr).alias("_b")
    ).select("_id", "_h", "_b.blk", "_b.bits")
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._h").alias("_ha"),
            F.col("b._h").alias("_hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("long"))
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .select(F.col("id_a").cast("long"), F.col("id_b").cast("long"), "hamming")
    )


def _kgram_positions(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(_id, pos, _h) positional k-gram hash index: one row per k-gram
    occurrence, ``pos`` 0-based token offset, ``_h`` = xxhash64 of the
    space-joined gram (tokens are whitespace-split, so the space join is
    injective and the hash keys gram IDENTITY; collision odds across G
    distinct grams ≈ G²/2⁶⁵ — ~1e-11 at a million grams).

    Shuffle-free, and deliberately NOT ``posexplode(kgram_hashes_of(…))``:
    exploding a lambda-BUILT array trips the Generate variant of the
    CSE-through-lambda trap. The Generate node itself stays clean, but
    ``InferFiltersFromGenerate`` synthesizes a pre-filter
    ``size(<generator expr>) > 0 AND isnotnull(<generator expr>)`` and
    predicate pushdown substitutes the named projections INTO it — the
    optimized plan (captured on the x1 rehearsal corpus) shows
    ``tokens(text)`` re-inlined at every ``element_at`` site inside the
    filter's transform lambda, so the filter re-tokenizes the document
    k times PER LAMBDA ELEMENT, per conjunct: O(n_tokens²·k) regex
    splits per doc. Measured: 407 s vs 3.6 s for this exact index on
    5k docs × 200 tokens (a LIMIT barrier, which blocks the pushdown
    substitution, also reads fast — the inferred filter, not the
    explode, is the cost). This form explodes only the cheap position
    sequence — the inferred filter over ``sequence(…)`` is O(n) ints,
    evaluated once per row — and computes each gram's hash ROW-side
    with plain element_at/concat_ws/xxhash64: no higher-order function
    in the hot path, whole-stage codegen throughout.
    ``kgram_hashes_of`` remains correct for ARRAY-side consumers
    (winnow's min-windows) — it must just never be exploded.

    Output is Σ n_tokens rows of (id, int, long) — the narrow substrate
    both span operators key on. Spread first (r14): the tokenize +
    per-position gram hashing is CPU-bound and must not inherit a
    single-split scan's one-core layout (guide §2.5).
    """
    from citibike_analysis_spark.partitioning import spread

    df = spread(df, id_col)
    tk = df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk"))
    n = F.size("_tk") - (k - 1)
    idx = F.when(n < 1, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n - 1)
    )
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("_tk"), F.col("pos") + 1 + j) for j in range(k)]
    )
    return tk.select("_id", "_tk", F.explode(idx).alias("pos")).select(
        "_id", "pos", F.xxhash64(gram).alias("_h")
    )


def _merge_runs(positions: DataFrame, k: int) -> DataFrame:
    """Merge per-doc consecutive duplicated gram positions into maximal
    spans: (_id, span_start, span_end). Adjacent/overlapping duplicated
    k-grams are one region (``pos - row_number`` is constant along a
    consecutive run). Doc-bounded window — one Exchange on _id; the
    following groupBy reuses that partitioning (grouping keys are a
    superset of the hash-partitioning key, no second shuffle).
    """
    w = Window.partitionBy("_id").orderBy("pos")
    runs = positions.withColumn("_grp", F.col("pos") - F.row_number().over(w))
    return runs.groupBy("_id", "_grp").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_occurrences: int = 2,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Maximal duplicated token spans — the span-granular dedup modality
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): find every region of ≥ k consecutive tokens covered by
    k-grams that occur ≥ ``min_occurrences`` times corpus-wide (within- or
    cross-document), and report it with its position.

    Output: (doc_id, span_start, span_end, span_tokens) — token offsets
    0-based inclusive, one row per maximal duplicated region. Where the
    doc/chunk-level tiers decide about whole documents or fixed chunk
    boundaries, this localizes the duplicated text itself (boilerplate,
    license headers, quoted reposts) at arbitrary offsets.

    Semantics note: a maximal run merges overlapping duplicated k-grams
    even when adjacent grams duplicate against DIFFERENT partners, so a
    span is a "duplicated-coverage region", exactly the overlapping-range
    merge the suffix-array pipeline performs before cutting — not a claim
    that the whole span recurs verbatim somewhere.

    100 TB shape (why not a suffix array): the suffix-array construction
    is memory-superlinear and single-image; any duplicated span of length
    L ≥ k is the union of its L-k+1 duplicated k-grams, so the shuffle
    architecture expresses the same discovery as (1) a Σ n_tokens-row
    narrow index (id, pos, hash), (2) one partial-aggregated groupBy on
    the 8-byte gram hash (map-side combine collapses each partition's
    repeats before the wire; a boilerplate gram repeated 10⁹× is ONE row
    per map partition), (3) one equi-semi-join back on the same key (AQE
    skew-split handles hot grams — no windowed count over a gram
    partition, which would sort the 10⁹ rows on one reducer), (4) a
    doc-bounded run merge. Nothing quadratic, nothing collected.
    """
    pos = reuse(_kgram_positions(df, id_col, text_col, k))
    dup_h = (
        pos.groupBy("_h")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= F.lit(min_occurrences))
        .select("_h")
    )
    spans = _merge_runs(pos.join(dup_h, "_h", "left_semi"), k).select(
        F.col("_id").cast("long").alias("doc_id"),
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
    )
    if min_span_tokens is not None:
        spans = spans.filter(F.col("span_tokens") >= F.lit(min_span_tokens))
    return spans


def scrub_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Remove duplicated spans, keeping each duplicated k-gram's FIRST
    corpus occurrence (first = lowest (doc_id, pos)) — the removal step
    paired with :func:`duplicated_spans`' discovery, with the
    keep-one-copy rule the suffix-array pipeline applies so the
    duplicated text still exists exactly once in the corpus.

    Output: (doc_id, n_tokens, n_removed, scrubbed_text) — one row per
    input document; surviving tokens re-joined with single spaces in
    original order. A document is untouched (n_removed = 0) iff none of
    its grams is a non-canonical duplicate.

    Plan shape: the canonical occurrence per gram comes from ONE
    partial-aggregated groupBy — ``min(struct(doc_id, pos))`` is
    combiner-friendly, so no row_number window over the gram partition
    (a hot gram would sort its entire occurrence list on one reducer);
    the cut set joins back on the 8-byte hash (AQE skew-split), runs
    merge doc-bounded, and the final token filter is array-side against
    each doc's own (small) cut-span list — no token explode, no second
    pass over text.
    """
    tk = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_tk")
    )
    pos = reuse(_kgram_positions(df, id_col, text_col, k))
    gram_stats = pos.groupBy("_h").agg(
        F.count("*").alias("_n"),
        F.min(F.struct("_id", "pos")).alias("_first"),
    )
    cut = (
        pos.join(gram_stats.filter(F.col("_n") >= F.lit(min_occurrences)), "_h")
        .filter(F.struct("_id", "pos") != F.col("_first"))
        .select("_id", "pos")
    )
    return _cut_spans_from_docs(tk, _merge_runs(cut, k))


def _cut_spans_from_docs(tk: DataFrame, cut_span_runs: DataFrame) -> DataFrame:
    """Shared scrub tail: remove every token covered by a cut span.

    ``tk`` = (doc_id, _tk); ``cut_span_runs`` = (_id, span_start,
    span_end). Per-doc span lists are collected (small — bounded by the
    doc's own span count) and the token filter runs ARRAY-side with an
    index-aware lambda — no token explode, no second pass over text.
    Output: (doc_id, n_tokens, n_removed, scrubbed_text).
    """
    cut_spans = cut_span_runs.groupBy("_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = tk.join(
        cut_spans, tk["doc_id"] == cut_spans["_id"], "left"
    ).drop("_id")
    spans_arr = F.coalesce(
        "_spans", F.array().cast("array<struct<span_start:long,span_end:long>>")
    )
    # NULL text tokenizes to NULL, and size(NULL) = -1 under the default
    # sizeOfNull — a NULL-text document must read as an EMPTY one
    # (n_tokens 0, untouched), not emit a garbage negative count (review)
    toks_arr = F.coalesce(F.col("_tk"), F.array().cast("array<string>"))
    kept = F.filter(
        toks_arr,
        lambda t, i: ~F.exists(
            spans_arr,
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
    )
    return joined.select(
        F.col("doc_id").cast("long"),
        F.size(toks_arr).cast("long").alias("n_tokens"),
        (F.size(toks_arr) - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("scrubbed_text"),
    )


def contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Localize verbatim benchmark leakage: maximal spans in corpus
    documents covered by k-grams that occur ANYWHERE in the benchmark —
    the span-granular sibling of :func:`contamination_flags`. Where the
    doc-level detectors decide which documents to drop, this answers
    "WHERE is the leaked text", which is what a surgical decontamination
    pass (cut the quoted benchmark item, keep the rest of the document)
    and a leakage audit both need.

    Output: (doc_id, span_start, span_end, span_tokens) — 0-based
    inclusive token offsets into the corpus document, one row per
    maximal leaked region (the :func:`duplicated_spans` run-merge
    semantics, against the benchmark gram set instead of corpus-wide
    duplication counts).

    Plan shape: the corpus side is the row-side positional index
    (Σ n_tokens narrow rows, whole-stage codegen — the
    ``_kgram_positions`` docstring's inferred-filter rule); the
    benchmark side reduces to DISTINCT 8-byte gram hashes BEFORE the
    semi-join — benchmarks are small by definition, so AQE broadcasts
    the reduced set and the 100 TB corpus side never shuffles. One
    doc-bounded window merges runs. Nothing pairwise, nothing collected.

    Role swap gives INCREMENTAL span dedup for free: call with
    ``corpus=new_batch, benchmark=existing_corpus`` to find new-batch
    spans already present verbatim in the corpus (the span-granular
    :func:`dedup_against_corpus`). The "benchmark" gram set is then
    corpus-sized — too big to broadcast — but the semi-join degrades
    gracefully to a shuffle keyed on the 8-byte hash with the SMALL
    batch side as probe; nothing in the plan assumes the right side
    fits in memory.
    """
    pos = _kgram_positions(corpus, id_col, text_col, k)
    bench_h = (
        _kgram_positions(benchmark, id_col, text_col, k).select("_h").distinct()
    )
    spans = _merge_runs(pos.join(bench_h, "_h", "left_semi"), k).select(
        F.col("_id").cast("long").alias("doc_id"),
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
    )
    if min_span_tokens is not None:
        spans = spans.filter(F.col("span_tokens") >= F.lit(min_span_tokens))
    return spans


def scrub_contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Cut EVERY leaked span out of the corpus — the removal half of
    :func:`contaminated_spans`. Unlike :func:`scrub_duplicated_spans`
    there is no keep-first rule: benchmark text must survive NOWHERE in
    the training corpus, so all covered tokens go. Documents with no
    leak pass through untouched; a document that is wholly benchmark
    text scrubs to ''.

    Output: (doc_id, n_tokens, n_removed, scrubbed_text) — one row per
    corpus document. Same plan shape as the detector plus the shared
    array-side scrub tail (no token explode).
    """
    tk = corpus.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_tk")
    )
    pos = _kgram_positions(corpus, id_col, text_col, k)
    bench_h = (
        _kgram_positions(benchmark, id_col, text_col, k).select("_h").distinct()
    )
    return _cut_spans_from_docs(
        tk, _merge_runs(pos.join(bench_h, "_h", "left_semi"), k)
    )


# --------------------------------------------------------------------------
# Persisted gram index (r14): the 100 TB form of span dedup. The ad-hoc
# span operators rescan the reference corpus per call; a production
# ingest probes a PERSISTED gram-hash set instead — build once, append
# per batch, probe at batch cost. Same catalog-table lifecycle as the
# LSH/IVF families (sources/bucketed.py), bucketed on the 8-byte gram
# hash so every probe/append join is exchange-free on the index side.
# --------------------------------------------------------------------------

_GRAM_K_PROP = "cbs.gramindex.k"


def _gram_index_k(spark, table: str) -> int:
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    if _GRAM_K_PROP not in props:
        raise ValueError(
            f"{table} carries no {_GRAM_K_PROP} property — not a gram index"
        )
    return int(props[_GRAM_K_PROP])


def build_gram_index(
    docs: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    num_buckets: int = 16,
) -> int:
    """Persist the corpus's k-gram hash set as a bucketed catalog table:
    one row per DISTINCT gram, (h long, contributor long) with
    ``contributor`` = the lowest doc id containing it.

    The contributor column is what makes probes REPLAY-STABLE under the
    at-least-once streaming tier: :func:`gram_index_coverage` counts a
    gram as seen only when its ``contributor`` lies outside the probing
    batch (per-doc self-exclusion by default; pass the batch's ids as
    ``exclude_contributors`` for the full guarantee — a gram shared by
    TWO batch documents is stored under the other document's id, which
    per-doc exclusion alone would wrongly count). A crashed epoch whose
    own grams already landed therefore re-reads the SAME coverage on
    replay instead of seeing itself in the index and flipping an
    admission decision.

    Plan: the positional index collapses to one partial-aggregated
    groupBy on the hash (``min`` is combiner-friendly; a boilerplate
    gram is one row per map partition before the wire), then one
    bucketed write on ``h`` — every later probe and append joins
    exchange-free on the index side. ``k`` rides TBLPROPERTIES so
    probes cannot silently mix gram widths. Returns the distinct gram
    count.
    """
    from citibike_analysis_spark.sources.bucketed import write_bucketed

    spark = docs.sparkSession
    grams = (
        _kgram_positions(docs, id_col, text_col, k)
        .groupBy(F.col("_h").alias("h"))
        .agg(F.min("_id").cast("long").alias("contributor"))
    )
    write_bucketed(grams, table, ["h"], num_buckets)
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ('{_GRAM_K_PROP}'='{int(k)}')"
    )
    return spark.table(table).count()


def append_to_gram_index(
    spark,
    table: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Add a batch's NOVEL grams to a persisted gram index — the
    maintenance leg (batch cost: the batch's gram set anti-joined
    against the index, nothing rescans the corpus).

    Idempotent by construction: the anti-join drops grams already
    present, so a replayed streaming epoch appends nothing — the same
    exactly-once-without-markers contract as the other index families.
    Existing grams keep their original contributor (first-writer-wins;
    the anti-join never updates rows). Returns the number of grams
    appended.
    """
    from citibike_analysis_spark.sources.bucketed import append_bucketed

    k = _gram_index_k(spark, table)
    batch = (
        _kgram_positions(docs, id_col, text_col, k)
        .groupBy(F.col("_h").alias("h"))
        .agg(F.min("_id").cast("long").alias("contributor"))
    )
    novel = batch.join(
        spark.table(table).select("h"), "h", "left_anti"
    ).localCheckpoint(eager=True)
    try:
        n = novel.count()
        if n:
            # bucket spec read back from the catalog so a mismatch is
            # impossible by construction
            num_buckets = int(
                spark.sql(f"DESCRIBE EXTENDED {table}")
                .filter(F.col("col_name") == "Num Buckets")
                .collect()[0]["data_type"]
            )
            append_bucketed(novel, table, ["h"], num_buckets)
    finally:
        # the append has landed (or failed): the blocks are garbage
        free_checkpoint(novel)
    return n


def gram_index_coverage(
    spark,
    table: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude_contributors: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-span coverage against a persisted gram
    index: (doc_id, n_grams, n_covered, coverage) — the admission
    statistic of the span tier (gate a crawl batch on "how much of this
    document already exists verbatim in the corpus" WITHOUT rescanning
    the corpus).

    A gram counts as covered only when its index ``contributor`` is a
    DIFFERENT document, and — when ``exclude_contributors`` (a
    one-column DataFrame of doc ids) is given — one OUTSIDE that set.
    The exclusion set is the replay-stability mechanism for streamed
    batches (:func:`build_gram_index`): pass the probing batch's OWN
    ids, so grams the batch itself crash-landed before an offset
    commit — including grams SHARED between two batch documents, where
    per-doc self-exclusion is not enough because the other document's
    id is the stored contributor — read exactly as they did on first
    delivery and no admission decision can flip. The semantics are
    then cleanly "coverage vs everything seen BEFORE this batch".
    Documents with fewer than k tokens have no grams and read
    coverage 0.0. The probe join is an equi-join on the index's bucket
    key: the index side scans in place, only the (small) batch side
    shuffles to the bucket layout; the exclusion set joins on
    ``contributor`` (batch-sized — broadcast).
    """
    k = _gram_index_k(spark, table)
    pos = _kgram_positions(docs, id_col, text_col, k)
    idx = spark.table(table)
    joined = pos.join(idx, pos["_h"] == idx["h"], "left")
    not_excluded = F.col("contributor") != F.col("_id")
    if exclude_contributors is not None:
        excl = exclude_contributors.select(
            F.col(exclude_contributors.columns[0]).cast("long").alias("_excl_id")
        )
        joined = joined.join(
            excl, F.col("contributor") == F.col("_excl_id"), "left"
        )
        not_excluded = not_excluded & F.col("_excl_id").isNull()
    hits = joined.select(
        "_id",
        (F.col("h").isNotNull() & not_excluded).cast("int").alias("_cov"),
    )
    per_doc = hits.groupBy("_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum("_cov").cast("long").alias("n_covered"),
    )
    base = docs.select(F.col(id_col).cast("long").alias("doc_id"))
    return (
        base.join(per_doc, base["doc_id"] == per_doc["_id"], "left")
        .drop("_id")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_covered", F.lit(0)).alias("n_covered"),
            F.round(
                F.coalesce("n_covered", F.lit(0))
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)),
                6,
            ).alias("coverage"),
        )
    )
