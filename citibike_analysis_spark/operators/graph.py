"""Connected components for dedup clustering (SURVEY.md §7 north-star).

Near-dup detection (MinHash/SimHash/Jaccard — operators/dedup.py) emits
*pairs*; an actual dedup pipeline must transitively close them into
clusters and elect one canonical document per cluster (A~B, B~C ⇒ keep
one of {A,B,C}). The reference's adjacency output
(notebooks/CitiBike-1.ipynb:222-245) stops at 1-hop neighbor lists; this
operator is the closure step a 100 TB corpus needs.

Algorithm: iterative min-label propagation with pointer jumping and
hooking, fully declarative per round. Every vertex v holds a label
L(v), a vertex id of its own component, starting at v. Each round v
takes the minimum of

1. its own label and its neighbours' labels (plain propagation);
2. L(L(v)), the label of its label — pointer jumping, as in hash-to-min
   (Rastogi et al., "Finding Connected Components in Map-Reduce in
   Logarithmic Rounds", ICDE 2013);
3. for every u whose label fell last round from v to L(u), that new
   label — hooking: the old root v learns what its members learned, as
   in Shiloach-Vishkin, so a smaller label reaches a whole basin two
   rounds after it reaches one member.

All three are messages along edges, so a round is one join and one
groupBy-min: the edge list, the pointer edges (L(v), v) and the hook
edges (u, old L(u)) joined to the labels on the sender. Each label row
carries the label it replaced, which names its hook edge. Round 1 needs
no join at all: every label is still the vertex id, so it is a groupBy
of the edge list.

Labels only decrease and stay inside the component, so the fixpoint is
"component = min vertex id". Plain propagation needs diameter rounds.
Counted on a Python model of the round: with (2) alone a path with
randomly ordered ids still needed ~1,200 rounds at 4,096 vertices,
because a local minimum learns a smaller label only hop by hop; with
(3) that path takes ~23 rounds, and such paths of 256-65,536 vertices
take about 2·log₂ n (14 for a 4,096-path with ordered ids). Dedup graphs are dense blobs
with tiny diameters (near-dup similarity is nearly transitive), so 2-4
rounds is typical. ``localCheckpoint`` truncates the lineage so round
N's plan doesn't embed rounds 1..N-1 (without it the plan doubles per
round and the driver OOMs long before the data does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(src, dst) undirected edge list → (id, component) with component =
    min vertex id in the connected component. Deterministic.

    ``max_iter`` bounds the rounds that change labels (one more confirms
    the fixpoint); a graph that needs more raises ``RuntimeError``.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Symmetrize with ONE reference to the edge plan, not a self-union
    # (r14, guide §2.4): ``e ∪ e.swap`` embeds the upstream pair
    # pipeline TWICE, and both copies execute — for q46 that meant the
    # whole shingle-intersection join ran once per union side (the
    # profiled execution scanned documents 8×: 2 union sides × 4 index
    # references). Exploding a 2-element struct array doubles the rows
    # in one pass over a single copy of the plan; the inferred
    # size(array(..))>0 filter is constant-foldable, so the
    # explode-of-lambda trap (_kgram_positions docstring) does not
    # apply.
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(
                        F.col("b").alias("a"), F.col("a").alias("b")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
    )
    sym = sym.localCheckpoint(eager=False)

    # Convergence detector: one cheap aggregate on the freshly
    # checkpointed result — (count, xor of per-row hashes) is a set
    # signature of the (vertex → component) map, equal iff no label changed
    # (labels only ever decrease, so no ABA). A round whose labels equal
    # its input's is a fixpoint: the next round's messages are a subset
    # of this one's (no hooks once prev == component). NOT
    # sum(component): under ANSI mode (the default) sum overflows long
    # for hash-derived vertex ids (xxhash64 values ~9e18 — the natural id
    # scheme for the dedup pairs this operator closes) and throws on the
    # second vertex (r04 review).
    # Block hygiene: once round N's checkpoint is materialized (by that
    # same aggregate), round N-1's blocks are garbage — free them NOW so
    # peak storage is one label table, not one per round (at corpus
    # scale, rounds × vertex-table blocks is real memory). The FINAL
    # round's checkpoint backs the returned plan: registered with
    # cache.track for scope-level release, like the operator persists.
    from citibike_analysis_spark.cache import free_checkpoint, track

    # Label rows are (a, component, prev): vertex a, its label L, and
    # the label P it held before the last round. The round's columns are
    # unresolved names, so they are built once and reused: each PySpark
    # column call is a py4j round trip with call-site capture (~2 ms).
    # Round 1 needs no join: every label is still the vertex id, so each
    # message is its sender's id and L = min(a, min neighbour).
    first_round = [
        F.least(F.min("b"), F.col("a")).alias("component"),
        F.col("a").alias("prev"),
    ]
    # Later rounds, per label row: the pointer edge (L, a), whose message
    # L(L) <= L is also a's own-label floor; it carries own = L, which
    # the round keeps as the next P. And, if the label fell last round,
    # the hook edge (a, P): P receives L.
    null_id = F.lit(None).cast(sym.schema["a"].dataType)
    sent = sym.withColumn("own", null_id)
    pointer_and_hook = F.explode(
        F.array(
            F.struct(
                F.col("component").alias("a"),
                F.col("a").alias("b"),
                F.col("component").alias("own"),
            ),
            F.when(
                F.col("prev") != F.col("component"),
                F.struct(
                    F.col("a"), F.col("prev").alias("b"), null_id.alias("own")
                ),
            ),
        )
    ).alias("_e")
    is_edge = F.col("_e").isNotNull()
    receiver = F.col("b").alias("a")
    new_label = [F.min("component").alias("component"), F.max("own").alias("prev")]
    signature = [F.count("*"), F.bit_xor(F.xxhash64("a", "component"))]

    labels = None
    prev_sig = None
    converged = False
    # max_iter + 1: labels stabilizing on round max_iter can only be
    # CONFIRMED by the signature check one round later (review finding —
    # the budget bounds label-changing rounds; the confirmation round is
    # bookkeeping)
    for _ in range(max_iter + 1):
        if labels is None:
            step = sym.groupBy("a").agg(*first_round)
        else:
            step = (
                sent.unionByName(
                    labels.select(pointer_and_hook).filter(is_edge).select("_e.*")
                )
                .join(labels, "a")
                .groupBy(receiver)
                .agg(*new_label)
            )
        # the agg below materializes the checkpoint — one job per round
        # instead of checkpoint-job + agg-job
        new_labels = step.localCheckpoint(eager=False)
        sig = tuple(new_labels.agg(*signature).collect()[0])
        if labels is not None:
            free_checkpoint(labels)
        labels = new_labels
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    # the fixpoint no longer references the edge list — free it too
    free_checkpoint(sym)
    track(labels)
    if not converged:
        # Unconverged labels are silently WRONG (one component keeps
        # several labels), and callers like dedup_clusters would
        # canonicalize against them.
        raise RuntimeError(
            "connected_components could not confirm convergence within "
            f"{max_iter + 1} rounds (max_iter={max_iter} + 1 confirmation "
            "round); raise max_iter"
        )
    return labels.select(F.col("a").alias("id"), "component")


def dedup_clusters(
    docs: DataFrame,
    id_col: str,
    pairs: DataFrame,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Assign every document its canonical id (min id in its near-dup
    cluster; singletons are their own canonical) and the cluster size.

    This is the "keep one copy" step of corpus dedup: filter
    ``id == canonical_id`` downstream to retain canonicals only. The
    clusters come from :func:`connected_components`, whose rounds grow
    with log n, so a pair graph with long chains closes too.
    """
    cc = connected_components(pairs, pair_a, pair_b)
    # alias the CC output before joining: a caller whose id_col is
    # literally "id" would otherwise hit AMBIGUOUS_REFERENCE on the
    # post-join select (r04 review)
    cc = cc.select(
        F.col("id").alias("__cc_id"), F.col("component").alias("__cc_comp")
    )
    labeled = (
        docs.select(F.col(id_col))
        .join(cc, F.col(id_col) == F.col("__cc_id"), "left")
        .select(
            F.col(id_col),
            F.coalesce("__cc_comp", F.col(id_col)).alias("canonical_id"),
        )
    )
    # LEFT join + fill, not inner: an inner equi-join on canonical_id
    # silently DROPPED documents whose id is NULL (NULL never equals
    # NULL), violating "assign every document" (review finding). A
    # NULL-id document cannot join any pair, so it rides through as a
    # size-1 row with canonical_id NULL — callers keeping canonicals
    # via ``id == canonical_id`` must de-NULL ids upstream.
    sizes = labeled.filter(F.col("canonical_id").isNotNull()).groupBy(
        "canonical_id"
    ).agg(F.count("*").alias("cluster_size"))
    return labeled.join(sizes, "canonical_id", "left").select(
        id_col,
        "canonical_id",
        F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
    )
