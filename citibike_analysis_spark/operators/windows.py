"""Window-function operators with scale-aware variants (SURVEY.md W1-W3, §7).

``ntile(n) OVER (ORDER BY ...)`` with no PARTITION BY — the reference's
percentile bucketing (README.md:249-258) — collapses to a single task in
any engine: one global sort on one partition. Fine for 858 stations,
fatal at 100 TB. ``approx_ntile`` replaces it with a two-pass plan:
compute (n-1) approximate quantile cutoffs (one aggregation, tiny
result), broadcast them, and bucket by comparison — no global sort, no
single-task stage, error bounded by ``relative_error``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_ntile(df: DataFrame, order_cols: list[Column | str], n: int, out: str) -> DataFrame:
    """Reference-parity global ntile (single-partition sort; small inputs only)."""
    return df.withColumn(out, F.ntile(n).over(Window.orderBy(*order_cols)).cast("long"))


def approx_ntile(
    df: DataFrame,
    value_col: str,
    n: int,
    out: str,
    relative_error: float = 0.0001,
) -> DataFrame:
    """Scalable ntile: approx-quantile cutoffs + broadcast bucket lookup.

    Plan shape: one pass computes ``percentile_approx`` cutoffs
    (Greenwald-Khanna sketch, mergeable ⇒ map-side partial agg), the
    bucket assignment is then a per-row expression against the broadcast
    cutoff array. Two narrow stages; no global sort; no skew.

    Tie convention: a value's bucket counts the cutoffs ≤ it
    (cume_dist-like) — a run of tied values lands in the run's HIGHEST
    bucket. Exact ntile instead splits ties positionally across buckets;
    the two agree on distinct-valued columns (bounded by relative_error)
    and diverge by up to the tie-run width on tied columns. The ≤
    convention is the right one for percentile *gating* ("above the
    g-th percentile"): a tied run is either wholly above or wholly below
    a gate, never split arbitrarily.
    """
    return approx_ntile_multi(df, [value_col], n, [out], relative_error)


def approx_ntile_multi(
    df: DataFrame,
    value_cols: list[str],
    n: int,
    outs: list[str],
    relative_error: float = 0.0001,
) -> DataFrame:
    """:func:`approx_ntile` over several columns in ONE pass (r14,
    guide §2.2 "shuffle fewer bytes / fewer passes"): chaining k
    single-column calls plans k ``percentile_approx`` aggregations and
    k broadcast joins, and each call references its input twice (cutoff
    agg + assignment join), so a k-chain embeds the source plan 2^k
    times — q104's profiled execution materialized its persisted
    variability frame through EIGHT racing plan references. One agg
    computing all k cutoff arrays + one broadcast join is 2 references
    and k× fewer passes, with the same buckets: percentile_approx
    sketches each column independently, and the chained form's
    intermediate 1-row broadcast joins add no rows and reorder nothing,
    so the per-column sketch inputs are identical (equality pinned in
    tests/test_operators.py on the real variability frame).
    """
    if len(value_cols) != len(outs):
        raise ValueError(
            f"value_cols and outs must have equal length, got "
            f"{len(value_cols)} vs {len(outs)} (zip would silently "
            "truncate)"
        )
    if len(set(outs)) != len(outs):
        raise ValueError(f"duplicate out names in {outs!r}")
    acc = int(1.0 / relative_error)
    # ONE F.expr SQL string per aggregate (r15, guide §5 — the q36
    # driver-chatter fix): building the 99-element quantile array as a
    # Python list made functions.lit convert it element-wise — ~100 py4j
    # round-trips per column, 0.19 s of the 0.32 s this function cost in
    # q104's profiled builder. repr(i/n) is the shortest round-trip
    # decimal, which the SQL parser reads back to the IDENTICAL double,
    # so the sketch inputs are unchanged (output proven byte-identical
    # to the literal-array form at sf0.01 and sf0.1 before landing).
    # The D suffix forces DOUBLE literal parsing (never decimal).
    qs_sql = ",".join(repr(i / n) + "D" for i in range(1, n))
    # dunder-prefixed internal names: a bare "cuts" collided with any
    # input that already carries a cuts column — AMBIGUOUS_REFERENCE on
    # the bucket expression, or worse, drop() deleting the user's column
    # (review finding; same convention as asof.py's __asof_* internals)
    cut_cols = [f"__ntile_cuts_{i}" for i in range(len(value_cols))]
    # quoted identifiers with doubled backticks: the name is interpolated
    # into SQL text, so a backtick in it would end the quote early
    # (invalid or injected SQL); the same form keeps F.col from reading
    # a dot in the name as struct-field access
    quoted = ["`" + c.replace("`", "``") + "`" for c in value_cols]
    cuts = df.select(
        *[
            F.expr(
                f"percentile_approx({q}, array({qs_sql}), {acc})"
            ).alias(cc)
            for q, cc in zip(quoted, cut_cols)
        ]
    )
    with_cuts = df.join(F.broadcast(cuts))
    for q, cc, out in zip(quoted, cut_cols, outs):
        bucket = F.lit(1) + F.size(
            F.filter(F.col(cc), lambda x: x <= F.col(q))
        )
        with_cuts = with_cuts.withColumn(out, bucket.cast("long"))
    return with_cuts.drop(*cut_cols)


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_seconds: int,
    out: str = "session_idx",
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Gap-based session assignment (lag + running count of boundaries).

    A new session starts at a row whose time since the previous row for
    the same key exceeds ``gap_seconds`` (or at the key's first row).
    ``out`` is a per-key 1-based session index. This is the batch dual of
    streaming session windows: one shuffle on the key, one in-partition
    sort — both windows share the same (partition, order) spec so Spark
    plans a single Sort+Window pass.
    """
    order = [F.col(ts_col), *[F.col(c) for c in (tie_break or [])]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    # interval comparison (not epoch math): works for TIMESTAMP_NTZ and is
    # immune to session-timezone/DST reinterpretation
    gap_iv = F.expr(f"INTERVAL {int(gap_seconds)} SECOND")
    is_new = F.when(prev.isNull() | (F.col(ts_col) > prev + gap_iv), 1).otherwise(0)
    running = Window.partitionBy(*key_cols).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out, F.sum(is_new).over(running).cast("long"))


def top_k_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    k: int = 1,
    rank_fn: Column | None = None,
    out: str = "rk",
) -> DataFrame:
    """Top-k rows per group via ranking window (SURVEY.md O3/W2).

    Spark pushes a per-partition top-k (WindowGroupLimit) below the
    shuffle for rank/row_number filters, so each map task emits ≤ k rows
    per group — the shuffle carries survivors, not the full table.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    rk = (rank_fn if rank_fn is not None else F.rank()).over(w)
    return df.withColumn(out, rk.cast("long")).filter(F.col(out) <= k)


def scd2_intervals(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    state_col: str,
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Collapse a change event stream into SCD-type-2 validity intervals:
    per key, consecutive rows with the same ``state_col`` merge into one
    row with ``valid_from`` / ``valid_to`` (NULL = current) — the
    dimension-history table a warehouse derives from an upsert feed.

    Two windows sharing one (partition, order) spec — lag to find state
    changes, lead to close intervals — so Spark plans a single
    Sort+Window pass per key (same shape as :func:`sessionize`). Order
    must be deterministic: pass ``tie_break`` when one key can carry two
    events on the same timestamp.
    """
    order = [F.col(ts_col), *[F.col(c) for c in (tie_break or [])]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(F.col(state_col)).over(w)
    # null-safe inequality (IS DISTINCT FROM), not !=: a run of NULL
    # states must merge into one interval. row_number (same window spec —
    # still one sort pass) distinguishes "no previous row" from
    # "previous state was NULL", so a key whose FIRST state is NULL
    # still opens an interval.
    changed = (F.row_number().over(w) == 1) | ~prev.eqNullSafe(F.col(state_col))
    starts = df.withColumn("_chg", changed).filter(F.col("_chg")).drop("_chg")
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        starts.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w2))
        .drop(ts_col)
    )


def pack_offsets(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    cost_col: str,
    window_size: int,
) -> DataFrame:
    """Sequence packing for training: concatenate each group's documents
    in ``order_cols`` order and cut the stream into fixed
    ``window_size``-token training windows — every document gets its
    stream ``offset``, its starting ``window_idx``, its offset within
    that window, and how many windows it spans (documents crossing a
    boundary are the ones a loader must split or mask).

    This is the "pack then chunk" layout step of LLM data prep — the
    successor of :func:`budget_select` (which truncates; packing keeps
    everything and tells the loader where each document lands).

    One sort+window pass per group (cumulative sum), same scale contract
    as :func:`sessionize`: partition by the group columns — a group's
    stream must fit a task's sort, so group by shard/source, never
    globally. Order MUST include a unique tie-break.
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(cost_col).over(w)
    offset = (cum - F.col(cost_col)).cast("long")
    end = cum.cast("long")  # exclusive end of this doc's token span
    window_idx = F.floor(offset / F.lit(window_size)).cast("long")
    last_window = F.floor((end - 1) / F.lit(window_size)).cast("long")
    return (
        df.withColumn("offset", offset)
        .withColumn("window_idx", window_idx)
        .withColumn(
            "window_offset", (F.col("offset") % F.lit(window_size)).cast("long")
        )
        .withColumn(
            "n_windows",
            F.when(F.col(cost_col) <= 0, F.lit(0)).otherwise(
                last_window - window_idx + 1
            ).cast("long"),
        )
    )


def budget_select(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    cost_col: str,
    budget: float,
    out: str = "cum_cost",
) -> DataFrame:
    """Greedy budgeted selection per group: order rows by priority, keep
    while the running ``cost_col`` total stays ≤ ``budget`` — the
    token-budget data-mixing step of corpus construction ("best N
    tokens per source"), generalized to any cost.

    One sort+window pass per group (same shape as sessionize); order
    MUST be deterministic (include a unique tie-break) or the kept set
    is ill-defined. A group whose first row already exceeds the budget
    contributes nothing (strict cumulative ≤).
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out, F.sum(cost_col).over(w)).filter(
        F.col(out) <= F.lit(budget)
    )
