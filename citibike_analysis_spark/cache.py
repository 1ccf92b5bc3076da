"""Scoped lifetime for operator-internal persists.

Several operators persist an intermediate that feeds 2-3 branches of the
plan they return (the dedup inverted indexes, the sign-LSH signature
projection, the as-of union sides). The persist is the right call at
scale — it saves whole corpus passes — but the returned plan is lazy, so
the operator itself can never unpersist: the blocks only materialize when
the CALLER runs an action, and they must survive until that action
finishes. Left alone, they then live for the session (r03 ADVICE: bench
had to ``clearCache()`` between queries to stop an 18s→4.5s storage-
pressure effect on q58).

This module gives those persists an owner. Every operator-internal
persist is routed through :func:`reuse` / :func:`track`, which register
the frame in a session-wide ledger; consumers bound the lifetime with

    with cache_scope():
        result = near_duplicate_embeddings(corpus).collect()

which unpersists exactly the frames persisted inside the block once the
terminal action is done (nesting-safe — inner scopes release only their
own frames), or call :func:`release_all` at a natural batch boundary.
Consumers that do neither are exactly where they were before: the
persists outlive the query until ``spark.catalog.clearCache()``.

``tests/test_cache_scope.py`` pins the contract: after running the
persist-heavy queries end-to-end under a scope, the session holds zero
persistent RDDs.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_lock = threading.RLock()
_LIVE: list[DataFrame] = []
_SCOPES = threading.local()  # per-thread stack of active cache_scope lists


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted frame in the release ledger (and in
    the CURRENT THREAD's innermost active scope, if any — scopes are
    thread-local, so a scope never releases frames another thread is
    still computing on)."""
    with _lock:
        _LIVE.append(df)
    stack = getattr(_SCOPES, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


def reuse(df: DataFrame, env: str = "SPARK_GRAFT_DEDUP_REUSE") -> DataFrame:
    """Materialize-once strategy for an intermediate that feeds 2-3 plan
    branches (inverted indexes, LSH signatures, candidate lists). Without
    it Spark re-executes the full upstream pipeline (tokenize, shingle,
    sign, band) once per referencing branch.

    Strategy is selectable via ``env`` = ``persist`` (default) |
    ``checkpoint`` | ``none``. Measured A/B (scripts/ab_reuse.py, sf0.1,
    fresh SparkSession per strategy — NB shared gateway JVM, so JIT
    warmth biases against the first strategy; see that script's caveat —
    5 reps, min/median over q36/q34/q50/q92): any materialization beats
    none (q34 ×1.2, q50 ×1.35 slower without), and checkpoint measured
    ~10% faster than persist locally (q36 min 2.06 s vs 2.59 s; within
    the protocol's warmth-bias band). persist stays the DEFAULT because
    ``localCheckpoint`` truncates lineage: a lost executor makes its
    blocks unrecoverable and fails the query, while persist recomputes
    from lineage — on a large cluster with preemption/decommissioning
    that reliability gap is worth far more than 10% of a local run.
    Deployments on stable executors can flip the knob. At corpus scale
    the index may exceed memory; persist degrades to per-partition disk
    blocks — the same worst case checkpoint always pays.

    Both materializing strategies register the frame for
    :func:`cache_scope` / :func:`release_all` cleanup.

    ``SPARK_GRAFT_REUSE_EAGER=1`` additionally materializes the persist
    with a ``count()`` before returning. Background (r14 profiling,
    guide §7.1): under AQE an action materializes all its shuffle /
    broadcast stages CONCURRENTLY, and every stage subtree referencing
    a still-cold persist races to compute the same blocks — a task that
    finds a block's write lock held computes the iterator itself
    (BlockInfoManager semantics), so the pipeline can run once PER
    BRANCH (q46's one-partition inverted index was evaluated EIGHT
    times inside one execution — 8 identical ~0.9 s jobs). Eager
    materialization removes that redundancy, but measured LOCALLY it
    does not pay: the redundant evaluations run concurrently on
    otherwise-idle cores (off the critical path) while the count() is a
    serial barrier on it — fresh-JVM min-of-3 at sf0.1: q34 0.82 s lazy
    vs 1.16 eager, q36 2.60 vs 3.48, q143 1.05 vs 1.33, q46 equal. The
    default therefore stays LAZY; on a saturated production cluster the
    redundant branch evaluations cost real resources and the knob is
    the documented remedy.

    Side effect on multi-process masters: there the default is eager
    (:func:`_eager_default`), so ``reuse()`` runs a Spark job — the
    ``count()`` — while the plan is being BUILT. Merely constructing a
    query that reuses an intermediate (for ``explain()``, plan capture,
    or a plan never executed) then executes that intermediate's full
    pipeline. Set ``SPARK_GRAFT_REUSE_EAGER=0`` for plan-only work.
    """
    mode = os.environ.get(env, "persist")
    if mode == "checkpoint":
        return track(df.localCheckpoint(eager=False))
    if mode == "none":
        return df
    out = track(df.persist())
    if _eager_default(df):
        out.count()
    return out


def _eager_default(df: DataFrame) -> bool:
    """Whether :func:`reuse` should materialize the persist eagerly.

    ``SPARK_GRAFT_REUSE_EAGER`` (``1``/``0``) always wins. Unset, the
    default is keyed to the MASTER (r15, r14-verdict item #2): on a
    single-JVM ``local[N]`` the redundant branch evaluations the lazy
    race tolerates run concurrently on otherwise-idle cores while an
    eager ``count()`` is a serial barrier on the critical path —
    measured slower three separate times (r14: q34 0.82 s lazy vs 1.16
    eager, q36 2.60/3.48, q143 1.05/1.33; r15 pre-change: q46 1.27x,
    q61 1.02x). On a MULTI-PROCESS master the race's redundant
    evaluations burn real executor task-time that a shared cluster
    charges for: on ``local-cluster[2,16,24g]`` at sf0.1 one q34
    execution costs 38.5 executor task-seconds over 257 tasks lazy vs
    27.7 over 194 eager (REST stage metrics) — the race is 28% of the
    cluster's work for that query, gone under eager, while wall on the
    IDLE rig is a wash (idle cores absorb the redundancy, exactly the
    r14 finding). On a saturated production cluster each redundant
    evaluation is a full extra pass over the reused intermediate, so
    eager is the right multi-process default. The master test is the
    same single-JVM check pick_pair_dot keys on."""
    flag = os.environ.get("SPARK_GRAFT_REUSE_EAGER")
    if flag is not None:
        return flag == "1"
    try:
        master = df.sparkSession.sparkContext.master
    except Exception:  # noqa: BLE001 - session mid-teardown: stay lazy
        return False
    return not (master == "local" or master.startswith("local["))


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD backing a ``localCheckpoint``-ed frame (its analyzed
    plan is a LogicalRDD), or None for any other plan shape."""
    try:
        lp = df._jdf.queryExecution().analyzed()
        if lp.getClass().getSimpleName() == "LogicalRDD":
            return lp.rdd()
    except Exception:
        pass
    return None


def free_checkpoint(df: DataFrame) -> bool:
    """Drop the storage blocks of a materialized ``localCheckpoint``
    frame (``DataFrame.unpersist`` is a no-op for these: the blocks
    belong to the plan's internal RDD, not the cache manager). After
    this the frame is UNUSABLE — lineage was truncated at checkpoint
    time, so the blocks are the only copy. Only call once every
    consumer of the frame has produced its result (the iterative-CC
    round pattern in operators/graph.py, or scope teardown)."""
    rdd = _checkpoint_rdd(df)
    if rdd is None:
        return False
    try:
        rdd.unpersist(False)
    except Exception:
        return False
    return True


def _release(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped — nothing left to release
    free_checkpoint(df)


def release_all() -> None:
    """Unpersist every tracked frame (blocking=False: async block drop).
    Handles both cache-manager persists and localCheckpoint blocks."""
    with _lock:
        frames, _LIVE[:] = list(_LIVE), []
    for df in frames:
        _release(df)


@contextmanager
def cache_scope():
    """Bound the lifetime of operator-internal persists to this block.

    Wrap plan CONSTRUCTION *and* the terminal action — unpersisting
    before the action would forfeit the reuse the persist exists for.
    Nesting-safe (an inner scope releases only frames persisted inside
    it) and THREAD-SAFE: scopes are tracked per thread, so concurrent
    scopes on different threads never release each other's frames (the
    failure mode would be fatal for checkpointed frames, whose blocks
    are the only copy).
    """
    stack = getattr(_SCOPES, "stack", None)
    if stack is None:
        stack = _SCOPES.stack = []
    mine: list[DataFrame] = []
    stack.append(mine)
    try:
        yield
    finally:
        # pop by IDENTITY, never list.remove(): remove() matches by VALUE
        # equality, and two empty scope lists compare equal — a nested
        # empty scope would remove the OUTER scope's list, stranding its
        # later track() frames in a dead list and raising ValueError at
        # the outer exit (review finding)
        for i in range(len(stack) - 1, -1, -1):
            if stack[i] is mine:
                del stack[i]
                break
        with _lock:
            for df in mine:
                for j in range(len(_LIVE) - 1, -1, -1):
                    if _LIVE[j] is df:  # identity, same reasoning
                        del _LIVE[j]
                        break
        for df in mine:
            _release(df)
