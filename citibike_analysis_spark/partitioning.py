"""Work-unit-aware parallelism for CPU-bound pipeline stages.

Spark sizes scan parallelism by BYTES (``maxPartitionBytes`` /
``openCostInBytes``) and AQE coalesces shuffles by bytes too. Both are
the right default for I/O-bound plans and both are the wrong proxy for
CPU-bound per-row work: a corpus that fits one parquet row group scans
as ONE task, and every narrow stage above it — tokenize + shingle +
hash, normalize + centroid-assign, per-pair score folds — runs on one
core no matter how many the session has (guide §2.5 "input skew: one
huge unsplittable file … repartition immediately after the read").
Measured on this repo's bench corpus (sf0.1, local[32]): q77's pair
scoring ran 3.1 s in exactly one task; q46's tokenize+shingle pipeline
ran ~0.9 s single-task per evaluation.

``spread()`` is the repair: a deterministic hash repartition to the
session's default parallelism, applied ONLY when the frame's current
partitioning is narrower. At production scale scans carry hundreds of
partitions and the guard makes every call a no-op — the exchange exists
exactly when the input layout under-parallelizes the work, so the
production plan shape documented in SCALE.md is unchanged.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Plan-node name fragments that make :func:`spread` refuse a plan. A
#: node whose name CONTAINS one is wide, so the logical names and the
#: physical ones printed under a persisted frame's ``InMemoryRelation``
#: (``SortMergeJoin``, ``HashAggregate``, ...) are both caught. The
#: Python map/group nodes (r14 ADVICE) also require exchanges at
#: execution, so they must never fall through to the ``.rdd`` probe
#: either.
_WIDE = (
    "Join", "Aggregate", "Window", "Sort", "Repartition",
    "Union", "Generate", "Distinct", "GlobalLimit",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "MapInPandas", "PythonMapInArrow", "MapInArrow",
    "FlatMapGroupsWithState", "MapGroups", "CoGroup",
)

#: The node name at the head of a ``treeString`` line: after the tree
#: drawing (``+-``, ``:-``, ``:``, spaces) and an optional whole-stage
#: codegen marker (``*(1) ``). Attribute and expression text — a column
#: named ``Window_id`` — never sits there.
_NODE = re.compile(r"^[ :|+-]*(?:\*\(\d+\) )?(\w+)", re.M)


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition ``df`` to the session's default parallelism when
    (and only when) its current partition count is lower.

    - Call on SCAN-LEVEL frames only (scan + narrow projections).
      ``df.rdd`` on a plan containing exchanges would eagerly
      materialize its query stages under AQE — the same behavior that
      makes ``localCheckpoint(eager=False)`` run jobs.
    - ``key_cols`` must be present on ``df``; hashing a stable id column
      keeps the row→partition assignment deterministic under retries
      (guide §2.5: never derive a partitioning key from ``rand()``) and
      skips the local sort a keyless round-robin repartition pays.
    - The explicit partition count pins the exchange against AQE's
      byte-based coalescing (a ``repartition(col)`` without a count
      would be coalesced right back to one partition on KB-scale data).
    """
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    try:
        # Probing .rdd is only free on scan-level plans: under AQE it
        # materializes every query stage of a complex plan (real jobs).
        # Walk the OPTIMIZED plan (analysis only, nothing executes) and
        # refuse to probe anything beyond scan+narrow shapes — a caller
        # composing operators keeps its plan untouched rather than
        # paying a surprise execution here.
        plan_str = df._jdf.queryExecution().optimizedPlan().toString()
        if any(w in name for name in _NODE.findall(plan_str) for w in _WIDE):
            return df
        current = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 - planning-only failure: keep the plan
        return df
    if current >= target:
        return df
    if key_cols:
        # a missing key degrades to a no-op instead of raising
        # AnalysisException mid-plan (r14 ADVICE: the repartition sat
        # outside the guarded block, contradicting the test's claim)
        if any(c not in df.columns for c in key_cols):
            return df
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)
