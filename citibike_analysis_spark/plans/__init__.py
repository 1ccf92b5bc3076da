"""Query-plan registry.

Every implemented operator from SURVEY.md §2 (and the north-star §7
surface) is declared here as a :class:`QuerySpec`: a Spark callable
``(spark, sf_dir) -> DataFrame`` plus, where SQL-expressible, the exact
ANSI-SQL oracle that DuckDB runs over the same parquet tables. Column
names and rounding are aligned on both sides so the driver's
order-insensitive value-hash comparison is meaningful.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One verifiable query/operator.

    - ``fn``: the Spark implementation.
    - ``oracle``: DuckDB SQL computing the same result (None → the driver
      falls back to a rows-only check; reserved for genuinely
      non-SQL-expressible operators).
    - ``survey``: SURVEY.md §2 operator ids this query exercises.
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey: str


# Designed no-oracle queries and the hash-verified audit that carries
# their value check. Invariant (pinned by tests/test_registry.py):
# bumping the epoch (``__spark_entry__._EPOCH``) of a no-oracle query
# must bump its paired audit's epoch at least as far — otherwise the audit keeps signing the OLD
# semantics while the query itself re-enters the window under the new
# ones (q77→q109 moved together in r09; this map encodes that rule).
_AUDIT_OF = {
    "q36_minhash_dedup": "q108_minhash_recall_audit",
    "q37_simhash_pairs": "q112_simhash_identity_audit",
    "q44_ann_lsh": "q106_ann_lsh_recall_audit",
    "q49_ann_ivf": "q107_ann_ivf_recall_audit",
    "q50_winnow_pairs": "q110_winnow_guarantee_audit",
    "q76_kmeans_clusters": "q114_kmeans_audit",
    "q77_semantic_dedup": "q109_semdedup_precision_audit",
    "q82_pca_project": "q111_pca_variance_audit",
    "q104_scalable_picks": "q56_interesting_suppliers_scalable",
}


def all_queries() -> dict[str, QuerySpec]:
    """Every registered query in registration order: ``relational.QUERIES``
    then ``llm.QUERIES``. The driver-window order lives in
    ``__spark_entry__.queries()``; this function opens no file."""
    from citibike_analysis_spark.plans import llm, relational

    return {**relational.QUERIES, **llm.QUERIES}
