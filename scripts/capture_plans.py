"""Capture .explain("formatted") for declared queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> [suffix] [query ...]

Writes ``plans/<tag>/<query>_<suffix>.txt`` (suffix defaults to
``before``) for each named query, or for the bench HEADLINE set when no
queries are given. Planning only — nothing is executed (queries whose
*construction* runs jobs, e.g. k-means seeding, still pay those)."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]

    from pyspark.sql import SparkSession

    from citibike_analysis_spark.plans import all_queries
    from citibike_analysis_spark.session import tune

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .appName("capture_plans")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    specs = all_queries()
    if not names:
        import bench

        names = list(bench.HEADLINE)
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    from citibike_analysis_spark.cache import release_all

    failed = 0
    for name in names:
        try:
            # per-query isolation (r15): operator-internal persists and
            # AQE query stages from earlier captures otherwise leak into
            # later plans (InMemoryRelation plan-matching printed
            # ShuffleQueryStage nodes inside a query that never ran)
            spark.catalog.clearCache()
            release_all()
            df = specs[name].fn(spark, sf_dir)
            text = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001 - report and continue
            print(f"{name}: FAIL {type(exc).__name__}: {exc}", file=sys.stderr)
            failed += 1
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        n_exchange = text.count("Exchange")
        print(
            f"{name}: {len(text.splitlines())} lines, "
            f"{n_exchange} Exchange, -> {path}"
        )
    spark.stop()
    return failed


if __name__ == "__main__":
    sys.exit(main())
