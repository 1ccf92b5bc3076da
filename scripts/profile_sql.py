"""Dump the executed-plan node metrics for one declared query.

Usage: python scripts/profile_sql.py <query>

Runs the query once under ``bench.timed_runs`` (noop sink) with the UI
on, then prints every node of the final adaptive plan with its key
metrics (output rows, time, shuffle bytes) — the script form of guide
§7.1's SQL tab."""

import json
import os
import sys
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    name = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

    from pyspark.sql import SparkSession

    from bench import timed_runs
    from citibike_analysis_spark.plans import all_queries
    from citibike_analysis_spark.session import tune

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4048")
        .appName(f"sql_{name}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    spec = all_queries()[name]
    (wall,) = timed_runs(spark, spec.fn, sf_dir, 1)

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4048/api/v1/applications/{app_id}"
    execs = json.load(
        urllib.request.urlopen(f"{base}/sql?details=true&planDescription=false")
    )
    print(f"=== {name}: wall {wall:.3f}s, {len(execs)} SQL executions ===")
    for ex in execs:
        print(
            f"\n-- execution {ex['id']} [{ex['status']}] "
            f"{ex.get('duration', '?')}ms: {ex.get('description', '')[:90]}"
        )
        for node in ex.get("nodes", []):
            keep = {}
            for m in node.get("metrics", []):
                nm = m["name"]
                if any(
                    k in nm
                    for k in (
                        "number of output rows",
                        "time total",
                        "shuffle bytes written",
                        "data size",
                        "duration",
                    )
                ):
                    keep[nm] = m["value"]
            rows = keep.get("number of output rows")
            if not keep:
                continue
            print(f"  node {node['nodeId']:>3} {node['nodeName'][:40]:<42} {keep}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
