"""Per-job wall breakdown for one declared query.

Usage: python scripts/profile_query.py <query> [reps]

Runs the query under the bench protocol (noop sink, clearCache +
release_all between reps) with the Spark UI enabled, then dumps every
job of the LAST rep with its duration, description and stage shuffle
volumes from the REST API — the local stand-in for guide §1.1's
"open the UI, find the slowest stage"."""

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

    from pyspark.sql import SparkSession

    from citibike_analysis_spark.cache import release_all
    from citibike_analysis_spark.plans import all_queries
    from citibike_analysis_spark.session import tune

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .appName(f"profile_{name}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    spec = all_queries()[name]

    walls = []
    first_job = 0
    for rep in range(reps):
        spark.catalog.clearCache()
        release_all()
        st = spark.sparkContext.statusTracker()
        first_job = (max(st.getJobIdsForGroup() or [-1])) + 1
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        walls.append(round(time.perf_counter() - t0, 3))

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4049/api/v1/applications/{app_id}"
    jobs = json.load(urllib.request.urlopen(f"{base}/jobs"))
    stages = {
        s["stageId"]: s
        for s in json.load(urllib.request.urlopen(f"{base}/stages"))
    }
    rows = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        if j["jobId"] < first_job:
            continue
        sub = j.get("submissionTime")
        comp = j.get("completionTime")
        dur = None
        if sub and comp:
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            dur = (
                datetime.strptime(comp, fmt) - datetime.strptime(sub, fmt)
            ).total_seconds()
        sh_read = sum(
            stages[s]["shuffleReadBytes"]
            for s in j["stageIds"]
            if s in stages
        )
        sh_write = sum(
            stages[s]["shuffleWriteBytes"]
            for s in j["stageIds"]
            if s in stages
        )
        n_tasks = sum(
            stages[s]["numCompleteTasks"] for s in j["stageIds"] if s in stages
        )
        rows.append(
            {
                "job": j["jobId"],
                "sec": round(dur, 3) if dur is not None else None,
                "stages": len(j["stageIds"]),
                "tasks": n_tasks,
                "shuf_read_kb": sh_read // 1024,
                "shuf_write_kb": sh_write // 1024,
                "desc": (j.get("description") or j.get("name", ""))[:100],
            }
        )
    print(f"\n=== {name}: walls={walls} (last rep jobs below) ===")
    total = 0.0
    for r in rows:
        total += r["sec"] or 0
        print(
            f"job {r['job']:>4} {r['sec']:>7}s {r['stages']:>2}st "
            f"{r['tasks']:>4}tk r{r['shuf_read_kb']:>6}K w{r['shuf_write_kb']:>6}K  {r['desc']}"
        )
    print(f"sum of job durations: {round(total, 3)}s vs wall {walls[-1]}s")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
