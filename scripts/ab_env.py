"""A/B one or more queries under two env settings, fresh JVM per cell.

Usage: python scripts/ab_env.py ENVVAR=a,b q1 [q2 ...] [--reps N]

Runs each query min-of-N (1 warmup) in a fresh subprocess per env value
— the bench canary protocol, so JIT warmth cannot bias either side.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CELL = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[%(cpus)s]")
         .config("spark.sql.shuffle.partitions", "%(cpus)s")
         .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from citibike_analysis_spark.plans import all_queries
from citibike_analysis_spark.cache import release_all
specs = all_queries()
out = {}
for name in %(names)r:
    specs[name].fn(spark, %(sf)r).write.format("noop").mode("overwrite").save()
    runs = []
    for _ in range(%(reps)d):
        spark.catalog.clearCache()
        release_all()
        t0 = time.perf_counter()
        specs[name].fn(spark, %(sf)r).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 3))
    out[name] = runs
print("AB_RESULT " + json.dumps(out))
spark.stop()
"""


def main() -> int:
    # argparse (r14 ADVICE): the old hand parser IndexError'd on the
    # space-separated '--reps 3' form and let the bare '3' land in the
    # query-name list; names are now validated against the registry
    # before any subprocess launches.
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("spec", help="ENVVAR=a,b[,c...]")
    ap.add_argument("queries", nargs="+", help="registered query names")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    var, _, vals = args.spec.partition("=")
    if not var or not vals:
        ap.error(f"spec must look like ENVVAR=a,b — got {args.spec!r}")
    values = vals.split(",")
    names = args.queries
    reps = args.reps
    sys.path.insert(0, REPO)
    from citibike_analysis_spark.plans import all_queries

    known = set(all_queries())
    unknown = [n for n in names if n not in known]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    code = _CELL % {
        "repo": REPO,
        "cpus": cpus,
        "names": names,
        "sf": sf,
        "reps": reps,
    }
    results = {}
    for v in values:
        env = dict(os.environ)
        env[var] = v
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            env=env, timeout=1800,
        )
        line = next(
            (l for l in out.stdout.splitlines() if l.startswith("AB_RESULT ")),
            None,
        )
        if line is None:
            print(f"{var}={v}: FAILED rc={out.returncode}\n{out.stderr[-2000:]}")
            return 1
        results[v] = json.loads(line[len("AB_RESULT "):])
        print(f"{var}={v}: " + json.dumps(results[v]))
    if len(values) == 2:
        a, b = values
        for q in names:
            ra, rb = min(results[a][q]), min(results[b][q])
            print(f"{q}: {var}={a} {ra:.3f}s  {var}={b} {rb:.3f}s  ratio {rb/ra:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
