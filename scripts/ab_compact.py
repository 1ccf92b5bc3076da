"""Probe-wall degradation/recovery across LSH-index compaction
(r09 VERDICT #4 — the measurement `compact_lsh_index` landed without).

q134 pins the compaction INVARIANTS (probe equality, file shrink) as
driver-verifiable booleans; this script takes the rehearsal's
degradation METRIC: probe wall as a function of accumulated append
file sets, before and after compaction, plus the file counts that
explain it. Three points over one index:

  P0 fresh    — build over half the corpus (the compact state a
                rebuild produces);
  P1 degraded — after AC_APPENDS bucketed appends of the other half
                (each append lands one file set per non-empty bucket
                in BOTH tables — the small-file accumulation
                `append_to_lsh_index` documents as compaction's
                reason to exist);
  P2 compacted — after `compact_lsh_index` (same rows, same bucket
                layout, ≤ one file set per bucket).

All three points run in ONE child JVM on purpose: the index state is
monotonic (P0→P1→P2 cannot interleave), and sharing the JVM gives all
points identical JIT/code-cache state, so the contrast isolates the
FILE LAYOUT — the only thing compaction changes. Probe rows are
asserted identical at P1 and P2 (compaction is pure I/O; P0 differs —
it predates the appends). One warmup + AC_REPS timed reps per point,
per-rep cache clear, min reported (the scale_rehearsal convention).

Usage: python scripts/ab_compact.py [workdir]
Env: AC_SCALE (default x10), AC_APPENDS (default 32), AC_REPS
(default 3), SPARK_GRAFT_CPUS (default: the CPUs this process may
run on), AC_K (default 10), AC_NQ (default
500 query vectors), AC_BITS (default 6 — SIZE IT to the corpus: the
probe's candidate set is explicit-bits-sized, ~n/2^bits vecs per
bucket x 8 tables per query; bits=6 at 200k vecs broadcasts ~10M-pair
candidate frames per probe and tips an 8g heap by the third point —
the r10 x100 lesson; production callers get this from auto-bits).
Prints one JSON line per point and a summary with degraded/fresh and
compacted/degraded probe-wall ratios + file counts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.cluster_rehearsal import ensure_corpus  # noqa: E402

_CHILD = """
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from citibike_analysis_spark.session import get_spark
from citibike_analysis_spark.cache import release_all
from citibike_analysis_spark.operators.similarity import (
    append_to_lsh_index, build_lsh_index, compact_lsh_index,
    lsh_index_topk,
)

corpus_dir, n_appends, reps, k, nq, bits = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
    int(sys.argv[5]), int(sys.argv[6]),
)
spark = get_spark(app_name="ab_compact", master="local[{cpus}]",
                  shuffle_partitions={cpus})
spark.sparkContext.setLogLevel("ERROR")
emb = spark.read.parquet(corpus_dir + "/embeddings.parquet")
queries = emb.filter(F.col("vec_id") < nq)
params = dict(bits=bits, tables=8)
table = "ab_compact_idx"

def files():
    spark.catalog.refreshTable(table)
    spark.catalog.refreshTable(table + "__vecs")
    return {{
        "buckets": len(spark.table(table).inputFiles()),
        "vecs": len(spark.table(table + "__vecs").inputFiles()),
    }}

def probe_point(label):
    key = None
    lsh_index_topk(spark, table, queries, k=k, **params).count()  # warmup
    runs = []
    for _ in range(reps):
        spark.catalog.clearCache(); release_all()
        t0 = time.perf_counter()
        rows = lsh_index_topk(spark, table, queries, k=k, **params)
        key = sorted((r["query_id"], r["neighbor_id"]) for r in rows.collect())
        runs.append(round(time.perf_counter() - t0, 2))
    out = {{"point": label, "sec": min(runs), "runs": runs,
            "pairs": len(key), "files": files()}}
    print("POINT " + json.dumps(out), flush=True)
    return out, key

try:
    build_lsh_index(emb.filter(F.col("vec_id") % 2 == 0), table, **params)
    p0, _ = probe_point("fresh")
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    for i in range(n_appends):
        append_to_lsh_index(
            odd.filter(F.col("vec_id") % (2 * n_appends) == 2 * i + 1),
            table, **params,
        )
    p1, k1 = probe_point("degraded")
    stats = compact_lsh_index(spark, table)
    p2, k2 = probe_point("compacted")
    assert k1 == k2, "compaction changed probe rows — it must be pure I/O"
    print("CHILD_RESULT " + json.dumps({{
        "points": {{p["point"]: {{kk: p[kk] for kk in ("sec", "runs", "files")}}
                   for p in (p0, p1, p2)}},
        "pairs": p1["pairs"],
        "n_appends": n_appends,
        "compact_stats": stats,
        "degraded_over_fresh": round(p1["sec"] / p0["sec"], 3),
        "compacted_over_degraded": round(p2["sec"] / p1["sec"], 3),
    }}), flush=True)
finally:
    for suffix in ("", "__vecs"):
        for state in ("", "__compacting", "__old"):
            spark.sql(f"DROP TABLE IF EXISTS {{table}}{{suffix}}{{state}}")
spark.stop()
"""


def main() -> int:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_rehearsal"
    corpus = ensure_corpus(work, os.environ.get("AC_SCALE", "x10"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    out = subprocess.run(
        [
            sys.executable, "-c", _CHILD.format(repo=REPO, cpus=cpus),
            corpus,
            os.environ.get("AC_APPENDS", "32"),
            os.environ.get("AC_REPS", "3"),
            os.environ.get("AC_K", "10"),
            os.environ.get("AC_NQ", "500"),
            os.environ.get("AC_BITS", "6"),
        ],
        capture_output=True, text=True, cwd=REPO, timeout=3600,
    )
    sys.stdout.write(out.stdout)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
