"""ADC-vs-exact probe A/B (r12 — the wall measurement behind
`operators/pq.py`'s scan-bandwidth claim, same discipline as
ab_ivf: measure before claiming).

One child JVM, one persisted IVF index over the rehearsal corpus, PQ
codes attached. Interleaved cells:

  exact — `ivf_index_topk` (route, then the exact fold verify over the
          probed lists' full vectors — the r11 shape);
  adc   — `ivfpq_topk` (route, ADC over the probed lists' CODE rows,
          exact re-rank of the 50-candidate shortlist).

Also reports the two scan columns' on-disk bytes (the bandwidth story:
the ADC scan reads codes + recon_norm instead of d-dim vectors) and
the result-set agreement (ADC is approximate — its re-ranked top-k is
held to overlap, not equality; q141 pins the recall floor).

Usage: python scripts/ab_adc.py [workdir]
Env: AD_SCALE (default x100), AD_REPS (default 3), SPARK_GRAFT_CPUS
(default: the CPUs this process may run on), AD_K (default 10), AD_NQ (default 500), AD_NLIST (default 0 =
n/1000 floor 16), AD_ITERS (default 2), AD_NPROBE (default 6),
AD_SHORTLIST (default 50), AD_M (default 16), AD_KSUB (default 64),
AD_DIM (default 64 — set 512 for the wide-embedding win-regime cell:
the corpus is regenerated at that width by the same generator), and
AD_MASTER (default local[SPARK_GRAFT_CPUS] — set e.g. local-cluster[2,16,24576]
for a process-boundary cell: broadcast LUT bytes and task results
cross real RPC instead of staying in one JVM).
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.cluster_rehearsal import ensure_corpus  # noqa: E402

_CHILD = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from citibike_analysis_spark.session import get_spark
from citibike_analysis_spark.cache import release_all
from citibike_analysis_spark.operators.similarity import (
    build_ivf_index, ivf_index_topk,
)
from citibike_analysis_spark.operators.pq import attach_pq_codes, ivfpq_topk

(corpus_dir, reps, k, nq, nlist, iters, nprobe, shortlist, m, ksub,
 master) = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
    int(sys.argv[5]), int(sys.argv[6]), int(sys.argv[7]), int(sys.argv[8]),
    int(sys.argv[9]), int(sys.argv[10]), sys.argv[11],
)
extra = (
    {{"spark.executor.memory": "24g"}}
    if master.startswith("local-cluster")
    else {{}}
)
spark = get_spark(app_name="ab_adc", master=master,
                  shuffle_partitions={cpus}, extra_conf=extra)
spark.sparkContext.setLogLevel("ERROR")
emb = spark.read.parquet(corpus_dir + "/embeddings.parquet")
n = emb.count()
if nlist <= 0:
    nlist = max(16, n // 1000)
queries = emb.filter(F.col("vec_id") < nq)
table = "ab_adc_idx"

def table_bytes(t):
    spark.catalog.refreshTable(t)
    return sum(
        os.path.getsize(f.replace("file:", ""))
        for f in spark.table(t).inputFiles()
    )

def run_cell(label, fn):
    fn().count()  # warmup
    runs, key = [], None
    for _ in range(reps):
        spark.catalog.clearCache(); release_all()
        t0 = time.perf_counter()
        key = sorted(
            (r["query_id"], r["neighbor_id"]) for r in fn().collect()
        )
        runs.append(round(time.perf_counter() - t0, 2))
    out = {{"cell": label, "sec": min(runs), "runs": runs, "pairs": len(key)}}
    print("CELL " + json.dumps(out), flush=True)
    return out, set(key)

try:
    build_ivf_index(emb, table, nlist=nlist, train_iters=iters,
                    train_on=emb.filter(F.col("vec_id") % 10 == 0))
    t0 = time.perf_counter()
    attach_pq_codes(spark, table, m=m, ksub=ksub, train_iters=iters,
                    train_on=emb.filter(F.col("vec_id") % 10 == 0)
                             .select("vec_id", "embedding"))
    attach_wall = round(time.perf_counter() - t0, 2)
    exact_fn = lambda: ivf_index_topk(spark, table, queries, k=k, nprobe=nprobe)
    adc_fn = lambda: ivfpq_topk(spark, table, queries, k=k, nprobe=nprobe,
                                shortlist=shortlist)
    # interleave: exact, adc, exact, adc (shared-JIT fairness)
    e1, ke = run_cell("exact", exact_fn)
    a1, ka = run_cell("adc", adc_fn)
    e2, _ = run_cell("exact", exact_fn)
    a2, _ = run_cell("adc", adc_fn)
    exact_sec = min(e1["sec"], e2["sec"])
    adc_sec = min(a1["sec"], a2["sec"])
    overlap = len(ke & ka) / max(1, len(ke))
    dim = len(emb.select("embedding").first()["embedding"])
    print("CHILD_RESULT " + json.dumps({{
        "n_corpus": n, "dim": dim, "master": master,
        "nlist": nlist, "nprobe": nprobe, "k": k,
        "m": m, "ksub": ksub, "shortlist": shortlist,
        "attach_wall_sec": attach_wall,
        "exact_probe_sec": exact_sec,
        "adc_probe_sec": adc_sec,
        "adc_over_exact": round(adc_sec / exact_sec, 3),
        "topk_overlap": round(overlap, 3),
        "lists_bytes": table_bytes(table),
        "codes_bytes": table_bytes(table + "__codes"),
    }}), flush=True)
finally:
    for state in ("", "__cents", "__tombs", "__codes", "__books"):
        spark.sql(f"DROP TABLE IF EXISTS {{table}}{{state}}")
spark.stop()
"""


def main() -> int:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_rehearsal"
    corpus = ensure_corpus(
        work,
        os.environ.get("AD_SCALE", "x100"),
        dim=int(os.environ.get("AD_DIM", "64")),
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = os.environ.get("AD_MASTER", f"local[{cpus}]")
    out = subprocess.run(
        [
            sys.executable, "-c", _CHILD.format(repo=REPO, cpus=cpus),
            corpus,
            os.environ.get("AD_REPS", "3"),
            os.environ.get("AD_K", "10"),
            os.environ.get("AD_NQ", "500"),
            os.environ.get("AD_NLIST", "0"),
            os.environ.get("AD_ITERS", "2"),
            os.environ.get("AD_NPROBE", "6"),
            os.environ.get("AD_SHORTLIST", "50"),
            os.environ.get("AD_M", "16"),
            os.environ.get("AD_KSUB", "64"),
            master,
        ],
        capture_output=True, text=True, cwd=REPO, timeout=7200,
    )
    sys.stdout.write(out.stdout)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
