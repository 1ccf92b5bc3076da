"""IVF index lifecycle cost profile (r11 VERDICT #2 / r12 — the
`ab_compact` + `ab_remove` equivalents for the SECOND ANN family, plus
the recall-vs-nprobe curve that makes the nprobe default
measurement-backed).

q136/q137 pin the lifecycle's CORRECTNESS booleans; this instrument
takes the WALLS. Five probe points over ONE index in ONE child JVM
(monotonic state, shared JIT — the ab_compact rationale):

  P0 fresh      — build(even half, train_on = a 1-in-10 sample: the
                  production train-on-sample knob); the BUILD wall is
                  reported separately (training + full assignment);
  P1 degraded   — after AI_APPENDS appends of the odd half (each lands
                  one file set per non-empty cid bucket — the single
                  table means ONE file accumulation, not the LSH
                  family's two); per-append drift stats are captured
                  from the append's own return value (zero extra jobs);
  P2 compacted  — after `compact_ivf_index` (file reset; P1 ≡ P2 rows
                  asserted — compaction is pure I/O);
  P3 tombstoned — after `remove_from_ivf_index` of AI_REMOVE_FRAC of
                  the corpus (removal wall reported — one O(|ids|)
                  tombstone append); probes now pay the broadcast
                  anti-join mask;
  P4 purged     — after a second compaction absorbs the tombstones
                  (mask gone; P3 ≡ P4 rows asserted, no removed id
                  surfaces at either).

Then the RECALL sweep on the final purged index: `ivf_index_topk` at
each AI_RECALL_NPROBES value vs `brute_force_topk` over the same kept
corpus — mean and min per-query recall@k, the curve that justifies
(or indicts) the nprobe=6 default at scale.

nlist is sized to the corpus by default (n/1000, floor 16 — the
"clusters of ~10³" contract `semantic_dedup_pairs` documents), so the
instrument measures the parameterization a production caller would
run, not a toy one.

Usage: python scripts/ab_ivf.py [workdir]
Env: AI_SCALE (default x10), AI_APPENDS (default 16), AI_REPS
(default 3), SPARK_GRAFT_CPUS (default: the CPUs this process may
run on), AI_K (default 10), AI_NQ (default
500), AI_NLIST (default 0 = n/1000 floor 16), AI_ITERS (default 2),
AI_NPROBE (default 6), AI_REMOVE_FRAC (default 0.1), AI_RECALL_NQ
(default 50), AI_RECALL_NPROBES (default "1,2,4,6,8,12").
Prints one JSON line per point and a CHILD_RESULT summary.
"""

from __future__ import annotations

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
    append_to_ivf_index, brute_force_topk, build_ivf_index,
    compact_ivf_index, ivf_index_topk, remove_from_ivf_index,
)

(corpus_dir, n_appends, reps, k, nq, nlist, iters, nprobe, frac,
 recall_nq, recall_nprobes) = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
    int(sys.argv[5]), int(sys.argv[6]), int(sys.argv[7]),
    int(sys.argv[8]), float(sys.argv[9]), int(sys.argv[10]),
    [int(x) for x in sys.argv[11].split(",")],
)
spark = get_spark(app_name="ab_ivf", master="local[{cpus}]",
                  shuffle_partitions={cpus})
spark.sparkContext.setLogLevel("ERROR")
emb = spark.read.parquet(corpus_dir + "/embeddings.parquet")
n = emb.count()
if nlist <= 0:
    nlist = max(16, n // 1000)
queries = emb.filter(F.col("vec_id") < nq)
table = "ab_ivf_idx"

def files():
    spark.catalog.refreshTable(table)
    return len(spark.table(table).inputFiles())

def probe_point(label):
    key = None
    ivf_index_topk(spark, table, queries, k=k, nprobe=nprobe).count()  # warmup
    runs = []
    for _ in range(reps):
        spark.catalog.clearCache(); release_all()
        t0 = time.perf_counter()
        rows = ivf_index_topk(spark, table, queries, k=k, nprobe=nprobe)
        key = sorted((r["query_id"], r["neighbor_id"]) for r in rows.collect())
        runs.append(round(time.perf_counter() - t0, 2))
    out = {{"point": label, "sec": min(runs), "runs": runs,
            "pairs": len(key), "files": files()}}
    print("POINT " + json.dumps(out), flush=True)
    return out, key

try:
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    t0 = time.perf_counter()
    build_ivf_index(even, table, nlist=nlist, train_iters=iters,
                    train_on=even.filter(F.col("vec_id") % 10 == 0))
    build_wall = round(time.perf_counter() - t0, 2)
    p0, _ = probe_point("fresh")
    drifts = []
    t0 = time.perf_counter()
    for i in range(n_appends):
        st = append_to_ivf_index(
            odd.filter(F.col("vec_id") % (2 * n_appends) == 2 * i + 1),
            table,
        )
        drifts.append(st["drift"])
    append_wall = round(time.perf_counter() - t0, 2)
    p1, k1 = probe_point("degraded")
    compact_stats = compact_ivf_index(spark, table)
    p2, k2 = probe_point("compacted")
    assert k1 == k2, "compaction changed probe rows — it must be pure I/O"
    mod = max(2, round(1.0 / frac))
    removed = emb.filter(F.col("vec_id") % mod == 1)
    removed_ids = set(r[0] for r in removed.select("vec_id").collect())
    t0 = time.perf_counter()
    n_removed = remove_from_ivf_index(spark, table, removed)
    removal_wall = round(time.perf_counter() - t0, 2)
    p3, k3 = probe_point("tombstoned")
    assert not (set(i for _, i in k3) & removed_ids), "removed id at P3"
    compact_ivf_index(spark, table)
    p4, k4 = probe_point("purged")
    assert k3 == k4, "purge changed probe rows — it must be pure I/O"
    assert not (set(i for _, i in k4) & removed_ids), "removed id at P4"

    # recall sweep on the final purged index vs exact top-k over the
    # SAME kept rows (the lists table holds (neighbor_id, _cv, cid))
    kept = spark.table(table).select(
        F.col("neighbor_id").alias("vec_id"), F.col("_cv").alias("embedding")
    ).persist()
    rq = kept.filter(F.col("vec_id") < recall_nq)
    exact = {{}}
    for r in brute_force_topk(kept, rq, k=k).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = {{}}
    for np_ in recall_nprobes:
        t0 = time.perf_counter()
        got = {{}}
        for r in ivf_index_topk(spark, table, rq, k=k, nprobe=np_).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        per_q = [
            len(got.get(q, set()) & s) / len(s) for q, s in exact.items()
        ]
        recall[str(np_)] = {{
            "mean": round(sum(per_q) / len(per_q), 3),
            "min": round(min(per_q), 3),
            "sec": round(time.perf_counter() - t0, 2),
        }}
    kept.unpersist()

    print("CHILD_RESULT " + json.dumps({{
        "n_corpus": n, "nlist": nlist, "nprobe": nprobe,
        "train_iters": iters, "n_appends": n_appends,
        "n_removed": n_removed,
        "build_wall_sec": build_wall,
        "append_wall_sec_total": append_wall,
        "append_wall_sec_each": round(append_wall / n_appends, 2),
        "removal_wall_sec": removal_wall,
        "append_drifts_minmax": [min(drifts), max(drifts)],
        "points": {{p["point"]: {{kk: p[kk] for kk in ("sec", "runs", "files")}}
                   for p in (p0, p1, p2, p3, p4)}},
        "degraded_over_fresh": round(p1["sec"] / p0["sec"], 3),
        "compacted_over_degraded": round(p2["sec"] / p1["sec"], 3),
        "tombstoned_over_compacted": round(p3["sec"] / p2["sec"], 3),
        "purged_over_tombstoned": round(p4["sec"] / p3["sec"], 3),
        "recall_at_k_by_nprobe": recall,
    }}), flush=True)
finally:
    for state in ("", "__cents", "__tombs", "__compacting", "__old"):
        spark.sql(f"DROP TABLE IF EXISTS {{table}}{{state}}")
spark.stop()
"""


def main() -> int:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_rehearsal"
    corpus = ensure_corpus(work, os.environ.get("AI_SCALE", "x10"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    out = subprocess.run(
        [
            sys.executable, "-c", _CHILD.format(repo=REPO, cpus=cpus),
            corpus,
            os.environ.get("AI_APPENDS", "16"),
            os.environ.get("AI_REPS", "3"),
            os.environ.get("AI_K", "10"),
            os.environ.get("AI_NQ", "500"),
            os.environ.get("AI_NLIST", "0"),
            os.environ.get("AI_ITERS", "2"),
            os.environ.get("AI_NPROBE", "6"),
            os.environ.get("AI_REMOVE_FRAC", "0.1"),
            os.environ.get("AI_RECALL_NQ", "50"),
            os.environ.get("AI_RECALL_NPROBES", "1,2,4,6,8,12"),
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
