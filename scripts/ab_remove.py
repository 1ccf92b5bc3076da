"""Deletion-leg cost profile: removal wall, tombstone-mask probe
overhead, and post-compaction recovery (r11 — the measurement
`remove_from_lsh_index` ships with, same discipline as ab_compact for
the append leg).

Three points over one index, one child JVM (monotonic state, shared
JIT — the ab_compact rationale):

  P0 fresh      — build over the full corpus, probe (baseline);
  P1 tombstoned — after `remove_from_lsh_index` of AR_REMOVE_FRAC of
                  the corpus (the REMOVAL WALL is reported separately —
                  it is one tombstone append, O(|ids|)); probes now pay
                  the broadcast anti-join mask;
  P2 compacted  — after `compact_lsh_index` absorbs the tombstones
                  (physical purge, mask gone).

Correctness asserted inline: no removed id surfaces at P1 or P2, and
P1 == P2 row-for-row (purge changes bytes, never results — q135 pins
the stronger fresh-build equality; this instrument takes the WALLS).
Bits are sized to the corpus (the operator's own `_bits_for_n`) so the
probe stays on its broadcast plan and the mask overhead is measured
unconfounded by the r11 shuffle fallback.

Usage: python scripts/ab_remove.py [workdir]
Env: AR_SCALE (default x10), AR_REMOVE_FRAC (default 0.1), AR_REPS
(default 3), SPARK_GRAFT_CPUS (default: the CPUs this process may
run on), AR_K (default 10), AR_NQ (default
500), AR_BITS (default 0 = auto-size via _bits_for_n).
Prints one JSON line per point and a summary with the removal wall and
the tombstoned/fresh and compacted/tombstoned probe-wall ratios.
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
    _bits_for_n, build_lsh_index, compact_lsh_index, lsh_index_topk,
    remove_from_lsh_index,
)

corpus_dir, frac, reps, k, nq, bits = (
    sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
    int(sys.argv[5]), int(sys.argv[6]),
)
spark = get_spark(app_name="ab_remove", master="local[{cpus}]",
                  shuffle_partitions={cpus})
spark.sparkContext.setLogLevel("ERROR")
emb = spark.read.parquet(corpus_dir + "/embeddings.parquet")
n = emb.count()
if bits <= 0:
    bits = _bits_for_n(n)
queries = emb.filter(F.col("vec_id") < nq)
params = dict(bits=bits, tables=8)
table = "ab_remove_idx"
mod = max(2, round(1.0 / frac))
removed = emb.filter(F.col("vec_id") % mod == 1)
removed_ids = set(r[0] for r in removed.select("vec_id").collect())

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
    out = {{"point": label, "sec": min(runs), "runs": runs, "pairs": len(key)}}
    print("POINT " + json.dumps(out), flush=True)
    return out, key

try:
    build_lsh_index(emb, table, **params)
    p0, k0 = probe_point("fresh")
    t0 = time.perf_counter()
    n_removed = remove_from_lsh_index(spark, table, removed)
    removal_wall = round(time.perf_counter() - t0, 2)
    p1, k1 = probe_point("tombstoned")
    assert not (set(i for _, i in k1) & removed_ids), "removed id surfaced at P1"
    compact_lsh_index(spark, table)
    p2, k2 = probe_point("compacted")
    assert k1 == k2, "compaction changed probe rows — purge must be pure I/O"
    assert not (set(i for _, i in k2) & removed_ids), "removed id surfaced at P2"
    print("CHILD_RESULT " + json.dumps({{
        "n_corpus": n, "bits": bits, "n_removed": n_removed,
        "removal_wall_sec": removal_wall,
        "points": {{p["point"]: {{kk: p[kk] for kk in ("sec", "runs", "pairs")}}
                   for p in (p0, p1, p2)}},
        "tombstoned_over_fresh": round(p1["sec"] / p0["sec"], 3),
        "compacted_over_tombstoned": round(p2["sec"] / p1["sec"], 3),
    }}), flush=True)
finally:
    for suffix in ("", "__vecs", "__tombs"):
        for state in ("", "__compacting", "__old"):
            spark.sql(f"DROP TABLE IF EXISTS {{table}}{{suffix}}{{state}}")
spark.stop()
"""


def main() -> int:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_rehearsal"
    corpus = ensure_corpus(work, os.environ.get("AR_SCALE", "x10"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    out = subprocess.run(
        [
            sys.executable, "-c", _CHILD.format(repo=REPO, cpus=cpus),
            corpus,
            os.environ.get("AR_REMOVE_FRAC", "0.1"),
            os.environ.get("AR_REPS", "3"),
            os.environ.get("AR_K", "10"),
            os.environ.get("AR_NQ", "500"),
            os.environ.get("AR_BITS", "0"),
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
