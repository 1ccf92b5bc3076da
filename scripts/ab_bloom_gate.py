"""Bloom-gate crossover + measured FPP (r09 VERDICT #2).

r08 shipped `contamination_flags_bloom` with a SHAPE argument: the
gate wins "where the benchmark gram set outgrows a comfortable
broadcast", which no fixture reaches — at the 10× corpus the exact
broadcast join costs 0.63 s vs the bloom's 4.1 s constant overhead.
This script turns the claim into artifacts:

1. CROSSOVER — times three cells, interleaved within each pass, fresh
   JVM per cell (the ab_trees protocol):
     exact/bcast    — contamination_flags, auto-broadcast ON (the
                      fixture regime; bloom's documented loss);
     exact/shuffle  — contamination_flags with
                      spark.sql.autoBroadcastJoinThreshold=-1 — the
                      100 TB regime's shape, where the bench gram set
                      no longer broadcasts and the exact join must
                      SHUFFLE the corpus's full gram set (the bloom's
                      bitmap is an explicit F.broadcast hint, which a
                      -1 threshold does not disable — exactly mirroring
                      the asymmetry at scale: 16 bits/gram broadcast vs
                      64-bit-hash shuffle rows);
     bloom          — contamination_flags_bloom, same threshold=-1 (the
                      gate must win WITHOUT auto-broadcast help on its
                      exact-verify tail).
2. FPP — one untimed counting run: observed false-positive rate of the
   bit test = (bloom-positive probes that fail the exact verify) /
   (probes whose gram is NOT in the benchmark set), to pin the
   bits_per_item=16 / k=4 sizing math (analytic FPP ≈ 2e-3).

Benchmark side: BG_BENCH_FRAC of the corpus's documents (seeded
sample) — an eval set drawn from the same distribution, so
contamination is real and the bench gram set scales with the corpus.

Usage: python scripts/ab_bloom_gate.py [workdir]
Env: BG_SCALE (x10|x100, default x10), BG_BENCH_FRAC (default 0.1),
BG_REPS (default 2), BG_PASSES (default 2), SPARK_GRAFT_CPUS (default: the CPUs this
process may run on), BG_MASTER (default local[SPARK_GRAFT_CPUS];
"cluster2" expands to local-cluster[2,SPARK_GRAFT_CPUS/2,24576] — the r10 verdict's process-boundary
cell: exact/shuffle really crosses executor sockets there, so the
bloom's shuffle-row cut gets a chance to buy wall time it cannot buy
in one JVM where "shuffle" is a memcpy).
Prints one JSON line per cell plus a summary with the
bloom-vs-exact-shuffle ratio and the measured FPP.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.cluster_rehearsal import ensure_corpus  # noqa: E402

_CHILD = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from citibike_analysis_spark.session import get_spark
from citibike_analysis_spark.cache import release_all
from citibike_analysis_spark.operators.dedup import (
    contamination_flags, contamination_flags_bloom,
)

mode, corpus_dir, frac, reps = (
    sys.argv[1], sys.argv[2], float(sys.argv[3]), int(sys.argv[4])
)
extra = {{}}
if mode != "exact/bcast":
    extra["spark.sql.autoBroadcastJoinThreshold"] = "-1"
master = {master!r}
if master.startswith("local-cluster"):
    # the bracket is the worker's capacity; executors must still ASK
    # for it (cluster_rehearsal convention)
    extra["spark.executor.memory"] = "24g"
spark = get_spark(app_name="ab_bloom", master=master,
                  shuffle_partitions={cpus}, extra_conf=extra)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(corpus_dir + "/documents.parquet")
# fraction MUST be a keyword: sample(0.1, seed=7) binds 0.1 to
# withReplacement and PySpark's overload shim silently DROPS the seed
# (plan shows a fresh random seed per DataFrame), which made cells
# disagree on rows across passes/modes until r10 pinned it
bench = docs.sample(fraction=frac, seed=7).select("doc_id", "text")
fn = contamination_flags_bloom if mode == "bloom" else contamination_flags

def run():
    out = fn(docs, bench, "doc_id", "text", n=5)
    return out.filter("contaminated").count()

rows = run()  # warmup (JIT + listing)
runs = []
for _ in range(reps):
    spark.catalog.clearCache(); release_all()
    t0 = time.perf_counter()
    rows = run()
    runs.append(round(time.perf_counter() - t0, 2))
print("CHILD_RESULT " + json.dumps(
    {{"mode": mode, "rows": rows, "sec": min(runs), "runs": runs}}
), flush=True)
spark.stop()
"""

_FPP_CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})
from citibike_analysis_spark.session import get_spark
from pyspark.sql import functions as F
from citibike_analysis_spark.functions.text import tokens, shingles_of

corpus_dir, frac = sys.argv[1], float(sys.argv[2])
spark = get_spark(app_name="bloom_fpp", master=f"local[{cpus}]",
                  shuffle_partitions={cpus})
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(corpus_dir + "/documents.parquet")
bench = docs.sample(fraction=frac, seed=7).select("doc_id", "text")

# rebuild the operator's own probe frames (same building blocks) and
# count: total probes, true-member probes, bloom-positive probes
n, k, bits_per_item = 5, 4, 16
csh = (docs.select(F.col("doc_id").alias("_id"), tokens(F.col("text")).alias("_tk"))
          .select("_id", F.explode(shingles_of(F.col("_tk"), n)).alias("_s"))
          .select("_id", F.xxhash64("_s").alias("_h")))
bsh = (bench.select(tokens(F.col("text")).alias("_tk"))
            .select(F.explode(shingles_of(F.col("_tk"), n)).alias("_s"))
            .select(F.xxhash64("_s").alias("_h")).distinct())
import math
from citibike_analysis_spark.operators.dedup import (
    bloom_bit_test, bloom_m_bits, bloom_positions,
)
n_b = bsh.count()
# sizing/positions/bit-test come from the OPERATOR's exported helpers,
# so the measured FPP is the gate actually shipped (r09 ADVICE: an
# inline re-derivation silently desynchronizes on any operator change)
m = bloom_m_bits(n_b, bits_per_item)
# the operator's own gate, re-derived up to the candidate stage (the
# public output filters FPs away, so the instrument must recompute the
# bit test): flag each probe row member/positive and aggregate counts
flags = csh.join(bsh.withColumn("_member", F.lit(True)), "_h", "left")
sparse = (bsh.select(F.explode(F.array(*bloom_positions(F.col("_h"), m, k))).alias("_p"))
             .select((F.col("_p") / 64).cast("long").alias("_w"),
                     F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(_p,64) AS INT))").alias("_b"))
             .groupBy("_w").agg(F.bit_or("_b").alias("_bits")))
words = m // 64
rows = {{int(r["_w"]): int(r["_bits"]) for r in sparse.collect()}}
dense = [rows.get(i, 0) for i in range(words)]
bm = spark.createDataFrame([(dense,)], "bm: array<long>")
p = flags.join(F.broadcast(bm))
for i, pos in enumerate(bloom_positions(F.col("_h"), m, k)):
    p = p.withColumn("_p%d" % i, pos)
cond = None
for i in range(k):
    ci = bloom_bit_test("bm", "_p%d" % i)
    cond = ci if cond is None else (cond & ci)
agg = p.agg(
    F.count("*").alias("probes"),
    F.count(F.when(F.col("_member"), 1)).alias("members"),
    F.count(F.when(cond & F.col("_member").isNull(), 1)).alias("false_pos"),
).collect()[0]
nonmember = agg["probes"] - agg["members"]
fpp = agg["false_pos"] / nonmember if nonmember else 0.0
analytic = (1 - math.exp(-k * n_b / m)) ** k
print("CHILD_RESULT " + json.dumps({{
    "bench_grams": n_b, "m_bits": m, "probes": agg["probes"],
    "member_probes": agg["members"], "nonmember_probes": nonmember,
    "false_positives": agg["false_pos"], "observed_fpp": round(fpp, 6),
    "analytic_fpp": round(analytic, 6),
}}), flush=True)
spark.stop()
"""


def _run_child(src: str, args: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", src, *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("CHILD_RESULT "):
            return json.loads(line[len("CHILD_RESULT "):])
    raise RuntimeError(
        f"child produced no result: {out.stdout[-800:]} {out.stderr[-800:]}"
    )


def main() -> int:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_rehearsal"
    scale = os.environ.get("BG_SCALE", "x10")
    corpus = ensure_corpus(work, scale)
    frac = os.environ.get("BG_BENCH_FRAC", "0.1")
    reps = os.environ.get("BG_REPS", "2")
    passes = int(os.environ.get("BG_PASSES", "2"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = os.environ.get("BG_MASTER", f"local[{cpus}]")
    if master == "cluster2":
        master = f"local-cluster[2,{cpus // 2},24576]"

    child = _CHILD.format(repo=REPO, cpus=cpus, master=master)
    cells: dict[str, dict] = {}
    for p in range(passes):
        for mode in ("exact/bcast", "exact/shuffle", "bloom"):
            t0 = time.perf_counter()
            r = _run_child(child, [mode, corpus, frac, reps])
            r["wall"] = round(time.perf_counter() - t0, 1)
            r["pass"] = p
            print(json.dumps(r), flush=True)
            best = cells.get(mode)
            if best is None or r["sec"] < best["sec"]:
                cells[mode] = r

    rows = {m: cells[m]["rows"] for m in cells}
    assert len(set(rows.values())) == 1, f"row mismatch across modes: {rows}"

    fpp = _run_child(
        _FPP_CHILD.format(repo=REPO, cpus=cpus), [corpus, frac]
    )
    print(json.dumps({"fpp": fpp}), flush=True)
    summary = {
        "scale": scale,
        "master": master,
        "bench_frac": float(frac),
        "cells": {m: cells[m]["sec"] for m in cells},
        "bloom_over_exact_shuffle": round(
            cells["bloom"]["sec"] / cells["exact/shuffle"]["sec"], 3
        ),
        "bloom_over_exact_bcast": round(
            cells["bloom"]["sec"] / cells["exact/bcast"]["sec"], 3
        ),
        "observed_fpp": fpp["observed_fpp"],
        "analytic_fpp": fpp["analytic_fpp"],
    }
    print(json.dumps({"summary": summary}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
