"""Two-executor process-boundary rehearsal (r06 VERDICT #1).

Every scale number so far shares one JVM: ``local[32]`` never
serializes a task result across a process boundary, never ships a
broadcast over RPC, and masks missing package deployment (see
tests/test_cluster_boundary.py). This script puts REAL executor
processes under the near-dup family + flagship: it times the same
queries on ``local[32]`` and ``local-cluster[2,16,24576]`` (2 executor
JVMs x 16 cores x 24g — same 32 total cores) with the ab_trees
protocol — fresh JVM per (master, pass), per-rep cache isolation, min
over reps, masters interleaved across passes so host drift lands
inside both records.

Near-dup family (q36/q39/q46/q61) runs at the 10x rehearsal corpus
(50k docs / 20k vecs — generated by scripts/scale_rehearsal.py's
generator if absent); the flagship pair (q20/q104) at sf0.1.

Usage: python scripts/cluster_rehearsal.py [workdir]
Env: CR_REPS (default 2), CR_PASSES (default 2), SPARK_GRAFT_CPUS
(default: the CPUs this process may run on),
CR_SF_DIR (default /root/testdata/sf0.1), CR_SCALE (default x10 — set
x100 for the next-decade amortization point), CR_QUERIES /
CR_SF_QUERIES (comma lists overriding the defaults below),
CR_STREAM_QUERIES (default empty — stateful streaming replays to run
at CR_SF_DIR under the RocksDB state store, e.g.
q129_streaming_dedup_replay for a boundary point on the stateful
tier).
Prints one JSON line per (master, pass) plus a final summary line and
a markdown table for SCALE.md.
"""

from __future__ import annotations

import json
import os
import re
import socket
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORPUS_QUERIES = [
    q
    for q in os.environ.get(
        "CR_QUERIES",
        "q36_minhash_dedup,q39_embedding_near_dup,"
        "q46_dedup_clusters,q61_capped_jaccard",
    ).split(",")
    if q
]
SF_QUERIES = [
    q
    for q in os.environ.get(
        "CR_SF_QUERIES", "q20_interesting_suppliers,q104_scalable_picks"
    ).split(",")
    if q
]
# stateful streaming replays, run with the RocksDB state store (the
# declared large-state posture) — a boundary throughput point on the
# stateful tier (r07 verdict #8). Empty by default: the streaming
# replays are correctness fixtures whose wall is dominated by
# micro-batch scheduling, so they join a rehearsal only when asked.
STREAM_QUERIES = [
    q for q in os.environ.get("CR_STREAM_QUERIES", "").split(",") if q
]
SCALES = {
    "x1": (5_000, 2_000),
    "x10": (50_000, 20_000),
    "x100": (500_000, 200_000),
}

_CHILD = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from citibike_analysis_spark.session import get_spark
from citibike_analysis_spark.plans import all_queries
from citibike_analysis_spark.cache import release_all

master, corpus_dir, sf_dir, reps = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
extra = {{"spark.executor.memory": "24g"}} if master.startswith("local-cluster") else {{}}
spark = get_spark(app_name="cluster_rehearsal", master=master,
                  shuffle_partitions=32, extra_conf=extra)
spark.sparkContext.setLogLevel("ERROR")
specs = all_queries()
plan = [(q, corpus_dir, False) for q in {corpus_queries!r}] + \
       [(q, sf_dir, False) for q in {sf_queries!r}] + \
       [(q, sf_dir, True) for q in {stream_queries!r}]
out = {{}}
for q, d, rocksdb in plan:
    if rocksdb:
        # the stateful replays rehearse under the declared large-state
        # posture: RocksDB state store (runtime conf, read at query start)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        # one untimed warmup (JIT + file listing), then timed reps with
        # per-rep cache isolation (the scale_rehearsal convention)
        specs[q].fn(spark, d).count()
        runs = []
        for _ in range(reps):
            spark.catalog.clearCache()
            release_all()
            t0 = time.perf_counter()
            rows = specs[q].fn(spark, d).count()
            runs.append(round(time.perf_counter() - t0, 2))
        out[q] = {{"sec": min(runs), "rows": rows}}
    except Exception as exc:
        out[q] = {{"error": f"{{type(exc).__name__}}: {{exc}}"[:300]}}
    spark.catalog.clearCache()
    release_all()
spark.stop()
print("CHILD_RESULT " + json.dumps(out))
"""


def _parse_driver_endpoint(cmd: str) -> tuple[str, int] | None:
    """(host, port) of an executor cmdline's ``--driver-url``, or None.

    Hosts come in three shapes: hostname/IPv4 (``[\\w.\\-]+``) and
    BRACKETED IPv6 literals (``@[::1]:35421`` — Spark renders IPv6
    RPC addresses with brackets). The r08 pattern missed the bracket
    form, so IPv6-hosted executors parsed as "no driver-url" (r09
    ADVICE). Brackets are stripped from the returned host —
    ``socket.create_connection`` wants the bare address.
    """
    m = re.search(
        r"--driver-url\s+spark://[^@\s]+@(\[[0-9A-Fa-f:.]+\]|[\w.\-]+):(\d+)",
        cmd,
    )
    if not m:
        return None
    return m.group(1).strip("[]"), int(m.group(2))


def _reap_orphaned_executors() -> list[str]:
    """SIGKILL only executors whose DRIVER is provably gone.

    r08 ADVICE: the old blanket ``pgrep | kill -9`` also hit executors
    of unrelated LIVE Spark applications on the host (e.g. a
    concurrently running test_cluster_boundary probe — which itself
    carefully kills only its own app-id's executor). An executor's
    cmdline carries ``--driver-url spark://CoarseGrainedScheduler@host:
    port``; the driver endpoint accepting a TCP connect is the liveness
    test — a dead driver's port is closed, so its leaked executors (the
    thing this reaper exists for) fail the probe and get reaped, while
    live apps' executors are left alone.

    r09 ADVICE: an UNPARSEABLE driver-url now means SKIP, not reap —
    the r08 "no parseable driver-url: reap" branch re-introduced the
    cross-app kill for any url shape the regex missed (bracketed IPv6
    was a real one). Killing requires positive evidence of orphanhood
    (parsed endpoint + refused connect); absence of evidence keeps the
    process alive, and a leaked executor with an odd url shape is the
    rarer, cheaper failure than SIGKILLing a stranger's live executor.
    """
    out = subprocess.run(
        ["pgrep", "-af", "CoarseGrainedExecutorBackend"],
        capture_output=True,
        text=True,
    ).stdout
    reaped: list[str] = []
    for line in out.splitlines():
        pid, _, cmd = line.partition(" ")
        ep = _parse_driver_endpoint(cmd)
        if ep is None:
            continue  # fail safe: cannot prove orphanhood -> keep
        try:
            with socket.create_connection(ep, timeout=1.0):
                continue  # driver endpoint answers: live app, keep
        except OSError:
            pass  # refused/timeout: driver dead -> orphan
        subprocess.run(["kill", "-9", pid], capture_output=True)
        reaped.append(pid)
    return reaped


def ensure_corpus(work: str, scale: str = "x10", dim: int = 64) -> str:
    """Generate (once) and return the rehearsal corpus directory.
    ``dim`` != 64 lands in a separate ``<scale>_d<dim>`` directory —
    the r13 PQ win-regime A/B needs a wide-embedding corpus (dim 512)
    from the SAME generator geometry."""
    from scripts.scale_rehearsal import gen_documents, gen_embeddings
    import pyarrow.parquet as pq

    nd, ne = SCALES[scale]
    d = os.path.join(work, scale if dim == 64 else f"{scale}_d{dim}")
    os.makedirs(d, exist_ok=True)
    if not all(
        os.path.exists(os.path.join(d, f"{t}.parquet"))
        for t in ("documents", "embeddings")
    ):
        for t, gen in (
            ("documents", gen_documents(nd, seed=7)),
            ("embeddings", gen_embeddings(ne, seed=7, dim=dim)),
        ):
            tmp = os.path.join(d, f".{t}.parquet.tmp")
            # r14 (r13 verdict #4): the default write_table packs the
            # whole table into ONE row group, and Spark cannot split a
            # parquet file below row-group granularity — every
            # pre-shuffle scan of the rehearsal corpus ran single-task
            # (the dim-512 x100 cell of scripts/ab_adc.py, since
            # removed, in commit fb98187, spent ~70 min at load ~1
            # on exactly this). At least 128 row groups (the bench x10
            # cell's sizing) lets a local[32] scan fan out fully at
            # every rehearsal scale.
            pq.write_table(gen, tmp, row_group_size=max(1, len(gen) // 128))
            os.replace(tmp, os.path.join(d, f"{t}.parquet"))
    return d


def main() -> int:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_rehearsal"
    corpus = ensure_corpus(work, os.environ.get("CR_SCALE", "x10"))
    sf_dir = os.environ.get("CR_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("CR_REPS", "2"))
    passes = int(os.environ.get("CR_PASSES", "2"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    masters = {
        "local": f"local[{cpus}]",
        "cluster2": f"local-cluster[2,{cpus // 2},24576]",
    }
    child_src = _CHILD.format(
        repo=REPO,
        corpus_queries=CORPUS_QUERIES,
        sf_queries=SF_QUERIES,
        stream_queries=STREAM_QUERIES,
    )

    results: list[dict[str, dict]] = []
    for p in range(passes):
        res: dict[str, dict] = {}
        for label, master in masters.items():
            # a SIGKILLed driver leaks its local-cluster executors (no
            # shutdown hook runs); a stale executor idling on the host
            # would sit inside the next timing — reap before each child
            stale = _reap_orphaned_executors()
            if stale:
                print(json.dumps({"reaped_stale_executors": stale}), flush=True)
            t0 = time.perf_counter()
            out = subprocess.run(
                [sys.executable, "-c", child_src, master, corpus, sf_dir, str(reps)],
                capture_output=True,
                text=True,
                timeout=3600,
                cwd=REPO,
            )
            if out.returncode != 0:
                raise RuntimeError(f"{label}: {out.stderr[-1500:]}")
            line = [
                ln for ln in out.stdout.splitlines() if ln.startswith("CHILD_RESULT ")
            ][-1]
            res[label] = json.loads(line[len("CHILD_RESULT "):])
            print(
                json.dumps(
                    {
                        "pass": p,
                        "master": master,
                        "jvm_wall": round(time.perf_counter() - t0, 1),
                        **{q: v for q, v in res[label].items()},
                    }
                ),
                flush=True,
            )
        results.append(res)

    mins: dict[str, dict[str, float]] = {}
    for label in masters:
        per_q: dict[str, float] = {}
        for res in results:
            for q, v in res[label].items():
                if "sec" in v:
                    per_q[q] = min(per_q.get(q, float("inf")), v["sec"])
        mins[label] = per_q
    print(json.dumps({"min": mins}), flush=True)

    print("\n| query | local[32] | local-cluster[2,16,24g] | cluster/local |")
    print("|---|---|---|---|")
    for q in CORPUS_QUERIES + SF_QUERIES + STREAM_QUERIES:
        a, b = mins["local"].get(q), mins["cluster2"].get(q)
        ratio = f"{b / a:.2f}" if a and b else "-"
        print(f"| {q} | {a}s | {b}s | {ratio} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
