"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly one JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"queries_cold": {...}, "value_cold": ..., "sf": ...}``

This module is also the one home of the timing protocol: :func:`timed_runs`
(the rep loop), :func:`cell` (one fresh JVM per tree, run as ``python
bench.py --cell TREE SF NAMES REPS CPUS``) and :func:`interleaved`
(cells over several git trees in alternating order, min per query).

Headline set spans the engine's main cost shapes: grouped aggregation
(q01), the flagship CTE+window reduction (q20) and its skew-safe
approx-quantile variant (q104 — q56 is that plan's driver-checked
overlap audit), broadcast-join chain (q05), windowed
rollup (q19), spatial band join (q21), shingle near-dup (q34), minhash
LSH (q36), brute-force ANN (q38), as-of join (q41) and its bucketed
hot-key-safe variant (q58), LSH-bucketed ANN (q44), dedup
clustering / connected components (q46), benchmark decontamination
(q63), corpus-statistics join-back (q68), sketch + exact-recount heavy
hitters (q72), chunk-level span dedup (q74), bigram-LM scoring
(q79), within-cluster semantic dedup (q77), the composed five-stage
corpus pipeline (q86 — the closest shape to the real 100 TB job),
vocab encode (q90 — the Python/Arrow boundary cost), the sort-free
global index (q95), and per-stratum weighted sampling (q99). The
``streaming`` block times the streaming tier (availability rollup +
live-corpus admission at a 2k/20k rows-per-batch sweep, stateful
sessions, and the stream-stream weather interval join) over synthetic
micro-batches — rows/sec and per-batch trigger latency (r04 VERDICT
#4; sweep r05 #6; weather join r06 #7).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))


HEADLINE = [
    "q01_pricing_summary",
    "q05_regional_revenue",
    "q19_interval_rollup",
    "q20_interesting_suppliers",
    "q21_spatial_neighbors",
    "q34_ngram_jaccard",
    "q36_minhash_dedup",
    "q38_ann_topk",
    "q39_embedding_near_dup",
    "q41_asof_join",
    "q44_ann_lsh",
    "q46_dedup_clusters",
    "q104_scalable_picks",
    "q58_asof_join_bucketed",
    "q63_decontaminate",
    "q68_unigram_logprob",
    "q72_frequent_tokens",
    "q74_chunk_dedup",
    # r14: span-level dedup joins the headline — totals from r14 on
    # carry one extra row vs the r11-r13 band; trend per-query.
    "q143_duplicated_spans",
    "q77_semantic_dedup",
    "q79_bigram_logprob",
    "q86_corpus_pipeline",
    "q90_encode_documents",
    "q95_global_positions",
    "q99_weighted_sample",
]


def timed_runs(spark, fn, sf_dir: str, reps: int) -> list[float]:
    """The timing protocol, the one copy of it: per rep, clearCache, then
    ``release_all``, then ``fn(spark, sf_dir)`` written to the noop sink
    and timed with perf_counter. Returns the ``reps`` walls in seconds.

    Isolation runs before EVERY rep (not once per query — r04 review):
    rep 1's operator-internal persists otherwise stay in the cache
    manager, rep 2's identical plan gets plan-matched to the cached
    blocks, and the rep reports a cache-hit read with the index build
    skipped. clearCache drops persisted blocks (and the cross-query leak
    that measured q58 at 18 s in-session vs 4.5 s standalone);
    release_all additionally frees localCheckpoint blocks (the CC
    rounds), which clearCache cannot reach."""
    from citibike_analysis_spark.cache import release_all

    runs = []
    for _ in range(reps):
        spark.catalog.clearCache()
        release_all()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return runs


# --------------------------------------------------------------------------
# x10 cell (r15, r14 VERDICT #6): at sf0.1 EVERY headline query ran
# faster at 8 cores than 32 (scaling ratios 0.36-0.93) — the bench was
# measuring driver/AQE/task overhead, not data. This leg generates the
# deterministic x10 rehearsal corpus (50k docs / 20k vecs, seed 7,
# numpy generator from scripts/scale_rehearsal.py, written multi-row-
# group so scans parallelize) into a tempdir at bench time — nothing
# persisted across runs — and times four representative data-bound
# families on it under the same 2-rep warm/cold protocol. Entries are
# ADDED to the queries dict under x10_* names: totals from r15 on carry
# these extra rows (trend per-query, as with q143 in r14).
# --------------------------------------------------------------------------

X10_DOCS, X10_VECS = 50_000, 20_000
X10_QUERIES = (
    "q61_capped_jaccard",
    "q36_minhash_dedup",
    "q39_embedding_near_dup",
    "q90_encode_documents",
)


def x10_block(spark, steady: dict, cold: dict) -> dict:
    """Generate the x10 corpus and time X10_QUERIES on it, merging
    ``x10_<name>`` entries into the steady/cold dicts. Never sinks the
    bench: any error is reported in the returned info block."""
    import shutil
    import tempfile

    from citibike_analysis_spark.plans import all_queries

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    info: dict = {"docs": X10_DOCS, "vecs": X10_VECS, "seed": 7}
    work = tempfile.mkdtemp(prefix="bench_x10_")
    try:
        import pyarrow.parquet as _pq

        import scale_rehearsal as sr

        t0 = time.perf_counter()
        for t, gen in (
            ("documents", sr.gen_documents(X10_DOCS, seed=7)),
            ("embeddings", sr.gen_embeddings(X10_VECS, seed=7)),
        ):
            _pq.write_table(
                gen,
                os.path.join(work, f"{t}.parquet"),
                # at least 128 row groups per table (50k docs: 129 of
                # 390 rows; 20k vecs: 129 of 156), so the scan's byte
                # splits each hold data and carry at least core-count
                # tasks; a single row group would serialize every
                # pipeline above the scan
                row_group_size=max(1, len(gen) // 128),
            )
        info["gen_sec"] = round(time.perf_counter() - t0, 2)
        specs = all_queries()
        for name in X10_QUERIES:
            runs = timed_runs(spark, specs[name].fn, work, 2)
            cold[f"x10_{name}"] = round(runs[0], 3)
            steady[f"x10_{name}"] = round(min(runs), 3)
    except Exception as exc:  # noqa: BLE001 - report, never sink the bench
        info["err"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return info


# --------------------------------------------------------------------------
# Cross-round comparability (r03 VERDICT #4). The host drifted ~4.5x
# between rounds 2 and 3, which made raw BENCH_r*.json deltas
# uninterpretable and cost two rounds of phantom-regression chasing.
# Two additions make every BENCH file self-normalizing:
#   - "host": a hardware fingerprint + load sample, so files from
#     different hosts/states are never compared raw;
#   - "canary": the PREVIOUS round's committed code timed on TODAY's
#     host in the same bench run (subprocess against a temp git
#     worktree, min of 3). cross-round claims should cite
#     steady[q]/canary[q] (same host, same session) — not deltas
#     between files.
# --------------------------------------------------------------------------

# one query per cost family (r04 VERDICT #5) so a protocol or code
# regression is attributable: as-of window (q41), broadcast-join chain
# (q05), persist-routed MinHash LSH (q36), bucketed hot-key window
# (q58), Arrow-seam embedding near-dup (q39), persist-routed
# k-means-seeded SemDeDup (q77 — added r06 after its uncanaried +44%
# cold swing in r05 proved unattributable, r05 VERDICT #2)
CANARY_QUERIES = (
    "q41_asof_join",
    "q05_regional_revenue",
    "q36_minhash_dedup",
    "q58_asof_join_bucketed",
    "q39_embedding_near_dup",
    "q77_semantic_dedup",
    # r08 (r07 verdict #2): q46 was the heaviest of the three warm
    # drifts (+65/+57/+47%) with no same-host instrument; the r08
    # interleaved A/B read q44 0.688 / q46 0.834 / q104 1.057 vs the
    # r06 tree — host variance — and q46 joins the canaries so the
    # iterative-CC family never goes unattributed again
    "q46_dedup_clusters",
    # r12 (r11 watch item): q90 read 1.21× in r11 on untouched code and
    # 1.13× vs r10 in the r12 read — both inside/adjacent to the drift
    # band with no same-host instrument for the encode family; q90
    # joins the canaries so the tokenize/encode family is attributable
    "q90_encode_documents",
)


def cell(tree: str, sf_dir: str, names: list[str], reps: int, cpus: str) -> dict:
    """One fresh-JVM cell: time ``names`` from the package in ``tree``
    (one untimed warmup, then min of ``reps`` under :func:`timed_runs`)
    on a vanilla ``local[cpus]`` session. Queries the tree does not
    register are skipped. Run as ``python bench.py --cell TREE SF NAMES
    REPS CPUS``; it prints the result as one JSON line.

    The session keeps Spark's default generated-class cache (100
    entries), not ``session.CODEGEN_CACHE_ENTRIES``: the older trees a
    cell times lack that constant, and every tree must run under the
    same conf."""
    # sys.path[0] is this file's checkout: put TREE first, or the cell
    # would time this checkout's package under the other tree's label
    sys.path.insert(0, tree)
    import citibike_analysis_spark

    pkg = os.path.realpath(citibike_analysis_spark.__file__)
    if not pkg.startswith(os.path.join(os.path.realpath(tree), "")):
        raise RuntimeError(f"cell imported {pkg}, not the package in {tree}")
    from pyspark.sql import SparkSession

    from citibike_analysis_spark.plans import all_queries

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    out = {
        name: round(min(timed_runs(spark, specs[name].fn, sf_dir, reps + 1)[1:]), 3)
        for name in names
        if name in specs
    }
    spark.stop()
    return out


def _run_cell(tree: str, sf_dir: str, names, reps: int, cpus: str) -> dict:
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--cell", tree,
         sf_dir, ",".join(names), str(reps), cpus],
        capture_output=True, text=True, timeout=1800,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        # surface the subprocess's own diagnostics — an empty stdout
        # otherwise dies as an unactionable IndexError (r04 review)
        raise RuntimeError(
            f"cell subprocess rc={out.returncode}: " + out.stderr.strip()[-300:]
        )
    return json.loads(lines[-1])


def read_load(stat_path: str = "/proc/stat") -> dict:
    """The host's load now: ``load1``, the 1-minute loadavg, and
    ``steal_s``, the hypervisor steal since boot in CPU-seconds (the 8th
    value of the ``cpu`` line in ``stat_path``). A value the host does
    not expose is left out."""
    out: dict = {}
    try:
        out["load1"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        with open(stat_path) as fh:
            fields = fh.readline().split()
        if fields[0] == "cpu":
            out["steal_s"] = int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        pass
    return out


def load_delta(start: dict, end: dict) -> dict:
    """One cell's load record from :func:`read_load` before and after
    it: ``load1`` as [start, end] and the ``steal_s`` spent in between."""
    rec = {"load1": [start.get("load1"), end.get("load1")]}
    if "steal_s" in start and "steal_s" in end:
        rec["steal_s"] = round(end["steal_s"] - start["steal_s"], 2)
    return rec


def interleaved(
    refs: dict, sf_dir: str, names, reps: int, cpus: str, passes: int = 2
) -> dict:
    """Time ``names`` in several git trees, ``{label: ref}`` (ref None =
    this checkout, anything else a detached worktree), one fresh-JVM
    :func:`cell` per (tree, pass).

    Passes alternate the tree order and each query keeps its min over
    passes, so a mid-run host drift lands inside every tree's record
    (r15 measurement fix, stated in OPTIMIZATION_r15.md: a single
    prev-then-head pass read head 1.3-1.9x on every canary including
    untouched code; a 3-pass interleaved re-run on the same host read
    0.83-1.04x). Returns ``{"passes": [{label: {q: s}}], "load":
    [{label: load_delta}], "min": {label: {q: s}}}``; only same-run
    ratios between labels are meaningful, and ``load`` (loadavg and
    steal per cell) tells a ratio measured under load from a
    regression."""
    import subprocess
    import tempfile

    trees: dict[str, str] = {}
    try:
        for label, ref in refs.items():
            if ref is None:
                trees[label] = REPO
                continue
            trees[label] = tempfile.mkdtemp(prefix=f"bench_{label}_")
            subprocess.run(
                ["git", "worktree", "add", "--detach", "-f", trees[label], ref],
                cwd=REPO, check=True, capture_output=True, timeout=60,
            )
        results: list[dict] = []
        loads: list[dict] = []
        mins: dict[str, dict] = {label: {} for label in trees}
        for p in range(passes):
            res: dict[str, dict] = {}
            load: dict[str, dict] = {}
            for label in list(trees)[:: -1 if p % 2 else 1]:
                before = read_load()
                res[label] = _run_cell(trees[label], sf_dir, names, reps, cpus)
                load[label] = load_delta(before, read_load())
                for q, v in res[label].items():
                    mins[label][q] = min(mins[label].get(q, v), v)
            results.append(res)
            loads.append(load)
    finally:
        for tree in trees.values():
            if tree != REPO:
                subprocess.run(
                    ["git", "worktree", "remove", "--force", tree],
                    cwd=REPO, capture_output=True, timeout=60,
                )
    return {"passes": results, "load": loads, "min": mins}


def previous_round() -> tuple[str, int] | None:
    """(sha, N) of the newest ``round N:`` commit that is NOT HEAD: right
    after the driver commits 'round N', HEAD == that marker and the
    canary would time HEAD against HEAD, certifying ~1.0 without ever
    running the previous round's code (r04 review)."""
    import re
    import subprocess

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", *args],
            capture_output=True, text=True, cwd=REPO, check=True, timeout=30,
        ).stdout

    head = git("rev-parse", "HEAD").strip()
    log = git("log", "--pretty=%H %s")
    for m in re.finditer(r"^([0-9a-f]{40}) round (\d+):", log, re.M):
        if m.group(1) != head:
            return m.group(1), int(m.group(2))
    return None


def wait_for_idle(
    max_load: float = 4.0, timeout_sec: float = 300.0, poll_sec: float = 15.0
) -> dict:
    """Idle-host gate (r04 VERDICT #7): BENCH_r04 started at loadavg
    ~10/32 — background load that the canary protocol makes survivable
    but that still contaminates the headline absolutes. Wait (bounded)
    for 1-minute loadavg to drop under ``max_load``; if it never does,
    proceed anyway but record the contamination explicitly so the file
    is honest about its conditions instead of silently dirty."""
    t0 = time.time()
    start = list(os.getloadavg())
    while True:
        load = os.getloadavg()[0]
        waited = round(time.time() - t0, 1)
        if load <= max_load:
            return {
                "status": "idle",
                "waited_sec": waited,
                "loadavg_at_start": start,
                "loadavg_at_go": load,
            }
        if waited >= timeout_sec:
            return {
                "status": "contaminated",
                "waited_sec": waited,
                "loadavg_at_start": start,
                "loadavg_at_go": load,
                "note": "headline absolutes measured under background load; "
                "compare via canary_ratio only",
            }
        time.sleep(poll_sec)


def host_block() -> dict:
    import hashlib
    import platform

    info: dict = {"platform": platform.platform(), "ncpus": os.cpu_count()}
    try:
        lines = open("/proc/cpuinfo").read().splitlines()
        model = next(
            (
                ln.split(":", 1)[1].strip()
                for ln in lines
                if ln.lower().startswith("model name")
            ),
            None,
        )
        # hash only frequency-independent fields: "cpu MHz" changes per
        # read and would make the fingerprint useless
        stable_keys = ("model name", "vendor_id", "cpu cores", "siblings", "cache size", "flags")
        stable = "\n".join(
            sorted({ln for ln in lines if ln.split(":")[0].strip() in stable_keys})
        )
        info["cpu_model"] = model
        info["cpuinfo_hash"] = hashlib.md5(stable.encode()).hexdigest()[:12]
    except OSError:
        pass
    try:
        info["loadavg_start"] = list(os.getloadavg())
    except OSError:
        pass
    try:
        mem = next(ln for ln in open("/proc/meminfo") if ln.startswith("MemTotal"))
        info["mem_total_kb"] = int(mem.split()[1])
    except (OSError, StopIteration, ValueError):
        pass
    return info


def canary_block(sf_dir: str, cpus: str, reps: int = 3) -> dict:
    """Time the previous round's committed code AND this checkout on
    today's host under an identical fresh-subprocess protocol.

    The main loop's steady numbers come from a long-lived, fully
    JIT-warmed JVM; a canary subprocess is colder. Comparing the main
    numbers against a cold canary bakes a warmth bias into the ratio
    (measured ~2x on q41), so BOTH trees run the same one-warmup,
    min-of-N fresh-JVM cells in two interleaved passes, and only
    prev-vs-head is compared. Never fails the bench: any error is
    reported in the block.
    """
    try:
        prev = previous_round()
        if prev is None:
            return {"err": "no previous-round commit distinct from HEAD"}
        sha, rnd = prev
        out = interleaved(
            {"prev": sha, "head": None}, sf_dir, CANARY_QUERIES, reps, cpus
        )
        return {
            "ref": sha[:9],
            "round": rnd,
            "reps": reps,
            "passes": 2,
            "interleaved": True,
            "prev": out["min"]["prev"],
            "head": out["min"]["head"],
            # per pass and tree: the cell's timings and the host load
            # while it ran
            "per_pass": out["passes"],
            "load": out["load"],
        }
    except Exception as exc:  # noqa: BLE001 - canary must never sink the bench
        return {"err": f"{type(exc).__name__}: {exc}"[:300]}


# --------------------------------------------------------------------------
# Streaming tier micro-bench (r04 VERDICT #4): the 10 streaming
# behaviors are pytest-verified but had zero bench coverage — a perf
# regression in the rollup or the admission filter was invisible.
# Throughput (rows/sec over the whole run) and per-batch trigger
# latency (p50/max from recentProgress) for the two production
# streaming paths, over synthetic micro-batches generated fresh per
# run (same generator, fixed seeds/shapes → comparable across rounds
# on the same host, same caveats as the batch numbers).
# --------------------------------------------------------------------------

STREAM_BATCHES = 15
STREAM_ROWS_PER_BATCH = 2000
# knob sweep (r05 VERDICT #6): r05's single 2k-row point was micro-
# batch-overhead-dominated (p50 batch ~1.0-1.3 s at ~1.3-1.8k rows/s);
# a second 20k-row point puts the overhead-vs-throughput curve on
# record so batch-size regressions are attributable.
STREAM_SWEEP_ROWS = (2000, 20000)


def _progress_stats(query, wall: float, total_rows: int) -> dict:
    durs = sorted(
        p["durationMs"]["triggerExecution"]
        for p in (query.recentProgress or [])
        if p.get("numInputRows", 0) > 0 and "durationMs" in p
    )
    stats = {
        "rows": total_rows,
        "batches": len(durs),
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(total_rows / wall, 1) if wall else None,
    }
    if durs:
        stats["batch_ms_p50"] = durs[len(durs) // 2]
        stats["batch_ms_max"] = durs[-1]
    return stats


def _bench_rollup(spark, workdir: str, rows_per_batch: int = STREAM_ROWS_PER_BATCH) -> dict:
    import json as _json
    from datetime import datetime, timedelta

    from citibike_analysis_spark.streaming.ingest import read_feed_stream
    from citibike_analysis_spark.streaming.rollup import availability_rollup

    in_dir = os.path.join(workdir, "feed_in")
    ckpt = os.path.join(workdir, "feed_ckpt")
    os.makedirs(in_dir)
    base = datetime(2024, 3, 1, 8, 0, 0)
    total = 0
    for b in range(STREAM_BATCHES):
        with open(os.path.join(in_dir, f"b{b:03d}.json"), "w") as f:
            for r in range(rows_per_batch):
                ts = base + timedelta(minutes=3 * b, seconds=r % 180)
                f.write(
                    _json.dumps(
                        {
                            "id": r % 500,
                            "stationName": f"S{r % 500}",
                            "availableBikes": (r * 7) % 40,
                            "availableDocks": 40 - (r * 7) % 40,
                            "statusValue": "In Service",
                            "lastCommunicationTime": ts.strftime(
                                "%Y-%m-%d %I:%M:%S %p"
                            ),
                        }
                    )
                    + "\n"
                )
                total += 1

    rolled = availability_rollup(read_feed_stream(spark, in_dir))
    q = (
        rolled.writeStream.outputMode("update")
        .foreachBatch(lambda b, e: b.write.format("noop").mode("overwrite").save())
        .option("checkpointLocation", ckpt)
        .start()
    )
    t0 = time.perf_counter()
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        return _progress_stats(q, wall, total)
    finally:
        q.stop()


def _bench_index_maintenance(
    spark,
    workdir: str,
    rows_per_batch: int = STREAM_ROWS_PER_BATCH,
    shuffle_partitions: int | None = None,
) -> dict:
    """Throughput of the composed tier (r14): micro-batches appended into
    a persisted IVF index via the foreachBatch maintenance sink —
    anti-join exactly-once + stamped assignment + three-axis drift stats
    per batch. Build over the sf embeddings, stream deterministic
    synthetic vectors with disjoint ids; rows/sec is the ingest rate a
    continuously-maintained 100 TB similarity index sustains per core.

    ``shuffle_partitions`` (r15, r14 VERDICT #7) starts the maintenance
    query under that ``spark.sql.shuffle.partitions`` — the r14
    decomposition showed p50 ~1.07 s/batch dominated by 32 per-partition
    state commits, and the width is a START-time deployment setting
    frozen into the checkpoint (the r07 stateful sizing rule), so the
    bench carries both widths like ``weather_join`` already does."""
    from pyspark.sql import functions as F

    from citibike_analysis_spark.operators.similarity import build_ivf_index
    from citibike_analysis_spark.sources.tables import load_table
    from citibike_analysis_spark.streaming.ann import start_index_maintenance

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    in_dir = os.path.join(workdir, "vec_in")
    ckpt = os.path.join(workdir, "vec_ckpt")
    os.makedirs(in_dir)
    table = "bench_maint_idx"
    for s in ("", "__cents", "__tombs", "__codes", "__books"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{s}")
    emb = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(emb, table, nlist=16, train_iters=2)
    dim = len(emb.select("embedding").first()["embedding"])
    total = 0
    for b in range(STREAM_BATCHES):
        ids = spark.range(
            10_000_000 + b * rows_per_batch,
            10_000_000 + (b + 1) * rows_per_batch,
        )
        vecs = ids.select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: F.sin(F.col("id") * 0.37 + j * 0.11).cast("float"),
            ).alias("embedding"),
        )
        vecs.coalesce(1).write.mode("append").parquet(in_dir)
        total += rows_per_batch
    stream = (
        spark.readStream.schema(f"vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = start_index_maintenance(stream, table, ckpt)
        t0 = time.perf_counter()
        try:
            q.processAllAvailable()
            wall = time.perf_counter() - t0
            return _progress_stats(q, wall, total)
        finally:
            q.stop()
            for s in ("", "__cents", "__tombs", "__codes", "__books"):
                spark.sql(f"DROP TABLE IF EXISTS {table}{s}")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _bench_admission(spark, workdir: str, rows_per_batch: int = STREAM_ROWS_PER_BATCH) -> dict:
    import json as _json
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from citibike_analysis_spark.streaming.enrich import start_admission

    in_dir = os.path.join(workdir, "docs_in")
    ckpt = os.path.join(workdir, "docs_ckpt")
    corpus = os.path.join(workdir, "corpus")
    os.makedirs(in_dir)
    # a 5k-hash landed corpus; half of each batch is a known dup
    spark.range(5000).select(
        F.md5(F.concat(F.lit("known-"), F.col("id"))).alias("content_hash")
    ).write.parquet(corpus)
    base = datetime(2024, 3, 1, 8, 0, 0)
    total = 0
    for b in range(STREAM_BATCHES):
        with open(os.path.join(in_dir, f"b{b:03d}.json"), "w") as f:
            for r in range(rows_per_batch):
                ts = base + timedelta(minutes=3 * b, seconds=r % 180)
                text = (
                    f"known-{(b * rows_per_batch + r) % 5000}"
                    if r % 2 == 0
                    else f"novel doc {b}-{r} body text"
                )
                f.write(
                    _json.dumps(
                        {
                            "doc_id": b * rows_per_batch + r,
                            "ts": ts.strftime("%Y-%m-%dT%H:%M:%S"),
                            "text": text,
                        }
                    )
                    + "\n"
                )
                total += 1

    docs = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .json(in_dir)
    )
    q = start_admission(
        docs,
        corpus,
        lambda b, e: b.write.format("noop").mode("overwrite").save(),
        ts_col="ts",
        checkpoint_dir=ckpt,
    )
    t0 = time.perf_counter()
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        return _progress_stats(q, wall, total)
    finally:
        q.stop()


def _bench_sessions(spark, workdir: str, rows_per_batch: int = STREAM_ROWS_PER_BATCH) -> dict:
    """Stateful-operator throughput (r05 VERDICT #6): track_sessions —
    applyInPandasWithState with event-time timeout — was the one
    streaming path with no bench row. 500 stations, a >gap time jump
    every 5 batches so sessions actually close (state churn, not just
    accumulation); throughput is INPUT rows/sec like the other rows."""
    import json as _json
    from datetime import datetime, timedelta

    from citibike_analysis_spark.streaming.enrich import track_sessions
    from citibike_analysis_spark.streaming.ingest import read_feed_stream

    in_dir = os.path.join(workdir, "feed_in")
    ckpt = os.path.join(workdir, "feed_ckpt")
    os.makedirs(in_dir)
    base = datetime(2024, 3, 1, 8, 0, 0)
    total = 0
    for b in range(STREAM_BATCHES):
        # 2-hour jump every 5 batches: exceeds the 30-min gap, so open
        # sessions close and their state is replaced, not just grown
        start = base + timedelta(hours=2 * (b // 5), minutes=3 * b)
        with open(os.path.join(in_dir, f"b{b:03d}.json"), "w") as f:
            for r in range(rows_per_batch):
                ts = start + timedelta(seconds=r % 180)
                f.write(
                    _json.dumps(
                        {
                            "id": r % 500,
                            "stationName": f"S{r % 500}",
                            "availableBikes": (r * 7) % 40,
                            "availableDocks": 40 - (r * 7) % 40,
                            "statusValue": "In Service",
                            "lastCommunicationTime": ts.strftime(
                                "%Y-%m-%d %I:%M:%S %p"
                            ),
                        }
                    )
                    + "\n"
                )
                total += 1

    sessions = track_sessions(read_feed_stream(spark, in_dir))
    q = (
        sessions.writeStream.outputMode("append")
        .foreachBatch(lambda b, e: b.write.format("noop").mode("overwrite").save())
        .option("checkpointLocation", ckpt)
        .start()
    )
    t0 = time.perf_counter()
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        return _progress_stats(q, wall, total)
    finally:
        q.stop()


def _bench_weather_join(
    spark,
    workdir: str,
    rows_per_batch: int = STREAM_ROWS_PER_BATCH,
    shuffle_partitions: int | None = None,
) -> dict:
    """Stream-stream interval join throughput (r06 VERDICT #7):
    join_weather_streams was the one streaming path with driver-signed
    correctness (q123) but no bench row. Fact side = station samples at
    the sweep rate; dim side = one weather row per (zip, hour), emitted
    on the first batch covering that hour so the join output stays
    duplicate-free. Throughput is INPUT rows/sec across both streams
    (weather is ~10 rows/hour — noise next to the fact side).

    ``shuffle_partitions`` starts the query under that
    ``spark.sql.shuffle.partitions`` (read at QUERY start, frozen into
    the checkpoint): the r07-measured stateful sizing rule (32→8: p50
    5.3 s → 1.4 s — per-partition state-store open/commit is paid every
    micro-batch) gets its own bench artifact this way (r07 verdict #6)
    next to the engine-default row, instead of living in prose only."""
    import json as _json
    from datetime import datetime, timedelta

    from citibike_analysis_spark.streaming.enrich import join_weather_streams

    s_dir = os.path.join(workdir, "samples_in")
    w_dir = os.path.join(workdir, "weather_in")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(s_dir)
    os.makedirs(w_dir)
    base = datetime(2024, 3, 1, 8, 0, 0)
    total = 0
    zips = 10
    seen_hours: set = set()
    for b in range(STREAM_BATCHES):
        start = base + timedelta(minutes=3 * b)
        with open(os.path.join(s_dir, f"b{b:03d}.json"), "w") as f:
            for r in range(rows_per_batch):
                ts = start + timedelta(seconds=r % 180)
                f.write(
                    _json.dumps(
                        {
                            "station_id": r % 500,
                            "zip": f"1000{r % zips}",
                            "last_communication_time": ts.strftime(
                                "%Y-%m-%dT%H:%M:%S"
                            ),
                            "available_bikes": (r * 7) % 40,
                        }
                    )
                    + "\n"
                )
                total += 1
        with open(os.path.join(w_dir, f"b{b:03d}.json"), "w") as f:
            for hour in {
                (start + timedelta(seconds=s)).replace(minute=0, second=0)
                for s in (0, 179)
            }:
                if hour in seen_hours:
                    continue
                seen_hours.add(hour)
                for z in range(zips):
                    f.write(
                        _json.dumps(
                            {
                                "zip": f"1000{z}",
                                "time_hour": hour.strftime("%Y-%m-%dT%H:%M:%S"),
                                "temperature": 50.0 + z,
                            }
                        )
                        + "\n"
                    )
                    total += 1

    samples = (
        spark.readStream.schema(
            "station_id long, zip string, "
            "last_communication_time timestamp, available_bikes long"
        )
        .option("maxFilesPerTrigger", 1)
        .json(s_dir)
    )
    weather = (
        spark.readStream.schema("zip string, time_hour timestamp, temperature double")
        .option("maxFilesPerTrigger", 1)
        .json(w_dir)
    )
    joined = join_weather_streams(samples, weather)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            joined.writeStream.outputMode("append")
            .foreachBatch(
                lambda b, e: b.write.format("noop").mode("overwrite").save()
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        t0 = time.perf_counter()
        try:
            q.processAllAvailable()
            wall = time.perf_counter() - t0
            return _progress_stats(q, wall, total)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def streaming_block(spark) -> dict:
    import shutil
    import tempfile

    out: dict = {
        "batches": STREAM_BATCHES,
        "rows_per_batch": STREAM_ROWS_PER_BATCH,
        "sweep_rows": list(STREAM_SWEEP_ROWS),
    }
    jobs = [
        (f"rollup_{rows}", _bench_rollup, rows) for rows in STREAM_SWEEP_ROWS
    ] + [
        (f"admission_{rows}", _bench_admission, rows) for rows in STREAM_SWEEP_ROWS
    ] + [
        ("sessions", _bench_sessions, STREAM_ROWS_PER_BATCH),
    ] + [
        (f"weather_join_{rows}", _bench_weather_join, rows)
        for rows in STREAM_SWEEP_ROWS
    ] + [
        # the documented SIZED configuration (r07 sizing rule: stateful
        # queries size shuffle partitions to STATE volume, not cores;
        # measured 32→8 = p50 5.3 s → 1.4 s) next to the default-32 row
        # above, so the rule carries a bench artifact (r07 verdict #6)
        (
            f"weather_join_sized8_{STREAM_ROWS_PER_BATCH}",
            functools.partial(_bench_weather_join, shuffle_partitions=8),
            STREAM_ROWS_PER_BATCH,
        ),
    ] + [
        # r14: the composed tier — persisted-IVF maintenance under
        # foreachBatch (streaming/ann.py), per-batch anti-join +
        # stamped assignment + drift stats
        (
            f"index_maint_{STREAM_ROWS_PER_BATCH}",
            _bench_index_maintenance,
            STREAM_ROWS_PER_BATCH,
        ),
    ] + [
        # r15 (r14 VERDICT #7): the SIZED width next to the default-32
        # row — per-batch cost decomposed to 32 per-partition state
        # commits; stateful width is a start-time deployment setting
        # (r07 rule), so both widths carry bench artifacts
        (
            f"index_maint_sized8_{STREAM_ROWS_PER_BATCH}",
            functools.partial(_bench_index_maintenance, shuffle_partitions=8),
            STREAM_ROWS_PER_BATCH,
        ),
    ]
    for name, fn, rows in jobs:
        workdir = tempfile.mkdtemp(prefix=f"bench_stream_{name}_")
        try:
            out[name] = fn(spark, workdir, rows)
        except Exception as exc:  # noqa: BLE001 - report, never sink the bench
            out[name] = {"err": f"{type(exc).__name__}: {exc}"[:300]}
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    # alias the 2k rows points under the r04/r05 names so cross-round
    # tooling reading "rollup"/"admission" keeps working
    out["rollup"] = out.get(f"rollup_{STREAM_ROWS_PER_BATCH}")
    out["admission"] = out.get(f"admission_{STREAM_ROWS_PER_BATCH}")
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from citibike_analysis_spark.plans import all_queries
    from citibike_analysis_spark.session import get_spark

    idle_gate = wait_for_idle()

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    # warm the JVM + parquet footers once (untimed)
    specs["q01_pricing_summary"].fn(spark, sf_dir).count()

    # Per query: 2 consecutive runs. The first ("cold") pays one-time JVM
    # JIT/codegen compilation (measured 1-3 s on the wide-aggregate
    # queries) that amortizes to nothing over a production run's
    # thousands of tasks; the minimum ("steady") reports the engine's
    # steady-state cost, which is the quantity that scales. BOTH are
    # emitted (VERDICT r1 #4) so a cold-path regression cannot hide
    # behind the steady headline, and vice versa.
    steady: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        runs = timed_runs(spark, specs[name].fn, sf_dir, 2)
        cold[name] = round(runs[0], 3)
        steady[name] = round(min(runs), 3)

    x10_info = x10_block(spark, steady, cold)

    streaming = streaming_block(spark)

    spark.stop()

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    canary = canary_block(sf_dir, cpus)
    prev_t, head_t = canary.get("prev", {}), canary.get("head", {})
    ratios = {
        q: round(head_t[q] / t, 3)
        for q, t in prev_t.items()
        if head_t.get(q) and t
    }
    result = {
        "metric": "headline_queries_total",
        "value": round(sum(steady.values()), 3),
        "unit": "sec",
        "queries": steady,
        "value_cold": round(sum(cold.values()), 3),
        "queries_cold": cold,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "x10": x10_info,
        "streaming": streaming,
        "host": {**host_block(), "idle_gate": idle_gate},
        "canary": canary,
        # steady/canary on the SAME host+session: the only valid
        # cross-round comparison basis (>1 = HEAD slower than the
        # previous round's code today)
        "canary_ratio": ratios,
    }
    # Artifact-truncation fix (r05 VERDICT #4): the driver keeps only a
    # 2000-char TAIL of stdout, so the old ~5 KB single line arrived
    # mid-JSON and BENCH_r04/r05 lost their warm blocks ("parsed": null).
    # Write the COMPLETE result to a committed file, and keep the stdout
    # line under the tail window (full per-query warm numbers + scalar
    # cold/streaming/canary summaries + a pointer to the full file).
    full_path = os.path.join(REPO, "BENCH_FULL.json")
    with open(full_path, "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    stdout_line = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "queries": steady,
        "value_cold": result["value_cold"],
        "sf": result["sf"],
        "canary_ratio": ratios,
        "full": "BENCH_FULL.json",
    }
    line = json.dumps(stdout_line)
    if len(line) > 1990:  # never exceed the driver's tail window
        stdout_line.pop("canary_ratio", None)
        line = json.dumps(stdout_line)
    print(line)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--cell"]:
        tree, sf_dir, names, reps, cpus = sys.argv[2:7]
        print(json.dumps(cell(tree, sf_dir, names.split(","), int(reps), cpus)))
    else:
        sys.exit(main())
