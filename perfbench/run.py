"""Benchmark runner: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload station_analytics --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed into a private directory under the checkout, starts the session
cold (package import, JVM launch, package archive, input registration),
runs a first (cold) pass, the output checks (once), warm-up passes,
then times passes for ``--seconds``.
Diagnostics go to stdout as ``#`` lines; the last line is one JSON
object with the metrics, each with the unit BENCHMARK.json gives it.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
engine's public functions in spans and reports the per-layer metrics;
its timed passes alternate traced and untraced, so the tracing overhead
on ``pass_s`` is measured inside the same run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TREND_LIMIT = 0.10  # timed passes whose fitted trend exceeds ±10% are not steady


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def trend(xs: list[float]) -> float:
    """Least-squares change across the series, as a share of its median."""
    n = len(xs)
    if n < 3:
        return 0.0
    mx = (n - 1) / 2
    slope = sum((i - mx) * (x - median(xs)) for i, x in enumerate(xs)) / sum(
        (i - mx) ** 2 for i in range(n)
    )
    return slope * (n - 1) / median(xs)


def isolate(work: str) -> None:
    """Keep every file the run writes under ``work``: Python's temporary
    directory (the package archive lands there), Spark's local
    directories and the JVM's. Inherited engine knobs are dropped so
    the run measures the defaults."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        log(f"ignoring inherited {k}")
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.slots = len(os.sched_getaffinity(0))  # nproc would honour OMP_NUM_THREADS
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.spark = None

    # -- session -----------------------------------------------------------

    def session(self):
        from citibike_analysis_spark import session

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file under /tmp; JVM temp files stay in the run
            # directory; JIT compiler threads live for the whole run, so their
            # CPU time stays readable in /proc (see probe.ProcTree)
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        }
        spark = session.get_spark(
            app_name="perfbench", master=f"local[{self.slots}]", extra_conf=conf
        )
        spark.sparkContext.setLogLevel("ERROR")
        return session.tune(spark)

    def setup(self, workload) -> float:
        """Start the session cold: the package import (unless a traced
        run imported it to instrument it), the JVM launch, ``tune`` and
        ``ship_package``, input registration and the workload's own
        one-time resolution. Returns the seconds it took."""
        t0 = time.perf_counter()
        with self.tracing(True), self.span("setup", "bench"):
            self.spark = self.session()
            workload.register(self.spark)
        return time.perf_counter() - t0

    # -- passes --------------------------------------------------------------

    @contextmanager
    def tracing(self, on: bool):
        """Record spans and py4j calls inside the block (traced runs only)."""
        if self.tracer is None:
            yield
            return
        before, self.tracer.enabled = self.tracer.enabled, on
        try:
            yield
        finally:
            self.tracer.enabled = before

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer is not None else nullcontext()

    def act(self, df) -> None:
        """Run a plan to completion; traced passes first force its
        physical plan, so Catalyst's share shows as its own span."""
        from workloads import noop

        if self.tracer is not None and self.tracer.enabled:
            with self.span("optimize", "plans"):
                df._jdf.queryExecution().executedPlan()
        with self.span("action", "exec"):
            noop(df)

    def run_pass(self, workload, label: str, traced: bool = False) -> dict:
        from citibike_analysis_spark.cache import release_all

        spark = self.spark
        spark.catalog.clearCache()
        release_all()
        jit0 = self.jvm.sample()
        cpu0 = self.tree.sample()
        first_span = len(self.tracer.spans) if self.tracer is not None else 0
        py4j0 = self.tracer.py4j_calls if self.tracer is not None else 0
        t0 = time.perf_counter()
        ops = []
        with self.tracing(traced), self.span(f"pass:{label}", "bench"):
            for name, op in workload.ops(spark, self.act):
                with self.tracing(False):
                    spark.sparkContext.setJobGroup(f"{label}/{name}", name)
                self.attempted += 1
                ts = time.perf_counter()
                try:
                    with self.span(f"op:{name}", "bench"):
                        op()
                except Exception:  # noqa: BLE001 - a failing operation is counted, not fatal
                    self.failed += 1
                    log(f"{label}/{name} raised:\n" + traceback.format_exc())
                ops.append((name, time.perf_counter() - ts))
        wall = time.perf_counter() - t0
        cpu1 = self.tree.sample()
        jit1 = self.jvm.sample()
        p = {
            "label": label,
            "wall": wall,
            "ops": ops,
            "traced": traced,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            **{k: jit1[k] - jit0[k] for k in jit0},
        }
        if self.tracer is not None:
            # status store reads happen here, after the pass's clock stopped
            p["spans"] = (first_span, len(self.tracer.spans))
            p["py4j_calls"] = self.tracer.py4j_calls - py4j0
            p["exec"], p["jobs"] = self.store.read()
            p["storage_mb"] = self.store.storage_mb()
        return p

    def run(self, workload) -> dict:
        import probe

        cal0 = probe.calibrate()
        load0 = os.getloadavg()[0]
        steal0 = probe.steal_s()
        t0 = time.perf_counter()
        log(f"generated {workload.generate()} in {time.perf_counter() - t0:.2f}s")

        if self.args.trace:
            import spans

            self.tracer = spans.Tracer()
            log(f"traced {spans.instrument(self.tracer)} public functions")
        setup_s = self.setup(workload)
        self.tree = probe.ProcTree(probe.jvm_pid(self.spark))
        self.jvm = probe.Jvm(self.spark)
        if self.tracer is not None:
            self.tracer.count_py4j(self.spark)
            self.store = probe.StatusStore(self.spark)
        log(
            f"host: slots={self.slots} driver_heap_mb={self.jvm.heap_max_mb:.0f} "
            f"loadavg_start={load0:.2f} calibration_start_s={cal0:.4f}"
        )

        log(f"setup {setup_s:.3f}s")
        first = self.run_pass(workload, "first")
        log(f"first pass {first['wall']:.3f}s jit={first['jit_s']:.2f}s")

        # the output checks run once, here: outside the timed passes; their
        # DuckDB side runs in the background while Spark computes the
        # results, and their Spark side warms the JIT like a pass would
        self.check(workload.checks(self.spark))
        # warm passes, at least one, fill the warm-up time; whether it was
        # enough shows in the trend of the timed passes (see report)
        t_warm = time.perf_counter()
        warm = []
        while not warm or time.perf_counter() - t_warm + last <= self.args.warmup_seconds:
            warm.append(self.run_pass(workload, f"warm{len(warm)}"))
            last = warm[-1]["wall"]
        log("warm-up passes: " + " ".join(f"{p['wall']:.3f}" for p in warm))

        timed = []
        t_timed = time.perf_counter()
        # start a pass only if it should end inside the window; at least 3,
        # or 5 in a traced run, which alternates untraced and traced passes
        least = 5 if self.tracer is not None else 3
        while len(timed) < least or time.perf_counter() - t_timed + last <= self.args.seconds:
            traced = self.tracer is not None and len(timed) % 2 == 1
            timed.append(self.run_pass(workload, f"timed{len(timed)}", traced))
            last = timed[-1]["wall"]

        result = {
            "first": first,
            "warm": warm,
            "timed": timed,
            "setup_s": setup_s,
            "peak_rss_mb": self.tree.peak_rss / 2**20,
        }
        cal1 = probe.calibrate()
        log(f"host: loadavg_end={os.getloadavg()[0]:.2f} calibration_end_s={cal1:.4f} "
            f"steal_s={probe.steal_s() - steal0:.2f}")
        return result

    def check(self, checks) -> None:
        for name, fn in checks:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                problems = fn()
            except Exception:  # noqa: BLE001 - a check that raises is a failed check
                problems = [traceback.format_exc()]
            if problems:
                self.failed += 1
            log(f"check {name} ({time.perf_counter() - t0:.1f}s): {'ok' if not problems else problems}")

    def close(self) -> None:
        """Stop the session and wait for the driver JVM to exit, also when
        the run ends half-way through set-up."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate to kill
                proc.kill()
                proc.wait()


def end_to_end(r: dict) -> dict[str, float]:
    timed = r["timed"]
    return {
        "setup_s": r["setup_s"],
        "pass_s": median([p["wall"] for p in timed]),
        "pass_cpu_s": median([p["cpu"]["total"] for p in timed]),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup-seconds", type=float, default=8.0,
                    help="warm passes after the output checks fill this many seconds "
                         "(at least one pass)")
    ap.add_argument("--tiny", action="store_true", help="smallest inputs (smoke test)")
    ap.add_argument("--trace-out", help="write the spans of a traced run to this JSON file")
    args = ap.parse_args(argv)

    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    # SIGTERM unwinds like an exception, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    base = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    runner = None
    try:
        isolate(work)
        data = os.path.join(work, "data")
        os.makedirs(data)
        workload = workloads.WORKLOADS[args.workload](data, args.seed, args.tiny)
        runner = Runner(args, work)
        r = runner.run(workload)
        report(r, runner, args)
    finally:
        if runner is not None:
            runner.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it
    return 0


def report(r: dict, runner: Runner, args) -> None:
    timed = r["timed"]
    walls = [p["wall"] for p in timed]
    tr = trend(walls)
    steady = abs(tr) <= TREND_LIMIT
    log(
        f"timed passes n={len(timed)}: " + " ".join(f"{w:.3f}" for w in walls)
        + f" | trend={tr:+.1%} jit_s=" + " ".join(f"{p['jit_s']:.2f}" for p in timed)
        + " codegen_compiles=" + " ".join(str(p["codegen_compiles"]) for p in timed)
        + f" | {'steady' if steady else 'NOT STEADY'}"
    )
    ops = [ms for p in timed for _, ms in p["ops"]]
    log(f"ops per timed pass: " + ", ".join(f"{n}={median([dict(p['ops'])[n] for p in timed]):.3f}s"
        for n, _ in timed[0]["ops"]) + f" (n={len(ops)})")
    log(f"fail_ratio={runner.failed / max(runner.attempted, 1):.4f} "
        f"({runner.failed} of {runner.attempted} operations and checks)")
    if args.trace:
        import layers

        metrics, lines = layers.per_layer(r, runner, args.trace_out)
        for line in lines:
            log(line)
    else:
        metrics = end_to_end(r)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }), flush=True)


if __name__ == "__main__":
    sys.exit(main())
