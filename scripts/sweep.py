"""Local mirror of the driver's sf0.01 oracle sweep.

Runs every ``queries()`` entry on a vanilla session, compares against
``oracle_sql()`` via the DuckDB harness in ``tests/oracle.py``, and prints a
one-line status per query plus a failing-count exit code.

Usage: python scripts/sweep.py [sf_dir] [query ...]
"""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession


def rebuild_session(b) -> "SparkSession":
    """Fresh session after a dead JVM/context — the cascade stopper.

    Clearing only ``SparkSession._instantiatedSession/_activeSession``
    is NOT enough (r09 ADVICE): ``SparkContext._active_spark_context``
    still holds the stopped/dead context and (verified on PySpark
    4.1.2) ``SparkContext.getOrCreate`` hands it back unchanged, so the
    "fresh" session wraps the same corpse and the retry fails
    identically — exactly the q57 GCLocker scenario the restart path
    was built for. ``SparkContext.stop()`` clears the slot even when
    the JVM side is gone (its py4j teardown is wrapped defensively), so
    call it first; then clear the slot explicitly under the lock in
    case ``stop()`` died before reaching it. Finally probe the gateway
    JVM with a trivial round-trip: if the JVM process itself is dead,
    drop ``_gateway``/``_jvm`` so ``getOrCreate`` launches a new JVM
    instead of connecting to the closed socket forever.
    """
    from pyspark import SparkContext

    try:
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
    except Exception:  # noqa: BLE001 - JVM already gone
        pass
    with SparkContext._lock:
        SparkContext._active_spark_context = None
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.jvm.java.lang.System.currentTimeMillis()
        except Exception:  # noqa: BLE001 - gateway JVM dead
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    return b.getOrCreate()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # SWEEP_MASTER=local-cluster[2,8,8192] runs the whole sweep across a
    # REAL process boundary (r07: how the q45 unpickle bug class gets
    # caught systematically rather than by luck); default stays the
    # driver-like local[8] vanilla session.
    master = os.environ.get("SWEEP_MASTER", "local[8]")
    from citibike_analysis_spark.session import CODEGEN_CACHE_ENTRIES

    # the engine's generated-class cache size (session.py says why): a
    # static conf, so it goes on the builder, which rebuild_session reuses
    b = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master.startswith("local-cluster"):
        b = b.config(
            "spark.executor.memory",
            os.environ.get("SWEEP_EXECUTOR_MEMORY", "8g"),
        )
    spark = b.getOrCreate()
    # package shipment for multi-process masters happens inside tune()
    # (every queries() entry is wrapped with it — memoized, so it costs
    # one addPyFile per context)

    import __spark_entry__ as E
    from citibike_analysis_spark.cache import release_all
    from oracle import run_oracle, compare

    def run_one(spark, fn, name):
        df = fn(spark, sf_dir)
        if name in osql:
            cols, rows = run_oracle(osql[name], sf_dir)
            problems = compare(df, cols, rows)
            return "; ".join(problems) if problems else "hash_match"
        n = df.count()
        # 0 rows is a FAILURE for a rows-only query: the driver
        # gates on rows>0, and every registered rows-only query
        # is non-empty at sf0.01 by design — an empty result is
        # a degenerate-filter regression, not a pass (r04 review)
        return f"rows_only({n})" if n > 0 else f"EMPTY rows_only({n})"

    qs, osql = E.queries(), E.oracle_sql()
    failures = []
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            status = run_one(spark, fn, name)
        except Exception as exc:  # noqa: BLE001 - sweep must report, not die
            status = f"ERROR {type(exc).__name__}: {exc}"[:250]
            # a dead JVM (GC/alloc failure, OOM, stopped SparkContext)
            # must not cascade ConnectionRefused across every remaining
            # query (r08 finding: a GCLocker alloc failure in q57's task
            # at sf0.1 killed the context and 24 healthy queries FAILed
            # behind it): rebuild the session and retry this query ONCE
            # on a fresh JVM. A repeat failure is then a real failure.
            try:
                alive = spark.sparkContext._jsc is not None and not (
                    spark.sparkContext._jsc.sc().isStopped()
                )
            except Exception:  # noqa: BLE001 - py4j gone = dead
                alive = False
            if not alive:
                print(f"RESTART session after {name}: {status[:120]}", flush=True)
                spark = rebuild_session(b)
                try:
                    status = run_one(spark, fn, name)
                except Exception as exc2:  # noqa: BLE001
                    status = f"ERROR {type(exc2).__name__}: {exc2}"[:250]
        dt = time.time() - t0
        ok = status.startswith(("hash_match", "rows_only"))
        if not ok:
            failures.append(name)
        results[name] = status
        print(f"{'PASS' if ok else 'FAIL'} {name:45s} {dt:6.2f}s {status}", flush=True)
        # release the engine's tracked persists + session cache per
        # query: without this the sweep accumulated every query's
        # persisted frames across a 130-query JVM lifetime — the memory
        # pressure behind the q57 GCLocker death (r08)
        try:
            release_all()
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001 - cleanup must not fail a sweep
            pass

    print(json.dumps({"failures": failures, "total": len(results)}))
    # POSIX exit codes wrap mod 256 — 256 failures would read as success,
    # so the code is boolean; the JSON line carries the exact count.
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
