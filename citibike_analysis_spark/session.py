"""SparkSession factory with scale-oriented defaults.

The reference runs single-process pandas/PostgreSQL; our engine targets a
multi-executor cluster. Everything here is stock Spark configuration chosen
so the same code runs on ``local[N]`` for tests and on a 1000-executor
cluster unchanged:

- AQE on: runtime partition coalescing, dynamic broadcast, skew-join
  splitting (skew is real in the domain — Manhattan hoods dominate;
  cf. SURVEY.md §4).
- Arrow on: every Python boundary (``toPandas``, ``pandas_udf``,
  ``applyInPandas``) moves columnar batches, never rows.
- Shuffle partitions default to a small number locally; AQE coalesces
  further. On a real cluster this should be ~2-3x total cores — callers
  override via ``extra_conf``.
- Generated-class cache sized to the engine's working set
  (:data:`CODEGEN_CACHE_ENTRIES`). The engine re-runs the same plans
  (the 3-minute collection cron, the continuously maintained
  ``availability`` fact), and one pass over them touches more distinct
  whole-stage codegen classes than Spark's default 100-entry LRU holds,
  so every class was evicted before it came round again: each repeat
  pass recompiled ~80-120 classes in Janino and the JVM JIT-compiled
  them anew. ``spark.sql.codegen.cache.maxEntries`` is a STATIC conf —
  a running session refuses to change it — so it is set only in
  :func:`get_spark`, never by :func:`tune`. A session created
  elsewhere (a caller of ``__spark_entry__.py`` that builds its own
  session, a notebook) keeps Spark's 100 unless it is launched with the
  same conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Entries in Spark's generated-class cache
#: (``spark.sql.codegen.cache.maxEntries``, default 100). At 100, every
#: timed perfbench pass recompiled 89-112 classes on station_analytics
#: and 79-122 on corpus_dedup (4-core host); at 1024, 0-9. Each entry
#: is a loaded class in Metaspace, so the bound stays finite: after the
#: 146-query sf0.01 sweep, driver Metaspace read 213 MB at 1024 against
#: 207 MB at 100.
CODEGEN_CACHE_ENTRIES = 1024

#: Runtime (non-static) confs applied to sessions we create AND safe to
#: apply to sessions handed to us (e.g. the verify driver's).
RUNTIME_CONF: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects by default; read the raw int64 and convert exactly (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamps written without UTC adjustment (pandas-style naive)
    # become TIMESTAMP_NTZ — wall-clock semantics identical to DuckDB/pandas.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # epoch_to_local produces LTZ timestamps whose field extraction and
    # rendering depend on the SESSION timezone; get_spark always pinned
    # UTC but tune() (externally-owned sessions — the driver's) did not,
    # so a non-UTC host would double-shift every hourly weather key
    # (r04 review). Runtime-settable, so tune() can pin it too.
    "spark.sql.session.timeZone": "UTC",
}


def _package_archive() -> str | None:
    """Zip this package for executor shipment (idempotent, content-hashed).

    Module-level (pandas_)udfs and mapInPandas functions are cloudpickled
    BY REFERENCE — the executor's Python worker re-imports
    ``citibike_analysis_spark`` to unpickle them. Under ``local[N]``
    workers fork from the driver and inherit its ``sys.path``, which
    silently masks a missing deployment step; under any real cluster
    manager (``local-cluster`` included — separate executor JVMs
    spawning their own Python workers) the import fails with
    ``ModuleNotFoundError`` (found exactly so in the r07 two-executor
    rehearsal; pinned by tests/test_cluster_boundary.py). The standard
    Spark remedy is shipping the package via ``--py-files`` /
    ``addPyFile`` — this builds that archive. The name embeds a content
    hash so an edited tree never ships a stale cached zip, and the zip
    is rebuilt only when sources change.
    """
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    files = []
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for f in sorted(filenames):
            if f.endswith(".py"):
                files.append(os.path.join(dirpath, f))
    if not files:
        return None
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    path = os.path.join(
        tempfile.gettempdir(),
        f"citibike_analysis_spark-{h.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for f in sorted(files):
                z.write(f, os.path.relpath(f, root))
        os.replace(tmp, path)  # atomic: concurrent sessions race safely
    return path


_ARCHIVE_CACHE: str | None = None
_SHIPPED_CONTEXTS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Attach the package archive to a session (idempotent, best-effort).

    No-op in effect under ``local[N]`` (workers already see the driver's
    ``sys.path``); required for multi-process masters. Failure is
    non-fatal — a pure-JVM plan still runs without it. Memoized per
    process (sources don't change mid-run) and per SparkContext, so
    per-query callers (tune) pay nothing after the first call."""
    global _ARCHIVE_CACHE
    try:
        sc = spark.sparkContext
        # keyed on applicationId, NOT id(sc): CPython reuses object ids
        # after gc, so a fresh context could inherit a dead one's id and
        # silently skip shipment
        app = sc.applicationId
        if app in _SHIPPED_CONTEXTS:
            return
        if _ARCHIVE_CACHE is None or not os.path.exists(_ARCHIVE_CACHE):
            _ARCHIVE_CACHE = _package_archive()
        if _ARCHIVE_CACHE is not None:
            sc.addPyFile(_ARCHIVE_CACHE)
        _SHIPPED_CONTEXTS.add(app)
    except Exception as exc:
        # non-fatal by design (a pure-JVM plan runs without the
        # archive) but NOT silent (r08 ADVICE): on a multi-process
        # master a swallowed failure here resurfaces later as an
        # executor-side ModuleNotFoundError with no hint that shipment
        # was attempted — name the attempt and the cause up front
        import warnings

        warnings.warn(
            "ship_package: package archive shipment failed "
            f"(archive={_ARCHIVE_CACHE!r}): {type(exc).__name__}: {exc} "
            "— module-level UDFs may fail to unpickle on remote "
            "executors (harmless under local[N])",
            RuntimeWarning,
            stacklevel=2,
        )


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, best-effort).

    Used when the caller (test harness, verify driver) owns the session.
    Only runtime confs can be applied here: static confs are fixed when
    the owner built the session, so the generated-class cache keeps
    whatever size that session was launched with — Spark's 100 unless
    the owner passed ``spark.sql.codegen.cache.maxEntries`` (see
    :data:`CODEGEN_CACHE_ENTRIES`, set only by :func:`get_spark`).

    Also ships the package archive (memoized no-op after the first call):
    an externally-owned session pointed at a multi-process master needs
    it for module-level UDFs to unpickle on executors (r07 finding).
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — loader falls back (sources/tables.py)
    ship_package(spark)
    return spark


def get_spark(
    app_name: str = "citibike-analysis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's defaults.

    The default master is ``local[$SPARK_GRAFT_CPUS]``; unset, it is the
    number of CPUs this process may run on (its affinity mask, which a
    container or ``taskset`` narrows below the host's count)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
    )
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return tune(spark)
