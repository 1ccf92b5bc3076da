"""Readers for the synthetic star-schema testdata (TESTDATA.md).

Design rules (SURVEY.md §1.3): explicit, centralized schema knowledge; no
``inferSchema`` surprises; timestamp semantics pinned to wall-clock
(TIMESTAMP_NTZ) so results are independent of the session timezone and
bit-compatible with the DuckDB oracle.

The one real wrinkle: ``events.parquet``'s timestamp storage has varied
across testdata generations — parquet TIMESTAMP(NANOS,false) (which
Spark's vectorized reader rejects with [PARQUET_TYPE_ILLEGAL] unless
``spark.sql.legacy.parquet.nanosAsLong`` degrades it to int64) and plain
timestamp[us] (read natively as TIMESTAMP_NTZ). ``_read_events``
dispatches on the RESOLVED dtype and materializes the same two columns
either way: ``ts`` (TIMESTAMP_NTZ wall-clock) and ``ts_ns`` (exact int64
epoch-nanoseconds, integer arithmetic only — a double cannot represent
~1.7e18 exactly, so ``floor(ns/1e9)`` computed in doubles can
mis-bucket). DuckDB truncates ns → µs on read; ``ns div 1000``
truncates identically, so oracle parity holds under both conventions.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# Session-scoped schema catalog (r15, guide §6): ``spark.read.parquet``
# resolves the schema from parquet footers on EVERY call — a driver-side
# footer read + py4j round per load, ~0.08 s on this host, paid by every
# query builder and every bench rep. A catalog-backed table reads its
# schema from the metastore instead; this dict is that metastore role
# for the path-addressed testdata. METADATA only — the scan itself
# still reads the parquet data at every action (nothing about results
# or row data is cached). Entries are path → (applicationId, stamp,
# schema): the stamp (:func:`_mtime_stamp`) invalidates regenerated or
# overwritten data immediately, and the applicationId keeps a schema
# from leaking across sessions (resolution depends on session confs —
# nanosAsLong / inferTimestampNTZ); entries of other sessions are
# dropped on the next miss, so the dict never outgrows one session.
_SCHEMA_CACHE: dict[str, tuple] = {}


def _mtime_stamp(path: str) -> int:
    """Newest mtime (ns) of a parquet file, or of a dataset directory
    and everything under it: overwriting a part file in place does not
    bump its directory's mtime, so a directory's own mtime alone would
    serve a stale schema. A single file costs one ``stat``."""
    try:
        st = os.stat(path)
    except OSError:
        return -1
    if not stat.S_ISDIR(st.st_mode):
        return st.st_mtime_ns
    newest = st.st_mtime_ns
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                newest = max(newest, os.stat(os.path.join(root, name)).st_mtime_ns)
            except OSError:
                pass  # removed mid-walk: the directory's own mtime moved
    return newest


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    app = spark.sparkContext.applicationId
    stamp = _mtime_stamp(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[:2] == (app, stamp):
        return spark.read.schema(hit[2]).parquet(path)
    for p, (a, _, _) in list(_SCHEMA_CACHE.items()):
        if a != app:
            _SCHEMA_CACHE.pop(p, None)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[path] = (app, stamp, df.schema)
    return df


def ns_long_to_ntz(colname: str) -> F.Column:
    """Exact int64-nanoseconds → TIMESTAMP_NTZ (truncated to microseconds).

    Pure integer arithmetic: seconds and the microsecond remainder are
    split with integer ``div``/``%`` and re-assembled as day-time-interval
    offsets from the epoch, so every value is exact (no double rounding).
    """
    secs = F.expr(f"`{colname}` div 1000000000").cast("long")
    micros = (F.expr(f"`{colname}` div 1000") % F.lit(1000000)).cast("long")
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return (
        epoch
        + secs * F.expr("INTERVAL 1 SECOND")
        + micros * F.expr("INTERVAL 1 MICROSECOND")
    )


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """events.parquet with ``ts`` materialized as TIMESTAMP_NTZ + raw ns.

    Keeps ``ts_ns`` (int64 nanoseconds since epoch) alongside the converted
    ``ts``: bucket arithmetic (15-min rollups etc.) on the integer column
    is exact and shuffles 8 bytes instead of a timestamp.

    Dispatch is on the RESOLVED Spark dtype of ``ts``, not try/except:
    earlier testdata stored parquet TIMESTAMP(NANOS,false) (readable only
    as int64 via ``nanosAsLong``), current testdata stores timestamp[us]
    (read natively as TIMESTAMP_NTZ). The old try/except shape silently
    routed the native-NTZ case through a pyarrow DRIVER-side decode on
    every load — unbounded driver memory at real scale, and its
    ``astype("int64")`` produced µs mislabeled as ns when pandas kept a
    datetime64[us] dtype. Unknown dtypes now raise instead of limping.
    """
    try:
        spark.conf.set(_NANOS_CONF, "true")
    except Exception:
        pass
    raw = _read_parquet(spark, path)
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":
        # nanosAsLong applied: raw int64 ns; exact integer conversion
        ts_ns = F.col("ts")
        ts = ns_long_to_ntz("ts")
    elif ts_type == "timestamp_ntz":
        # native µs read; epoch-micros via NTZ-to-NTZ diff is exact and
        # independent of the session timezone
        ts = F.col("ts")
        ts_ns = (
            F.expr(
                "timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            )
            * F.lit(1000)
        ).cast("long")
    elif ts_type == "timestamp":
        # LTZ (isAdjustedToUTC parquet, or inferTimestampNTZ off):
        # unix_micros extracts the exact UTC epoch instant with NO session
        # timezone dependence, and the NTZ wall-clock is rebuilt from it —
        # a cast(LTZ as timestamp_ntz) would instead render the SESSION
        # zone's wall clock and silently shift every downstream bucket
        ts = F.expr(
            "timestampadd(MICROSECOND, unix_micros(ts), "
            "TIMESTAMP_NTZ'1970-01-01 00:00:00')"
        )
        ts_ns = (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
    else:
        raise TypeError(
            f"events.ts resolved as {ts_type}; expected bigint (nanosAsLong) "
            "or timestamp[_ntz] — refusing to guess the epoch unit"
        )
    return raw.select(
        "event_id",
        ts_ns.alias("ts_ns"),
        ts.alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table by name from an sf directory."""
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        return _read_events(spark, path)
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    except Exception:
        pass
    return _read_parquet(spark, path)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view for spark.sql() entry points."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
