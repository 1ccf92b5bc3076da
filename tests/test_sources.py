"""Source/sink layer tests (SURVEY.md §2.1 S1-S5, §5.2.6).

Covers: schema-declared CSV round-trip (zip leading zeros survive),
partitioned-parquet partition pruning, JSON sink overwrite semantics,
and the strict JSON reader rejecting the reference's concatenated-
document corruption (output/nearby_stations.json).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from citibike_analysis_spark.sources.files import (
    read_csv,
    read_json_strict,
    write_csv,
    write_json,
    write_parquet_partitioned,
)


@pytest.fixture()
def tmp():
    d = tempfile.mkdtemp(prefix="cbs_src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SCHEMA = T.StructType(
    [
        T.StructField("zip", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("v", T.IntegerType()),
    ]
)


def test_csv_roundtrip_preserves_zip_and_timestamps(spark, tmp):
    import datetime as dt

    rows = [
        ("07306", dt.datetime(2019, 5, 12, 8, 15), 3),
        ("10001", dt.datetime(2019, 7, 1, 23, 45), 7),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    write_csv(df, f"{tmp}/out")
    back = read_csv(spark, f"{tmp}/out", SCHEMA)
    got = sorted((r["zip"], r["ts"], r["v"]) for r in back.collect())
    assert got == sorted(rows)
    assert dict(back.dtypes)["zip"] == "string"  # no inference, ever


def test_partitioned_write_prunes(spark, tmp):
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 10).alias("day"),
        (F.col("id") * 2).alias("v"),
    )
    write_parquet_partitioned(df, f"{tmp}/part", ["day"])
    back = spark.read.parquet(f"{tmp}/part").filter(F.col("day") == 3)
    assert back.count() == 100
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (no day=3 data read elsewhere)
    assert "PartitionFilters" in plan
    assert "day#" in plan.split("PartitionFilters")[1][:200]


def test_partitioned_write_bounds_files_per_partition(spark, tmp):
    # r06 prune rehearsal: a bare partitionBy writes one sliver per
    # (upstream task x dir) — 32/day on local[32]; opt-in
    # files_per_partition=1 must collapse each dir to ONE file while
    # keeping the data and pruning intact
    import glob

    df = (
        spark.range(1000)
        .select(F.col("id"), (F.col("id") % 10).alias("day"))
        .repartition(8)  # many upstream tasks -> 8 files/day uncompacted
    )
    write_parquet_partitioned(df, f"{tmp}/compact", ["day"], files_per_partition=1)
    for d in range(10):
        assert len(glob.glob(f"{tmp}/compact/day={d}/*.parquet")) == 1
    assert spark.read.parquet(f"{tmp}/compact").count() == 1000
    # files_per_partition=3: at most 3 files per dir (hash buckets may
    # collide into fewer)
    write_parquet_partitioned(df, f"{tmp}/b3", ["day"], files_per_partition=3)
    for d in range(10):
        assert 1 <= len(glob.glob(f"{tmp}/b3/day={d}/*.parquet")) <= 3
    # default (None): passthrough, no compaction shuffle — upstream
    # parallelism preserved (r07 ADVICE: a =1 default would cap write
    # parallelism at #dirs); caller owns the layout
    write_parquet_partitioned(df, f"{tmp}/raw", ["day"])
    assert spark.read.parquet(f"{tmp}/raw").count() == 1000
    n_raw = sum(
        len(glob.glob(f"{tmp}/raw/day={d}/*.parquet")) for d in range(10)
    )
    assert n_raw > 10  # proves the default did NOT funnel through 1 task/dir


def test_json_sink_overwrite_not_append(spark, tmp):
    df1 = spark.createDataFrame([(1, "a")], ["station_id", "x"])
    df2 = spark.createDataFrame([(2, "b")], ["station_id", "x"])
    write_json(df1, f"{tmp}/j")
    write_json(df2, f"{tmp}/j")  # second write REPLACES (no concat corruption)
    back = spark.read.json(f"{tmp}/j")
    assert [r["station_id"] for r in back.collect()] == [2]


def test_strict_reader_rejects_concatenated_documents(spark, tmp):
    # reproduce the reference's corruption shape: two JSON documents
    # appended into one file (notebooks/CitiBike-1.ipynb:243)
    with open(f"{tmp}/bad.json", "w") as f:
        f.write('{"a": {"b": 1}}\n{"a": {"b": 2}}{"a": {"b": 3}}\n')
    schema = T.StructType(
        [T.StructField("a", T.StructType([T.StructField("b", T.LongType())]))]
    )
    with pytest.raises(Exception):
        read_json_strict(spark, f"{tmp}/bad.json", schema).collect()
    # a well-formed file parses fine through the same strict path
    with open(f"{tmp}/good.json", "w") as f:
        f.write('{"a": {"b": 1}}\n{"a": {"b": 2}}\n')
    assert read_json_strict(spark, f"{tmp}/good.json", schema).count() == 2


def test_orc_roundtrip_and_pushdown(spark, tmp):
    import datetime as dt

    from citibike_analysis_spark.sources.files import read_orc, write_orc_partitioned

    rows = [
        ("07306", dt.datetime(2019, 5, 12, 8, 15), 3),
        ("10001", dt.datetime(2019, 7, 1, 23, 45), 7),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    write_orc_partitioned(df, f"{tmp}/orc")
    back = read_orc(spark, f"{tmp}/orc", SCHEMA)
    got = sorted((r["zip"], r["ts"], r["v"]) for r in back.collect())
    assert got == sorted(rows)
    assert dict(back.dtypes)["zip"] == "string"  # declared, never inferred
    # predicate pushdown reaches the ORC scan like parquet
    plan = (
        back.filter(F.col("v") > 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and "v" in plan.split("PushedFilters: [")[1][:60]


def test_orc_partitioned_prunes(spark, tmp):
    from citibike_analysis_spark.sources.files import write_orc_partitioned

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 10).alias("day"),
        (F.col("id") * 2).alias("v"),
    )
    write_orc_partitioned(df, f"{tmp}/orcpart", ["day"])
    back = spark.read.orc(f"{tmp}/orcpart").filter(F.col("day") == 3)
    assert back.count() == 100
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "day#" in plan.split("PartitionFilters")[1][:200]


def test_binary_file_ingestion_to_media(spark, tmp):
    import os

    from citibike_analysis_spark.operators.multimodal import (
        extract_features,
        fake_decode_image,
    )
    from citibike_analysis_spark.sources.media import read_binary_files, to_media

    os.makedirs(f"{tmp}/media", exist_ok=True)
    payload_a = bytes(range(64))
    with open(f"{tmp}/media/a.jpg", "wb") as f:
        f.write(payload_a)
    with open(f"{tmp}/media/b.wav", "wb") as f:
        f.write(b"\x01\x02" * 100)
    with open(f"{tmp}/media/dup_of_a.jpg", "wb") as f:
        f.write(payload_a)  # byte-identical → same content_id
    with open(f"{tmp}/media/huge.mp4", "wb") as f:
        f.write(b"\x00" * 5000)
    with open(f"{tmp}/media/skip.txt", "w") as f:
        f.write("not media")

    files = read_binary_files(
        spark, f"{tmp}/media", glob="*.{jpg,wav,mp4}", max_bytes=1024
    )
    media = to_media(files)
    rows = media.collect()
    # huge.mp4 gated by max_bytes, skip.txt by glob
    assert sorted(r["media_type"] for r in rows) == ["audio", "image", "image"]
    ids = [r["content_id"] for r in rows if r["media_type"] == "image"]
    assert ids[0] == ids[1]  # content-addressed: duplicates collide
    assert all(r["meta"] is None for r in rows)  # decode fills meta later

    # the ingested frame feeds the existing mapInPandas feature stage
    feats = extract_features(
        media.select("content_id", "media_type", "payload", "meta"),
        decode=fake_decode_image,
    )
    out = feats.collect()
    assert len(out) == 3 and all(len(r["feature"]) > 0 for r in out)

    # metadata pushdown: the length gate must reach the binaryFile scan
    plan = files._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "length" in plan.split("PushedFilters")[1][:120]


def test_sharded_writer_bounds_and_manifest(spark, tmp):
    from citibike_analysis_spark.sources.files import write_sharded

    df = spark.range(1000).repartition(2)
    manifest = write_sharded(df, f"{tmp}/shards", max_records_per_file=150)
    rows = manifest.collect()
    # every shard respects the bound; totals conserve
    assert all(r["n_rows"] <= 150 for r in rows)
    assert sum(r["n_rows"] for r in rows) == 1000
    assert len(rows) >= 1000 // 150
    # manifest persisted for loaders that can't list the filesystem
    persisted = spark.read.json(f"{tmp}/shards_manifest")
    assert persisted.count() == len(rows)
    # round-trip intact
    assert spark.read.parquet(f"{tmp}/shards").count() == 1000


def test_events_reader_native_dispatch(spark, tmp):
    """events loads through the JVM scan (no driver-side pyarrow decode)
    for both storage conventions, with ts_ns exact epoch units.

    Regression: the old try/except reader routed timestamp[us] parquet —
    the current testdata layout — through a pyarrow DRIVER decode on
    every load, and its pandas astype("int64") emitted µs mislabeled as
    ns when pandas preserved a datetime64[us] dtype.
    """
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from citibike_analysis_spark.sources.tables import load_table

    base = datetime.datetime(2024, 3, 1, 12, 0, 0, 250_000)
    rows = {
        "event_id": pa.array([0, 1], pa.int64()),
        "ts": pa.array(
            [base, base + datetime.timedelta(seconds=90)],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([10, 11], pa.int64()),
        "event_type": pa.array(["a", "b"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    pq.write_table(pa.table(rows), os.path.join(tmp, "events.parquet"))

    df = load_table(spark, tmp, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert dict(df.dtypes)["ts_ns"] == "bigint"
    # the plan must be a parquet scan, not a parallelized local collection
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan, plan
    got = {r.event_id: r for r in df.collect()}
    # wall-clock preserved; ts_ns is exact integer nanoseconds since epoch
    assert got[0].ts == base
    expected_ns = int(base.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000) * 1_000_000
    assert got[0].ts_ns == expected_ns
    assert got[1].ts_ns - got[0].ts_ns == 90 * 1_000_000_000

    # int64-nanos convention (legacy TIMESTAMP(NANOS) via nanosAsLong):
    # same contract when ts resolves as bigint
    ns_dir = os.path.join(tmp, "ns")
    os.makedirs(ns_dir)
    ns_rows = dict(rows)
    ns_rows["ts"] = pa.array([expected_ns, expected_ns + 90 * 10**9], pa.int64())
    pq.write_table(pa.table(ns_rows), os.path.join(ns_dir, "events.parquet"))
    df2 = load_table(spark, ns_dir, "events")
    got2 = {r.event_id: r for r in df2.collect()}
    assert got2[0].ts == base and got2[0].ts_ns == expected_ns
    assert dict(df2.dtypes)["ts"] == "timestamp_ntz"


def test_schema_cache_sees_in_place_part_overwrite(spark, tmp):
    """A parquet DIRECTORY whose part file is rewritten in place keeps
    its directory mtime, so the schema cache must key on the newest
    file under it; the rewriting miss also drops entries left by other
    sessions, so the cache never outgrows one session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from citibike_analysis_spark.sources import tables
    from citibike_analysis_spark.sources.tables import load_table

    d = os.path.join(tmp, "t.parquet")
    os.makedirs(d)
    part = os.path.join(d, "part-00000.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert load_table(spark, tmp, "t").columns == ["a"]
    dir_mtime = os.stat(d).st_mtime_ns
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), part)
    assert os.stat(d).st_mtime_ns == dir_mtime  # the directory did not move
    tables._SCHEMA_CACHE["/elsewhere.parquet"] = ("app-gone", 0, None)
    df = load_table(spark, tmp, "t")
    assert df.columns == ["a", "b"]
    assert df.collect()[0]["b"] == "x"
    assert "/elsewhere.parquet" not in tables._SCHEMA_CACHE
