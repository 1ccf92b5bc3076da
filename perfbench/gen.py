"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
writes parquet or JSON-lines files into a directory the caller owns; the
engine only ever sees those files.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = dt.datetime(2019, 5, 12)
WEATHER_VALUE_COLS = (
    "precip_intensity",
    "temperature",
    "humidity",
    "wind_speed",
    "wind_gust",
    "cloud_cover",
)
_BOROUGHS = ("Manhattan", "Brooklyn", "Queens", "New Jersey")


def _write(table: pa.Table, path: str, row_groups: int) -> None:
    # several row groups so a scan splits over every slot
    pq.write_table(table, path, row_group_size=max(1024, -(-len(table) // row_groups)))


def stations(seed: int, n: int = 858, n_zips: int = 60) -> dict[str, np.ndarray]:
    """Station dimension: ids, names, zip (NJ zips keep a leading zero),
    hood, borough and coordinates clustered around their zip centre."""
    rng = np.random.default_rng(seed)
    zips = np.array(
        [f"0{7300 + i}" if i % 4 == 3 else f"{10001 + 3 * i}" for i in range(n_zips)]
    )
    zip_lat = rng.uniform(40.64, 40.82, n_zips)
    zip_lon = rng.uniform(-74.06, -73.90, n_zips)
    zi = rng.integers(0, n_zips, n)
    ids = 72 + np.arange(n) * 3
    return {
        "station_id": ids.astype(np.int32),
        "station_name": np.array([f"Station {i}" for i in ids]),
        "station_status": np.where(rng.random(n) < 0.95, "In Service", "Not In Service"),
        "zip": zips[zi],
        "hood": np.array([f"Hood {z % 40}" for z in zi]),
        "borough": np.array([_BOROUGHS[z % 4] for z in zi]),
        "latitude": np.round(zip_lat[zi] + rng.normal(0, 0.004, n), 6),
        "longitude": np.round(zip_lon[zi] + rng.normal(0, 0.004, n), 6),
        "capacity": rng.integers(15, 60, n).astype(np.int32),
    }


def _samples(rng, st: dict, n_samples: int, step_s: int) -> dict[str, np.ndarray]:
    """3-minute samples per station: bikes follow a bounded random walk."""
    n = len(st["station_id"])
    cap = st["capacity"].astype(np.int64)
    walk = rng.integers(-3, 4, size=(n_samples, n)).cumsum(axis=0)
    start = rng.integers(0, cap + 1)
    bikes = np.abs((start + walk) % (2 * cap)[None, :] - cap[None, :])  # reflect into [0, cap]
    bikes = cap[None, :] - bikes
    ts = np.datetime64(START) + np.arange(n_samples) * np.timedelta64(step_s, "s")
    return {
        "station_id": np.tile(st["station_id"], n_samples),
        "available_bikes": bikes.ravel().astype(np.int32),
        "available_docks": (cap[None, :] - bikes).ravel().astype(np.int32),
        "last_communication_time": np.repeat(ts, n),
    }


def station_dataset(out_dir: str, seed: int, days: int, n_stations: int = 858) -> dict:
    """The Citi Bike pipeline inputs, mutually consistent:

    - ``samples``: 3-minute feed samples (station, bikes, docks, time);
    - ``availability``: the 15-minute fact, the min of each interval's
      samples, with blocky missing or predicted weather per (zip, day);
    - ``weather_fix``: the hourly patch rows for every (zip, hour) that
      needs repair, so a correct clean leaves no NULL or predicted row.
    """
    rng = np.random.default_rng(seed)
    st = stations(seed, n_stations)
    n = len(st["station_id"])
    per_interval = 5
    n_intervals = days * 96
    smp = _samples(rng, st, n_intervals * per_interval, 180)
    pq.write_table(pa.table(smp), os.path.join(out_dir, "samples.parquet"))
    shaped = lambda k: smp[k].reshape(n_intervals, per_interval, n)  # noqa: E731
    bikes = shaped("available_bikes").min(axis=1).ravel()
    docks = shaped("available_docks").min(axis=1).ravel()
    intervals = np.datetime64(START) + np.arange(n_intervals) * np.timedelta64(15, "m")
    time_interval = np.repeat(intervals, n)
    sidx = np.tile(np.arange(n), n_intervals)

    zips = np.unique(st["zip"])
    zip_code = np.searchsorted(zips, st["zip"])[sidx]
    day = np.repeat(np.arange(n_intervals) // 96, n)
    # blocky weather status per (zip, day): observed / predicted / missing
    block = rng.random((len(zips), days))
    status_block = np.where(block < 0.6, "observed", np.where(block < 0.72, "predicted", None))
    status = status_block[zip_code, day]
    has = status != None  # noqa: E711 - elementwise on an object array
    cols = {k: st[k][sidx] for k in (
        "station_id", "station_name", "station_status", "latitude", "longitude",
        "zip", "borough", "hood")}
    fact = {
        "time_interval": time_interval,
        **cols,
        "available_bikes": bikes.astype(np.int32),
        "available_docks": docks.astype(np.int32),
        "weather_summary": pa.array(np.where(has, "Clear", None), pa.string()),
    }
    for c, (lo, hi) in zip(WEATHER_VALUE_COLS, ((0, 0.65), (44, 95), (0, 1), (0, 20), (0, 30), (0, 1))):
        v = np.round(rng.uniform(lo, hi, len(sidx)), 3)
        fact[c] = pa.array(v, pa.float64(), mask=~has)
    fact["weather_status"] = pa.array(status, pa.string())
    order = ["time_interval", "station_id", "station_name", "station_status", "latitude",
             "longitude", "zip", "borough", "hood", "available_bikes", "available_docks",
             "weather_summary", *WEATHER_VALUE_COLS, "weather_status"]
    fact_tbl = pa.table({k: fact[k] for k in order})
    _write(fact_tbl, os.path.join(out_dir, "availability.parquet"), 16)

    # patch rows: every (zip, hour) whose day is predicted or missing
    zi, di = np.nonzero(status_block != "observed")
    hours = np.arange(24)
    n_fix = len(zi) * 24
    fix_hour = (
        np.datetime64(START)
        + np.repeat(di, 24) * np.timedelta64(1, "D")
        + np.tile(hours, len(zi)) * np.timedelta64(1, "h")
    )
    fix = {
        "time_hour": fix_hour,
        "precip_intensity": np.round(rng.uniform(0, 0.65, n_fix), 3),
        "temperature": np.round(rng.uniform(44, 95, n_fix), 2),
        "humidity": np.round(rng.uniform(0, 1, n_fix), 3),
        "wind_speed": np.round(rng.uniform(0, 20, n_fix), 2),
        "wind_gust": np.round(rng.uniform(0, 30, n_fix), 2),
        "weather_summary": np.full(n_fix, "Overcast"),
        "cloud_cover": np.round(rng.uniform(0, 1, n_fix), 3),
        "zip": np.repeat(zips[zi], 24),
        "weather_status": np.full(n_fix, "observed"),
    }
    pq.write_table(pa.table(fix), os.path.join(out_dir, "weather_fix.parquet"))
    return {
        "rows": len(sidx) + len(smp["station_id"]) + n_fix,
        "availability": len(sidx),
        "samples": len(smp["station_id"]),
        "weather_fix": n_fix,
    }


def corpus_dataset(out_dir: str, seed: int, docs: int, vecs: int) -> dict:
    """The near-duplicate corpus of the repository's scale rehearsal:
    Zipf vocabulary, 5% near-duplicate documents, 2% near-duplicate
    vectors in fixed-size clusters."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    import scale_rehearsal as sr

    d = sr.gen_documents(docs, seed=seed)
    e = sr.gen_embeddings(vecs, seed=seed)
    _write(d, os.path.join(out_dir, "documents.parquet"), 16)
    _write(e, os.path.join(out_dir, "embeddings.parquet"), 16)
    return {"rows": docs + vecs, "documents": docs, "embeddings": vecs}
