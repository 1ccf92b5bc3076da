"""HTTP JSON weather source (SURVEY.md §2.1 S3, §2.10 U4).

The reference fetches one day of hourly weather per (lat, long, day) from
the Dark Sky API and normalizes ``hourly.data`` into a table
(``forecast(...)`` + ``pd.DataFrame(weather['hourly']['data'])``,
reference README.md:687-712), under a <1,000-calls/day quota with 3 s
sleeps and hand-rolled CSV checkpointing (README.md:714-746).

Spark-first shape:

- **fetch** runs partition-parallel inside ``mapInPandas`` — each task
  fetches its slice of the key list, so throughput scales with executors
  while the per-task ``sleep_seconds`` keeps the aggregate call rate
  under the provider quota. The HTTP transport is injected
  (``transport(lat, long, iso_day) -> json_str``); the default raises —
  this environment has no network — and tests inject a deterministic
  fake, so the real surface (batching, schema, quota guard, normalize)
  is fully exercised.
- **normalize** is pure column work: ``from_json`` with the declared
  response schema, ``explode(hourly.data)``, camelCase→snake_case
  renames (F15, README.md:698-704), epoch→local-time conversion with
  real tz rules (F8 — replacing the reference's fixed UTC-4 shift), and
  the ``weather_status='observed'`` literal (F16, README.md:711).
- **quota guard**: the key list is counted up front and refused if it
  exceeds ``max_calls`` — the reference instead discovered quota
  exhaustion mid-backfill and resumed by positional index
  (``iloc[-24]``, README.md:714-727); a refused-before-spend check plus
  idempotent re-runs replaces that.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from citibike_analysis_spark.functions.temporal import epoch_to_local

Transport = Callable[[float, float, str], str]

#: Dark-Sky-shaped response (the keys the reference consumes,
#: README.md:695-712).
RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("timezone", T.StringType()),
        T.StructField(
            "hourly",
            T.StructType(
                [
                    T.StructField("summary", T.StringType()),
                    T.StructField(
                        "data",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("time", T.LongType()),
                                    T.StructField("summary", T.StringType()),
                                    T.StructField("precipIntensity", T.DoubleType()),
                                    T.StructField("temperature", T.DoubleType()),
                                    T.StructField("humidity", T.DoubleType()),
                                    T.StructField("windSpeed", T.DoubleType()),
                                    T.StructField("windGust", T.DoubleType()),
                                    T.StructField("cloudCover", T.DoubleType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
    ]
)

#: F15 — the reference's camelCase→snake_case map (README.md:698-704).
RENAMES = {
    "summary": "weather_summary",
    "precipIntensity": "precip_intensity",
    "windSpeed": "wind_speed",
    "windGust": "wind_gust",
    "cloudCover": "cloud_cover",
}

RAW_SCHEMA = T.StructType(
    [
        T.StructField("zip", T.StringType()),
        T.StructField("time_day", T.TimestampNTZType()),
        T.StructField("payload", T.StringType()),
    ]
)


def default_transport(lat: float, long: float, iso_day: str) -> str:
    """Inject a real HTTP client here in production (requests/httpx GET of
    the forecast endpoint with the API key from the environment — S7)."""
    raise NotImplementedError(
        "no network in this environment; inject transport=... "
        "(a callable (lat, long, iso_day) -> response json string)"
    )


def fetch_raw(
    keys: DataFrame,
    transport: Transport = default_transport,
    max_calls: int = 1000,
    sleep_seconds: float = 0.0,
) -> DataFrame:
    """(zip, time_day, latitude, longitude) keys → (zip, time_day, payload).

    One transport call per key, executed partition-parallel. Refuses up
    front if the key count exceeds ``max_calls`` (the reference's daily
    quota ceiling, README.md:745,863) — fail before spending quota, not
    mid-run.

    Quota caveats (ADVICE r1): the guard bounds the key COUNT, not the
    transport invocations — Spark task retries and speculative execution
    re-run ``transport`` for whole partitions, so the effective ceiling
    is ``max_calls × (1 + retries)``. Disable ``spark.speculation`` on
    this path (it is off by default) and keep transports idempotent.
    The keys are checkpointed before counting so the fetched key set is
    exactly the counted one (no recompute drift between ``count()`` and
    ``mapInPandas``).
    """
    # normalize DATE-typed day keys (schemas.WEATHER_NA — the registry
    # schema for the reference's re-fetch key list — declares time_day
    # as DateType) to TIMESTAMP_NTZ before the Arrow boundary: a
    # datetime.date cannot convert to RAW_SCHEMA's TimestampNTZ output
    # column, so date keys crashed mapInPandas AFTER transport calls had
    # already spent quota (review finding). The cast is a no-op for
    # already-timestamp keys, so the transport's day argument format is
    # unchanged for existing callers.
    keys = keys.withColumn(
        "time_day", F.col("time_day").cast("timestamp_ntz")
    )
    from citibike_analysis_spark.cache import free_checkpoint, track

    keys = keys.localCheckpoint(eager=True)
    n = keys.count()
    if n > max_calls:
        free_checkpoint(keys)
        raise ValueError(
            f"{n} fetch keys exceed the {max_calls}-call quota; coarsen the "
            "key list first (the reference dedups (zip,hour)->(zip,day), "
            "README.md:493-545) or raise max_calls"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        for pdf in batches:
            payloads = []
            for lat, long, day in zip(
                pdf["latitude"], pdf["longitude"], pdf["time_day"]
            ):
                payloads.append(transport(float(lat), float(long), day.isoformat()))
                if sleep_seconds:
                    _time.sleep(sleep_seconds)
            yield pd.DataFrame(
                {
                    "zip": pdf["zip"],
                    "time_day": pdf["time_day"],
                    "payload": payloads,
                }
            )

    fetched = keys.mapInPandas(run, schema=RAW_SCHEMA)
    # Materialize the payloads NOW (eager checkpoint): the lazy frame
    # would re-invoke the transport on EVERY downstream action or plan
    # branch, so real quota spend would be calls × actions — exactly the
    # mid-backfill exhaustion the count guard exists to prevent (r04
    # review). One fetch pass per fetch_raw call; blocks are reused by
    # all downstream reads and released via cache.release_all/scope.
    # The payload checkpoint no longer reads the keys: free them.
    try:
        return track(fetched.localCheckpoint(eager=True))
    finally:
        free_checkpoint(keys)


def normalize(raw: DataFrame, tz: str = "America/New_York") -> DataFrame:
    """(zip, time_day, payload) → one row per (zip, hour): U4's
    table-returning normalization as explode + column expressions.

    A non-NULL payload that fails to parse — or parses but carries no
    ``hourly.data`` (an HTML error page, a rate-limit JSON body) — FAILS
    the job rather than silently dropping that (zip, day)'s 24 hours
    from the patch table (r04 review: ``explode`` of the NULL array
    removed the rows with no signal).
    """
    parsed = raw.select(
        "zip",
        "time_day",
        F.from_json("payload", RESPONSE_SCHEMA).alias("_r"),
        F.col("payload").alias("__raw"),
    )
    payload_ok = F.assert_true(
        F.col("__raw").isNull() | F.col("_r.hourly.data").isNotNull(),
        F.concat(
            F.lit("weather payload for zip="),
            F.col("zip"),
            F.lit(" is not a parseable hourly response — transport "
                  "returned an error body?"),
        ),
    )
    hourly = parsed.select(
        "zip",
        "time_day",
        F.explode(
            F.when(payload_ok.isNull(), F.col("_r.hourly.data"))
        ).alias("_h"),
    ).select("zip", "time_day", "_h.*")
    out = hourly.withColumnsRenamed(RENAMES)
    return (
        out.withColumn("time_hour", epoch_to_local(F.col("time"), tz))
        .withColumn("weather_status", F.lit("observed"))
        .drop("time")
    )


def weather_for_keys(
    keys: DataFrame,
    transport: Transport = default_transport,
    max_calls: int = 1000,
    tz: str = "America/New_York",
) -> DataFrame:
    """S3 end-to-end: fetch + normalize (the patch table the §3.2
    cleaning chain joins on)."""
    return normalize(fetch_raw(keys, transport, max_calls), tz)


def fake_transport(lat: float, long: float, iso_day: str) -> str:
    """Deterministic Dark-Sky-shaped response for tests: 24 hourly rows
    derived from the inputs (no randomness, stable across runs)."""
    import datetime as dt

    day = dt.datetime.fromisoformat(iso_day)
    base_epoch = int(day.replace(tzinfo=dt.timezone.utc).timestamp())
    seed = int(abs(lat * 1000) + abs(long * 1000)) % 97
    data = [
        {
            "time": base_epoch + h * 3600,
            "summary": "Clear" if (seed + h) % 3 else "Rain",
            "precipIntensity": round(((seed + h) % 3 == 0) * 0.1 * h, 4),
            "temperature": round(50.0 + seed % 10 + h, 2),
            "humidity": round(0.4 + (h % 5) * 0.1, 2),
            "windSpeed": round(3.0 + h * 0.25, 2),
            "windGust": round(5.0 + h * 0.3, 2),
            "cloudCover": round((h % 10) * 0.1, 2),
        }
        for h in range(24)
    ]
    return json.dumps(
        {
            "latitude": lat,
            "longitude": long,
            "timezone": "America/New_York",
            "hourly": {"summary": "synthetic", "data": data},
        }
    )
