"""Streaming maintenance of a persisted ANN index — the composition of
the engine's two flagship tiers (r14, r13 verdict #1): Structured
Streaming micro-batches append into a persisted
:func:`~citibike_analysis_spark.operators.similarity.build_ivf_index`
table (optionally refreshing its
:func:`~citibike_analysis_spark.operators.pq.attach_pq_codes` sibling)
via ``foreachBatch``, so the index a probe service reads is maintained
continuously by the same lifecycle functions the batch tier audits.
:func:`start_lsh_index_maintenance` is the counterpart for the
:func:`~citibike_analysis_spark.operators.similarity.build_lsh_index`
family (where the append's recovery mode already IS the idempotence
story — see its docstring).

This IS the reference's production shape: its collection tier is a
cron-driven continuous appender (reference README.md:187,197 — `*/3 * *
* *` feed ingestion, "analyses run on an on-going basis"), and a 100 TB
similarity corpus is ingested exactly this way — a firehose of
embeddings landing in an index that must stay probe-consistent through
crashes and replays, never a nightly rebuild.

Exactly-once contract: ``foreachBatch`` is AT-LEAST-ONCE — after a
crash between a batch's side effects and its checkpoint commit, the
SAME epoch is re-delivered on restart. A blind re-append would land
duplicate ids (probe-visible: each copy eats a top-k slot until a
compaction dedupes). The sink therefore anti-joins the batch's ids
against the lists table before appending — already-committed rows drop
out, so a replayed epoch appends nothing and the composition is
exactly-once BY CONSTRUCTION, not by marker bookkeeping. Cost: one
id-column-pruned scan of the lists table per micro-batch (the id
column of a bucketed parquet table — no vector bytes move); at a
3-minute cadence against a 100 TB index, route the anti-join through a
compacted id sidecar if the listing cost ever dominates, but the
correctness contract needs nothing beyond the anti-join.

Maintenance interlocks inherited from the batch lifecycle, unchanged:
an id tombstoned by ``remove_from_ivf_index`` arriving on the stream
FAILS the micro-batch loudly (append's tombstone interlock — Spark
retries the batch; run ``compact_ivf_index`` to purge, then restart),
and the count-cache properties follow the r14 crash ordering (UNSET
before the data append, re-SET after), so a crash mid-batch leaves the
count caches absent — readers fall back to real counts and the
replayed epoch's anti-join restores exactness.

SINGLE-WRITER contract (compaction cadence under streaming): streamed
appends accumulate one file set per micro-batch per bucket, so a
long-running stream needs periodic ``compact_ivf_index`` /
``compact_lsh_index`` exactly like a batch appender — but compaction
REWRITES and RENAME-SWAPS the tables it compacts, and an append
racing that swap could land rows in the renamed-aside table or fail
mid-epoch with the catalog in its half-swapped state. Two safe
cadences:

- **in-stream** (``compact_every=N``): the sink compacts inside its
  own ``foreachBatch`` body after every N-th epoch (an aligned slot
  compacts even on an empty delivery, so a zero-row file can never
  delay maintenance a full cycle). This is
  race-free BY CONSTRUCTION — the sink is the single writer, and
  within ``foreachBatch`` no other epoch of the same query can be
  in flight. Crash-safe under replay: the cadence predicate is a pure
  function of ``epoch_id`` (re-delivered unchanged on restart), so a
  crash anywhere around the compaction re-runs it on the replayed
  epoch — compaction is idempotent (re-absorbs the same tombstones,
  re-dedupes nothing new) and its half-swap self-heal covers a crash
  between its own renames.
- **out-of-band**: stop → compact → restart from the same checkpoint
  (the offset log makes the pause exact — no batch lost or doubled,
  pinned by the kill-resume tests). For removals, which are ALSO
  writes (tombstone appends), this remains the only safe window —
  never run ``remove_from_*`` concurrently with a live stream.

Probes stay up throughout either cadence: they read whichever
committed table state the catalog serves.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citibike_analysis_spark.cache import free_checkpoint


def start_index_maintenance(
    batches: DataFrame,
    table: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_buckets: int = 16,
    refresh_codes: bool = True,
    compact_every: int | None = None,
    on_batch: Callable[[dict], None] | None = None,
    query_name: str | None = None,
):
    """Start a ``foreachBatch`` query appending ``batches`` (a streaming
    DataFrame with ``id_col``/``vec_col``) into the persisted IVF index
    at ``table``. Per micro-batch:

    1. anti-join the batch's ids against the lists table (exactly-once
       under epoch replay — see the module docstring),
    2. :func:`~citibike_analysis_spark.operators.similarity.append_to_ivf_index`
       the novel rows (stamp-verified assignment under the stored
       centroids; the THREE-axis drift statistics ride the append's own
       write job),
    3. when a PQ codes sibling exists and ``refresh_codes`` is true,
       :func:`~citibike_analysis_spark.operators.pq.refresh_pq_codes`
       (batch-cost: encodes only the just-appended ids), so the IVF-PQ
       probe screen stays green without any probe-side work,
    4. when ``compact_every=N``, run
       :func:`~citibike_analysis_spark.operators.similarity.compact_ivf_index`
       after every N-th epoch (in-stream single-writer
       cadence — module docstring; the compaction's stats land in the
       seam dict under ``"compaction"``), resetting per-batch file
       accumulation and absorbing any tombstones queued out-of-band,
    5. invoke ``on_batch`` with the append's stats dict plus
       ``epoch_id``/``n_batch_rows``/``n_novel``/``n_codes_refreshed``
       — the drift-monitoring seam: a caller watches ``drift``/
       ``ed_drift``/``share_tv`` per batch and schedules a rebuild on
       its calibrated threshold (q138's measured separations).

    Probe visibility: ``foreachBatch`` executes in a CLONED
    SparkSession (Structured Streaming's conf-isolation contract), so
    the appends invalidate the CLONE's catalog cache, not every other
    session's. A probe session that has previously read the index
    tables must ``spark.catalog.refreshTable(table)`` (and
    ``<table>__codes``) to observe streamed appends — the standard
    Spark cross-session relation-cache rule; a fresh session (the
    usual separate probe service) has nothing cached and sees appends
    immediately. No query restart is ever needed, and the stamp screen
    guarantees appended rows were assigned under the same centroids
    the probe routes by.

    Returns the started ``StreamingQuery``. q142 pins replay parity
    (streamed appends ≡ one-shot build over the same rows) and
    ``tests/test_streaming_recovery.py`` pins kill-resume and
    torn-commit replay convergence.
    """
    from citibike_analysis_spark.operators.similarity import (
        append_to_ivf_index,
    )

    if compact_every is not None and compact_every < 1:
        raise ValueError(f"compact_every must be >= 1, got {compact_every}")

    def _compaction_due(epoch_id: int) -> bool:
        return compact_every is not None and (int(epoch_id) + 1) % compact_every == 0

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            # an empty delivery on an aligned cadence slot still
            # compacts (review: skipping would delay maintenance a full
            # cycle whenever an upstream writer lands a zero-row file
            # on the aligned epoch)
            if _compaction_due(epoch_id):
                from citibike_analysis_spark.operators import similarity as _sim

                stats = {
                    "epoch_id": int(epoch_id),
                    "n_batch_rows": 0,
                    "n_novel": 0,
                    "n_codes_refreshed": 0,
                    "compaction": _sim.compact_ivf_index(
                        batch.sparkSession, table
                    ),
                }
                if on_batch is not None:
                    on_batch(stats)
            return
        spark = batch.sparkSession
        ids = spark.table(table).select(
            F.col("neighbor_id").alias(id_col)
        )
        novel = (
            batch.select(id_col, vec_col)
            .join(ids, id_col, "left_anti")
            .localCheckpoint(eager=True)
        )
        stats: dict = {
            "epoch_id": int(epoch_id),
            # counted only when someone is listening (an extra job over
            # the micro-batch source — the default call shape skips it)
            "n_batch_rows": batch.count() if on_batch is not None else None,
            "n_novel": 0,
            "n_codes_refreshed": 0,
        }
        try:
            if not novel.isEmpty():
                appended = append_to_ivf_index(
                    novel,
                    table,
                    id_col=id_col,
                    vec_col=vec_col,
                    num_buckets=num_buckets,
                )
                stats.update(appended)
                stats["n_novel"] = (
                    int(appended["n_appended"])
                    if appended["n_appended"] is not None
                    else 0
                )
        finally:
            # the append has landed (or failed): the blocks are garbage
            free_checkpoint(novel)
        # the refresh runs even on the fully-replayed (n_novel == 0)
        # path: a crash BETWEEN the previous delivery's append and its
        # refresh leaves the codes sibling lagging, and the replayed
        # epoch is exactly the retry that must heal it — refresh is
        # idempotent and costs one anti-join when nothing is missing
        if refresh_codes and spark.catalog.tableExists(f"{table}__codes"):
            from citibike_analysis_spark.operators.pq import refresh_pq_codes

            stats["n_codes_refreshed"] = refresh_pq_codes(spark, table)
        # cadence on epoch_id, not a local counter: the epoch id is
        # re-delivered unchanged on crash replay, so a compaction torn
        # by a crash is simply re-run by the replayed epoch (idempotent)
        # instead of silently skipped
        if _compaction_due(epoch_id):
            from citibike_analysis_spark.operators import similarity as _sim

            stats["compaction"] = _sim.compact_ivf_index(spark, table)
        if on_batch is not None:
            on_batch(stats)

    writer = (
        batches.writeStream.outputMode("append")
        .foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name is not None:
        writer = writer.queryName(query_name)
    return writer.start()


def start_lsh_index_maintenance(
    batches: DataFrame,
    table: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    num_buckets: int = 16,
    compact_every: int | None = None,
    on_batch: Callable[[dict], None] | None = None,
    query_name: str | None = None,
):
    """The :func:`start_index_maintenance` counterpart for the
    engine's OTHER persisted ANN family: micro-batches append into a
    :func:`~citibike_analysis_spark.operators.similarity.build_lsh_index`
    table via ``foreachBatch``.

    Exactly-once needs NO extra machinery here: every batch runs
    :func:`~citibike_analysis_spark.operators.similarity.append_to_lsh_index`
    in its ``assume_novel=False`` RECOVERY mode, whose finest-grain
    anti-joins (ids against ``__vecs``, (id, tbl) pairs against the
    bucket table) make the append idempotent AND tear-converging by
    design — a replayed epoch appends nothing, and a replay after a
    crash BETWEEN the family's two writes (vecs landed, bucket rows
    not) lands exactly the missing bucket rows, converging the torn
    state the append's crash-ordering contract documents. That is the
    recovery mode's intended caller: under at-least-once foreachBatch,
    every delivery is potentially a recovery. (The streaming sink
    deliberately does not use the ``assume_novel=True`` happy path —
    its no-anti-join economics belong to ingest pipelines that
    guarantee novelty upstream; a replayed epoch violates exactly that
    guarantee.)

    ``on_batch`` receives ``{"epoch_id", "n_batch_rows"}`` per
    non-empty batch (the LSH append returns no drift statistics —
    planes are data-independent, so there is no baseline to drift
    from; corpus-shift monitoring is the IVF family's seam).
    ``compact_every=N`` runs
    :func:`~citibike_analysis_spark.operators.similarity.compact_lsh_index`
    after every N-th epoch under the same in-stream
    single-writer cadence (and replay-idempotence argument) as the IVF
    sink; its stats ride the seam dict under ``"compaction"``.

    The LSH family makes streamed-equals-rebuilt EXACT and
    parameter-only: planes derive from (bits, tables, dim, seed), so a
    maintained index equals ``build_lsh_index`` over the full corpus
    bit-for-bit — pinned by the kill-mid-stream test in
    ``tests/test_streaming_recovery.py``. Probe visibility across
    sessions: same ``refreshTable`` rule as the IVF sink (module
    docstring)."""
    from citibike_analysis_spark.operators.similarity import (
        append_to_lsh_index,
    )

    if compact_every is not None and compact_every < 1:
        raise ValueError(f"compact_every must be >= 1, got {compact_every}")

    def _compaction_due(epoch_id: int) -> bool:
        return compact_every is not None and (int(epoch_id) + 1) % compact_every == 0

    def _maybe_compact(batch: DataFrame, epoch_id: int, stats: dict) -> None:
        if _compaction_due(epoch_id):
            from citibike_analysis_spark.operators import similarity as _sim

            stats["compaction"] = _sim.compact_lsh_index(
                batch.sparkSession, table
            )

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            # aligned cadence slots still compact on empty deliveries
            # (same rule as the IVF sink — see its _apply)
            if _compaction_due(epoch_id):
                stats: dict = {"epoch_id": int(epoch_id), "n_batch_rows": 0}
                _maybe_compact(batch, epoch_id, stats)
                if on_batch is not None:
                    on_batch(stats)
            return
        b = batch.select(id_col, vec_col).localCheckpoint(eager=True)
        try:
            append_to_lsh_index(
                b,
                table,
                id_col=id_col,
                vec_col=vec_col,
                bits=bits,
                tables=tables,
                dim=dim,
                seed=seed,
                num_buckets=num_buckets,
                assume_novel=False,
            )
        finally:
            free_checkpoint(b)
        stats: dict = {"epoch_id": int(epoch_id)}
        if on_batch is not None:
            # counted only when someone is listening: the count is a
            # full extra job over the micro-batch source (review — the
            # default call shape must not pay it per epoch)
            stats["n_batch_rows"] = batch.count()
        _maybe_compact(batch, epoch_id, stats)
        if on_batch is not None:
            on_batch(stats)

    writer = (
        batches.writeStream.outputMode("append")
        .foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name is not None:
        writer = writer.queryName(query_name)
    return writer.start()


def start_span_admission(
    batches: DataFrame,
    table: str,
    sink: Callable[[DataFrame, int], None],
    max_coverage: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    on_batch: Callable[[dict], None] | None = None,
    query_name: str | None = None,
):
    """Span-coverage admission over a PERSISTED gram index — the span
    tier's streaming composition (the q142 shape for text): each
    micro-batch is scored with
    :func:`~citibike_analysis_spark.operators.dedup.gram_index_coverage`
    (fraction of its k-grams already in the index), documents at or
    under ``max_coverage`` are handed to ``sink(admitted_df,
    epoch_id)``, and then ALL of the batch's grams are appended via
    :func:`~citibike_analysis_spark.operators.dedup.append_to_gram_index`
    — the index is the SEEN set, not the admitted set, so a rejected
    near-copy still contributes its grams and a later third copy reads
    even higher coverage (the cross-batch dedup semantics of the
    doc-level admission tier, at span granularity).

    Replay correctness (at-least-once foreachBatch):

    - the gram append is an anti-join — a replayed epoch appends
      nothing (exactly-once without markers, the family contract);
    - the ADMISSION DECISION cannot flip on replay: a crashed epoch may
      have landed the batch's own grams before the offset commit, but
      coverage is scored with the batch's ids as the
      ``exclude_contributors`` set, so every gram the batch itself
      contributed — including grams SHARED between two batch documents,
      which land under the OTHER document's id — scores exactly as on
      first delivery and the replayed epoch re-delivers the identical
      admitted set (the crash test pins this with a planted
      intra-batch-shared case surfaced by the first test run);
    - ``sink`` receives the same admitted rows again on replay — the
      usual foreachBatch idempotence contract applies.

    Within one batch, documents do not see each other's grams (the
    append runs after scoring) — intra-batch duplicates are the
    downstream exact-dedup tier's job, exactly as in the doc-level
    admission filter. ``on_batch`` receives ``{"epoch_id",
    "n_batch_rows", "n_admitted", "n_grams_appended"}``.

    Single-writer contract: the sink owns the index while the stream
    runs — schedule ``build_gram_index`` rebuilds or out-of-band
    appends only with the stream stopped (the module docstring's
    cadence rules; gram indexes have no tombstones or compaction, so
    the in-stream knob has nothing to do here).
    """
    from citibike_analysis_spark.operators.dedup import (
        append_to_gram_index,
        gram_index_coverage,
    )

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        b = batch.localCheckpoint(eager=True)
        try:
            # the batch's OWN ids are the exclusion set: grams this epoch
            # crash-landed before an offset commit (including grams SHARED
            # between two batch docs) score exactly as on first delivery
            cov = gram_index_coverage(
                spark, table, b, id_col, text_col,
                exclude_contributors=b.select(id_col),
            )
            admitted = (
                b.join(
                    cov.filter(F.col("coverage") <= F.lit(max_coverage)).select(
                        F.col("doc_id").alias("_adm_id")
                    ),
                    b[id_col] == F.col("_adm_id"),
                    "left_semi",
                )
            )
            sink(admitted, int(epoch_id))
            n_appended = append_to_gram_index(spark, table, b, id_col, text_col)
            if on_batch is not None:
                on_batch(
                    {
                        "epoch_id": int(epoch_id),
                        "n_batch_rows": b.count(),
                        "n_admitted": admitted.count(),
                        "n_grams_appended": n_appended,
                    }
                )
        finally:
            # the sink, like foreachBatch, consumes the batch before
            # returning: the blocks are garbage
            free_checkpoint(b)

    writer = (
        batches.writeStream.outputMode("append")
        .foreachBatch(_apply)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if query_name is not None:
        writer = writer.queryName(query_name)
    return writer.start()
