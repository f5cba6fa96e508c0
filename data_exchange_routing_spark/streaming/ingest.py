"""Ingest of the binlog-segment event log (epoch_hint=K/ segments) into a
warehouse (SURVEY.md §2.1 S1-S3, §2.9 T1-T8). Both sources of
``stream_ingest`` feed the SAME apply_epoch as bounded replay.

- ``source="binlog"``: the WAL tail as replay's incremental mode. The
  reference consumes its queue at-least-once and makes each message
  idempotent at the sink (RouteIngestedFile.kt:74-103); here each call
  applies the ready segments (``sources.pyds.ready_epochs``) past the
  lineage guard through replay's per-epoch path, under their WAL epoch ids.
  No streaming query runs, so the segment is read by the JVM's vectorized
  parquet reader with no Python worker in between. Exactly-once is the
  lineage guard: an epoch is done once its lineage commit, the last of the
  epoch, has landed, so a crashed call's epoch is re-applied by the next
  call and the per-table guards turn its landed commits into no-ops
  (T1/T2). The guard is also the resume cursor (T3); ``max_epochs_per_batch``
  bounds each call (T7 analog of the reference's 50 MiB strategy switch).
- ``source="files"``: Spark's file-arrival stream (``maxFilesPerTrigger``)
  applies each micro-batch via foreachBatch under its batch id, resuming
  from ``checkpointLocation``. ``LineageListener`` bridges its progress
  (K4/K5 analog).

Batch ids are no WAL positions, so the two id spaces never mix in one
warehouse: each source refuses a warehouse whose guard holds the other's.
"""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from data_exchange_routing_spark.pipeline import Warehouse, apply_epoch, replay
from data_exchange_routing_spark.schemas import CHANGE_EVENTS
from data_exchange_routing_spark.sources.pyds import ready_epochs


class LineageListener(StreamingQueryListener):
    """Per-micro-batch progress rows (rows/sec, duration) — the engine-level
    analog of the reference's per-invocation `out in {ms}` timing logs
    (RouteIngestedFile.kt:85,105)."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs) if p.durationMs else {},
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class AppliedTail:
    """What ``stream_ingest(source="binlog")`` returns: the call has already
    applied its epochs, so this handle is finished. It has the members
    callers of a ``StreamingQuery`` use, plus ``applied_epochs``."""

    def __init__(self, applied_epochs: list[int]):
        self.runId = uuid.uuid4()
        self.applied_epochs = applied_epochs

    def awaitTermination(self, timeout: float | None = None) -> bool:
        return True

    def stop(self) -> None:
        pass

    def exception(self) -> None:
        return None


def stream_ingest(
    spark: SparkSession,
    events_dir: str,
    wh: Warehouse,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    suppress_redelivery_watermark: str | None = None,
    source: str = "files",
    max_epochs_per_batch: int | None = None,
) -> StreamingQuery | AppliedTail:
    """Ingest the event log's outstanding segments into the warehouse.

    ``source="binlog"``: the WAL tail (module docstring). Applies the ready
    segments past the lineage guard, oldest first, at most
    ``max_epochs_per_batch`` of them (all when None), each under its own
    WAL epoch id, and returns a finished ``AppliedTail``. An epoch that
    fails raises from the call, as in ``replay``. ``checkpoint_dir`` is
    unused. The warehouse stays a replay warehouse: ``replay`` of it applies
    nothing new, and ``truncate_wal``/``warehouse_health`` need no cursor.

    ``source="files"``: starts an availableNow file-arrival stream and
    returns the running query; callers awaitTermination(). Batch ids land in
    the lineage guard, and one segment can take several batches
    (``max_files_per_trigger``, no-data watermark batches), so the warehouse
    is marked stream-fed (``Warehouse.mark_stream_fed``): ``truncate_wal``
    then needs this stream's cursor (its ``next_epoch`` offset), the only
    safe WAL floor, and ``warehouse_health`` reports no watermark.

    ``suppress_redelivery_watermark`` (e.g. "2 hours", files only) inserts
    Spark's ``dropDuplicatesWithinWatermark(["lsn"])`` before the apply:
    at-least-once sources redeliver the SAME event (same lsn), and dropping
    those cross-batch saves merge work. A redelivery beyond the watermark
    falls through to the idempotent MERGE (T1/T2); per-(warc_ts, lsn)
    last-writer dedup still happens inside apply_epoch."""
    # loud, not silent: each source paces in its own unit, and a dropped
    # knob would apply the whole outstanding log on a caller that asked for
    # bounded work
    if source == "binlog":
        if max_files_per_trigger is not None:
            raise ValueError(
                "max_files_per_trigger applies to source='files'; use "
                "max_epochs_per_batch with source='binlog'"
            )
        if suppress_redelivery_watermark is not None:
            raise ValueError(
                "suppress_redelivery_watermark applies to source='files'; "
                "the binlog tail applies whole segments, and the epoch guard "
                "absorbs a redelivered one"
            )
        if max_epochs_per_batch is not None and max_epochs_per_batch < 1:
            raise ValueError("max_epochs_per_batch must be at least 1")
        wh.init_tables()
        if wh.stream_fed():
            raise ValueError(
                "this warehouse is stream-fed: its lineage guard holds "
                "streaming batch ids from stream_ingest(source='files'), which "
                "would make the binlog tail skip real WAL epochs. Re-bootstrap "
                "it (operators/bootstrap.py), or replay(from_epoch=<the "
                "stream's next_epoch>)"
            )
        done = wh.completed_epochs()
        todo = [e for e in ready_epochs(events_dir) if e not in done]
        todo = todo[:max_epochs_per_batch]
        # replay applies exactly ``todo``: the ready epochs not yet done, up
        # to the last one this call takes
        out = replay(wh, events_dir, stop_after_epoch=todo[-1] if todo else -1)
        return AppliedTail(out["applied_epochs"])
    if max_epochs_per_batch is not None:
        raise ValueError(
            "max_epochs_per_batch applies to source='binlog'; use "
            "max_files_per_trigger with source='files'"
        )
    wh.init_tables()
    if not wh.stream_fed() and wh.completed_epochs():
        raise ValueError(
            "this warehouse's lineage guard holds WAL epochs (fed by replay "
            "or stream_ingest(source='binlog')); a files stream's batch ids "
            "would collide with them and be skipped. Keep feeding it with "
            "replay or the binlog tail, or start the stream on a fresh "
            "warehouse"
        )
    wh.mark_stream_fed()
    reader = spark.readStream.schema(CHANGE_EVENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(events_dir)
    if suppress_redelivery_watermark is not None:
        events = events.withWatermark(
            "warc_ts", suppress_redelivery_watermark
        ).dropDuplicatesWithinWatermark(["lsn"])

    def process(batch_df, batch_id: int) -> None:
        apply_epoch(wh, batch_df, epoch_id=int(batch_id))

    return (
        events.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_refresh_partitions(
    spark,
    table,
    input_dir: str,
    checkpoint_dir: str,
    schema,
    source: str = "stream-refresh",
    max_files_per_trigger: int | None = None,
):
    """Crawl-refresh as a stream: each micro-batch atomically replaces
    exactly the partitions it carries (``LakeTable.overwrite_partitions``) —
    re-crawled day/host shards flow in continuously and the table always
    shows whole shards, never a half-replaced one.

    Exactly-once: the (source, batch_id) epoch guard absorbs Structured
    Streaming's redeliveries — a retried batch after a sink-side crash is a
    metadata no-op, so shards are never double-replaced out of order.
    Append-only hidden-partitioned target required (same contract as the
    batch call)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    refresh = reader.parquet(input_dir)

    def process(batch_df, batch_id: int) -> None:
        table.overwrite_partitions(batch_df, epoch_id=int(batch_id), source=source)

    return (
        refresh.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
