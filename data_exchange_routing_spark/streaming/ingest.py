"""Structured Streaming ingest: the binlog/WAL tail as a streaming source
(SURVEY.md §2.1 S1-S3, §2.9 T1-T8).

The reference consumes change events from a storage queue at-least-once
(RouteIngestedFile.kt:74-103); here the tail is a file-arrival streaming
source over the partitioned event log (a Kafka source drops in with
`.format("kafka")` + from_json — same downstream pipeline), and every
micro-batch flows through the SAME apply_epoch as bounded replay:

- exactly-once: Structured Streaming's offset WAL names each micro-batch with
  a monotonically increasing batch_id; apply_epoch commits are per-table
  epoch-guarded, so a crash between the sink commit and the streaming commit
  log replays the batch as a no-op (T1/T2).
- checkpoint/resume: `checkpointLocation` persists source offsets; restart
  resumes from the last committed batch (T3).
- backpressure: `maxFilesPerTrigger` bounds batch size (T7 analog of the
  reference's 50 MiB big-blob strategy switch).
- lineage: apply_epoch's lineage table plus a StreamingQueryListener bridge
  for engine-level progress metrics (K4/K5 analog).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from data_exchange_routing_spark.pipeline import Warehouse, apply_epoch
from data_exchange_routing_spark.schemas import CHANGE_EVENTS


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


def stream_ingest(
    spark: SparkSession,
    events_dir: str,
    wh: Warehouse,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    suppress_redelivery_watermark: str | None = None,
    source: str = "files",
    max_epochs_per_batch: int | None = None,
) -> StreamingQuery:
    """Start an availableNow streaming ingest of the event log into the
    warehouse. Returns the running query; callers awaitTermination().

    ``source`` picks the tail implementation over the same segment layout:
    "files" = Spark's file-arrival source (offsets = seen files);
    "binlog" = the registered Python Data Source (sources/pyds.py) with
    epoch-granular offsets and _SUCCESS-gated segment visibility — the
    WAL-tail-as-source form the north rule describes. Both feed the SAME
    apply_epoch; final state is contract-equal (tests/test_pyds.py).

    ``suppress_redelivery_watermark`` (e.g. "2 hours") inserts Spark's
    built-in ``dropDuplicatesWithinWatermark(["lsn"])`` before the apply:
    at-least-once sources redeliver the SAME event (same lsn), and dropping
    those cross-batch saves the downstream merge work. State is GC'd by the
    watermark; a redelivery beyond it just falls through to the idempotent
    MERGE, which absorbs it (T1/T2). Per-(warc_ts,lsn) LAST-WRITER dedup of
    distinct events still happens inside apply_epoch — the built-in keeps
    the first arrival, which for identical payloads is the same row.

    Each batch id lands in the warehouse's lineage guard like a replay
    epoch id, so ``applied_watermark(wh)`` counts batches here, and one
    segment can take several batches (``max_files_per_trigger``, no-data
    watermark batches). The warehouse is marked stream-fed
    (``Warehouse.mark_stream_fed``): ``truncate_wal`` then refuses to run
    without this stream's cursor (its ``next_epoch`` offset), the only safe
    WAL floor, and ``warehouse_health`` reports no watermark."""
    wh.init_tables()
    wh.mark_stream_fed()
    if source == "binlog":
        from data_exchange_routing_spark.sources.pyds import register_sources

        if max_files_per_trigger is not None:
            # loud, not silent: the binlog source paces in EPOCHS, and a
            # dropped backpressure knob would read the whole outstanding WAL
            # in one batch on a caller that asked for bounded triggers
            raise ValueError(
                "max_files_per_trigger applies to source='files'; use "
                "max_epochs_per_batch with source='binlog'"
            )
        register_sources(spark)
        reader = spark.readStream.format("binlog")
        if max_epochs_per_batch is not None:
            reader = reader.option("maxEpochsPerBatch", max_epochs_per_batch)
        events = reader.load(events_dir)
    else:
        if max_epochs_per_batch is not None:
            raise ValueError(
                "max_epochs_per_batch applies to source='binlog'; use "
                "max_files_per_trigger with source='files'"
            )
        reader = spark.readStream.schema(CHANGE_EVENTS)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        events = reader.parquet(events_dir)
    if suppress_redelivery_watermark is not None:
        events = events.withWatermark(
            "warc_ts", suppress_redelivery_watermark
        ).dropDuplicatesWithinWatermark(["lsn"])

    def process(batch_df, batch_id: int) -> None:
        # streaming batch ids and replay epoch ids share the guard namespace
        # "cdc"/"dead_letter"/"lineage" only within one driver mode; a
        # streaming checkpoint owns its warehouse.
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
