"""The WAL tail: replay's incremental mode over the binlog-segment event log
(epoch_hint=K/ segments) (SURVEY.md §2.1 S1-S3, §2.9 T1-T8).

The reference consumes its queue at-least-once and makes each message
idempotent at the sink (RouteIngestedFile.kt:74-103). Here each
``stream_ingest`` call applies the ready segments
(``sources.pyds.ready_epochs``) past the lineage guard through replay's
per-epoch path, under their WAL epoch ids. No streaming query runs, so the
segment is read by the JVM's vectorized parquet reader with no Python worker
in between. Exactly-once is the lineage guard: an epoch is done once its
lineage commit, the last of the epoch, has landed, so a crashed call's epoch
is re-applied by the next call and the per-table guards turn its landed
commits into no-ops (T1/T2). The guard is also the resume cursor (T3), and
the only one: every warehouse holds WAL epoch ids. ``max_epochs_per_batch``
bounds each call (T7 analog of the reference's 50 MiB strategy switch).
"""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession

from data_exchange_routing_spark.pipeline import Warehouse, _apply_epochs, _pending_epochs

# not called here: cdcbench/trace.py::install_wrappers patches this module's
# ``apply_epoch`` attribute, so the name must stay importable from it
from data_exchange_routing_spark.pipeline import apply_epoch  # noqa: F401


class AppliedTail:
    """What ``stream_ingest`` returns: the call has already applied its
    epochs, so this handle is finished. It has the members callers of a
    ``StreamingQuery`` use, plus ``applied_epochs``."""

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
    source: str = "binlog",
    max_epochs_per_batch: int | None = None,
) -> AppliedTail:
    """Apply the event log's outstanding ready segments to the warehouse:
    oldest first, past the lineage guard, at most ``max_epochs_per_batch``
    of them (all when None), each under its own WAL epoch id. Returns a
    finished ``AppliedTail``. An epoch that fails raises from the call, as
    in ``replay``. ``spark`` and ``checkpoint_dir`` are unused, and
    ``source`` accepts only ``"binlog"``: the signature is the one existing
    callers pass. A tail-fed warehouse is a replay warehouse: ``replay`` of
    it applies nothing new, and ``truncate_wal``/``warehouse_health`` read
    its guard as WAL positions."""
    if source != "binlog":
        raise ValueError(
            f"stream_ingest tails the binlog WAL only (source={source!r}); "
            "apply an event log in one call with pipeline.replay"
        )
    # loud, not silent: as a slice bound, 0 would apply nothing on every call
    # and a negative bound would count from the newest segment
    if max_epochs_per_batch is not None and max_epochs_per_batch < 1:
        raise ValueError("max_epochs_per_batch must be at least 1")
    # replay's bookkeeping (truncation refusal included) and apply loop,
    # each run once, over the oldest ``max_epochs_per_batch`` pending epochs
    _, todo = _pending_epochs(wh, events_dir)
    return AppliedTail(_apply_epochs(wh, events_dir, todo[:max_epochs_per_batch]))


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
