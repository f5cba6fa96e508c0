"""Exactly-once downstream consumption of a lake table's change feed.

The lake's ingest side is exactly-once (epoch-guarded commits); this module
gives the OUTPUT side the same guarantee, so derived tables (rollups,
near-dup indexes, exports) compose into multi-stage CDC pipelines:

    web_pages --change feed--> ChangeFeedConsumer --> derived lake table

Semantics (the Delta/Iceberg "stream from table" analog, re-expressed over
this repo's snapshot format):

- A consumer is (table, consumer_id) with a durable CURSOR — the last table
  version whose changes it has fully processed — persisted as one JSON file
  via atomic replace (lake.table._atomic_replace_json).
- ``process_available(fn)`` hands ``fn`` the batch of change rows in
  (cursor, head] (via ``LakeTable.read_changes``, which reconstructs deltas
  across compactions) plus the version range, then advances the cursor ONLY
  after ``fn`` returns. A crash between the two re-delivers the batch —
  at-least-once on ``fn``.
- End-to-end exactly-once follows when ``fn`` lands its output in a lake
  table under ``epoch_id=to_version, source=consumer_id``: redelivery of the
  same version range hits the table's epoch guard and is a metadata no-op.
  This is the standard two-layer idempotency argument (at-least-once
  delivery x idempotent sink), the same one the main ingest uses.

Scale notes: per call the driver reads O(versions in range) manifest JSONs
and the executors read only the delta files added in the range — never the
table. A consumer that lags behind snapshot expiry fails loudly
(ValueError from added_delta_files) instead of silently skipping changes;
recovery is a full rebuild from ``table.read()``.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from data_exchange_routing_spark.lake.table import LakeTable, _atomic_replace_json


class ChangeFeedConsumer:
    """Durable cursor over a LakeTable's change feed.

    ``cursor_dir`` defaults to a ``_consumers`` dir next to the table's
    metadata; pass an explicit directory when the consumer must not write
    inside the producer's table (e.g. read-only mounts).
    """

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        consumer_id: str,
        cursor_dir: str | None = None,
        with_internal: bool = False,
    ):
        self.spark = spark
        self.table = LakeTable.load(spark, table_path)
        self.consumer_id = consumer_id
        self.cursor_dir = cursor_dir or os.path.join(self.table.path, "_consumers")
        self.with_internal = with_internal
        os.makedirs(self.cursor_dir, exist_ok=True)

    # ------------------------------------------------------------- cursor
    def _cursor_path(self) -> str:
        return os.path.join(self.cursor_dir, f"cursor-{self.consumer_id}.json")

    def position(self) -> int:
        """Last fully-processed table version. A fresh consumer starts at
        version 1 (the empty create snapshot) and therefore sees every
        change since table creation."""
        try:
            with open(self._cursor_path()) as f:
                return json.load(f)["version"]
        except FileNotFoundError:
            return 1

    def _advance(self, version: int) -> None:
        _atomic_replace_json(
            self._cursor_path(), {"consumer_id": self.consumer_id, "version": version}
        )

    def seek(self, version: int) -> None:
        """Explicit reposition (replay/rebuild)."""
        self._advance(version)

    # ----------------------------------------------------------- consume
    def pending(self) -> tuple[int, int]:
        """(cursor, head) — equal when caught up."""
        return self.position(), self.table.current_version()

    def process_available(
        self,
        fn: Callable[[DataFrame, int, int], None],
        max_versions_per_batch: int | None = None,
        head: int | None = None,
    ) -> dict:
        """Hand ``fn(changes_df, from_version, to_version)`` everything new,
        then advance the cursor. ``max_versions_per_batch`` bounds one call's
        range (micro-batching for consumers that want smaller commits);
        ``head`` caps the range at a pre-observed version (drain() passes it).
        Returns {"processed_versions", "from_version", "to_version"}."""
        cur = self.position()
        head = self.table.current_version() if head is None else head
        if head <= cur:
            return {"processed_versions": 0, "from_version": cur, "to_version": cur}
        to = head if max_versions_per_batch is None else min(head, cur + max_versions_per_batch)
        changes = self.table.read_changes(cur, to, with_internal=self.with_internal)
        fn(changes, cur, to)
        self._advance(to)
        return {"processed_versions": to - cur, "from_version": cur, "to_version": to}

    def drain(
        self,
        fn: Callable[[DataFrame, int, int], None],
        max_versions_per_batch: int | None = None,
    ) -> dict:
        """Process everything up to the head observed ONCE at drain start
        (Structured Streaming's availableNow contract) — re-reading the head
        per step would never return against a producer that keeps
        committing; newer versions wait for the next drain call."""
        total = 0
        start = self.position()
        target = self.table.current_version()
        while self.position() < target:
            res = self.process_available(fn, max_versions_per_batch, head=target)
            total += res["processed_versions"]
        return {"processed_versions": total, "from_version": start, "to_version": target}


def mirror_into_table(dest: LakeTable, consumer_id: str) -> Callable[[DataFrame, int, int], None]:
    """The canonical exactly-once ``fn``: apply the change batch into a keyed
    lake table under the (consumer, to_version) epoch guard. Requires a
    consumer created with ``with_internal=True`` so the feed carries
    (_lsn, _deleted) and the mirror resolves last-writer-wins in the source's
    exact (warc_ts, lsn) order — it therefore converges to the source's
    resolved state (asserted in tests). Enforced loudly: without _deleted the
    schema-align would null-backfill it and silently resurrect every source
    tombstone in the mirror.

    Epoch ids are table versions — contiguous cursor positions, not 0-based
    micro-batch ids — so the commit uses the monotonic high-watermark guard
    (``epoch_monotonic=True``); the plain encoded-set guard would grow the
    destination snapshot by one integer per processed batch forever."""
    from data_exchange_routing_spark.lake.table import DELETED_COL

    def fn(changes: DataFrame, _from_v: int, to_v: int) -> None:
        if DELETED_COL not in changes.columns:
            raise ValueError(
                "mirror_into_table needs the internal CDC columns; create the "
                "ChangeFeedConsumer with with_internal=True (without _deleted "
                "every source tombstone would silently resurrect in the mirror)"
            )
        dest.merge_cdc(
            changes.drop("_change_type"),
            epoch_id=to_v,
            source=consumer_id,
            epoch_monotonic=True,
        )

    return fn
