"""Minimal Iceberg-style table format over parquet + atomic JSON snapshots.

No Iceberg/Delta runtime jar ships in this environment, so the engine carries
its own lake layer with the same commit semantics the reference hand-rolls:

- *staged files then one atomic metadata swap*: Spark tasks write parquet files
  to a per-commit directory; the commit is a single exclusive-create of
  ``_meta/snapshot-N.json`` (os.link is atomic on POSIX). This mirrors the
  reference's chunked staged upload + ordered ``commitBlockList``
  (fns-routing/.../RouteIngestedFile.kt:470-550, sort :543-545, commit :547-548)
  and is exactly Iceberg's manifest-swap commit. Every commit derives its
  snapshot from the one it read with ``Snapshot.successor()``; commits that
  may retry share one optimistic loop (``LakeTable._commit_retry``).
- *idempotent epoch commits*: every snapshot records the epoch-id it applied
  plus the cumulative set of committed epochs; re-applying a committed epoch is
  a no-op. This is the exactly-once guard the reference approximates with
  idempotent overwrite uploads (RouteIngestedFile.kt:249-257) and
  report-id = filename (FnStoreReportingEvent.kt:71).
- *merge-on-read CDC*: each micro-batch appends only its (deduplicated) delta
  files; readers reconstruct the final state with a per-key window over the
  CDC ordering (warc_ts, lsn) and hide tombstones; ``compact()`` materializes
  the resolved state back into base files. Per-epoch write cost is O(batch),
  never O(table) — the property that makes 10^10-event replay sustainable.
- *bucket partition layout*: data files are hash-bucketed by the merge key
  (``pmod(xxhash64(url), n_buckets)``), so key-local operations (resolve,
  compaction) shuffle within buckets only, and bucket-selective reads prune
  files straight from the manifest (Iceberg ``bucket(N, url)`` analog).
- *schema evolution*: new nullable columns appear in the snapshot schema; old
  parquet files lack them and are null-backfilled by the reader (reference
  open-world metadata enrichment, RouteIngestedFile.kt:196-209). Existing
  columns WIDEN along the safe promotion lattice (int→long, float→double) —
  metadata-only; Spark's parquet reader upcasts old INT32/FLOAT pages under
  the wider requested schema, so no data file is rewritten.

Scale notes (100 TB / 1000 executors): the manifest is O(#files) JSON — at
10^5 files it is a few MB read once per query by the driver, like an Iceberg
manifest list. Data-file IO, shuffles, and window dedup all run distributed;
nothing here collects data rows to the driver.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import tempfile
import time
import uuid
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# engine-internal columns stored in data files but hidden from public reads
LSN_COL = "_lsn"
DELETED_COL = "_deleted"
BUCKET_COL = "_b"
INTERNAL_COLS = (LSN_COL, DELETED_COL)
# row-lineage column (Iceberg v3 _row_id analog). Implicit for as-written
# files (manifest first_row_id + row position); materialized as a real
# parquet column by rewrites so identity survives compaction.
ROW_ID_COL = "_row_id"

_META_DIR = "_meta"
_DATA_DIR = "data"


def _enc_epochs(s: set[int]) -> dict:
    """Compact epoch-set encoding: {0..w} ∪ extras. Micro-batch ids are
    contiguous from 0, so the snapshot stays O(1) bytes at 10^6 epochs."""
    w = -1
    while (w + 1) in s:
        w += 1
    return {"w": w, "extra": sorted(x for x in s if x > w)}


def _dec_epochs(v) -> set[int]:
    if isinstance(v, list):  # legacy plain list
        return set(v)
    return set(range(v.get("w", -1) + 1)) | set(v.get("extra", []))


def _enc_contains(v, epoch_id: int) -> bool:
    """Membership on the ENCODED epoch set — O(#extras), never materializes
    range(w); keeps the per-commit guard O(1) at 10^6 epochs."""
    if isinstance(v, list):
        return epoch_id in v
    return epoch_id <= v.get("w", -1) or epoch_id in v.get("extra", [])


def _enc_add(v, epoch_id: int) -> dict:
    """Add one epoch to the encoded set without materializing it."""
    enc = v if isinstance(v, dict) else _enc_epochs(set(v))
    w = enc.get("w", -1)
    if epoch_id <= w:
        return enc
    extra = set(enc.get("extra", []))
    extra.add(epoch_id)
    while (w + 1) in extra:
        w += 1
        extra.discard(w)
    return {"w": w, "extra": sorted(extra)}


def _enc_add_monotonic(v, epoch_id: int) -> dict:
    """Advance the watermark to ``epoch_id``, claiming everything below it.
    For sources whose epoch ids are CONTIGUOUS CURSOR POSITIONS (change-feed
    consumers commit (prev, to] so every id <= to is by construction
    processed) — _enc_add would park such ids in ``extra`` forever because
    they don't start at 0, growing each snapshot by one integer per batch."""
    enc = v if isinstance(v, dict) else _enc_epochs(set(v))
    w = max(enc.get("w", -1), epoch_id)
    return {"w": w, "extra": sorted(x for x in enc.get("extra", []) if x > w)}


# manifest segmentation thresholds: the inline tail rolls into an immutable
# segment file past TAIL_MAX entries; segments merge into one past SEG_MAX
# refs. Commit cost is O(new entries + #segment refs) — never O(#files) —
# with an O(#files) merge amortized over TAIL_MAX*SEG_MAX commits.
TAIL_MAX = 256
SEG_MAX = 64


@dataclass
class Snapshot:
    """Table state at one version. The file list is persisted Iceberg-style:
    ``segments`` holds refs to immutable JSON manifest files REUSED across
    snapshots; ``tail`` holds the newest entries inline. ``files`` is the
    materialized concatenation (resolved at load time by LakeTable)."""

    version: int
    schema_json: str
    n_buckets: int
    key: str | None
    segments: list[str] = field(default_factory=list)
    tail: list[dict[str, Any]] = field(default_factory=list)
    committed_epochs: dict[str, Any] = field(default_factory=dict)
    summary: dict[str, Any] = field(default_factory=dict)
    seg_files: list[dict[str, Any]] | None = None  # resolved segment entries
    # merge-on-read delete files (Iceberg v2 analog), kept OUT of ``files``
    # so every data-file walk (pruning, stats, compaction byte counters)
    # stays delete-oblivious; ``_read_files`` is the single application
    # point. Entry: {path, kind: eqdel|posdel, rows, bytes, seq?, cols?}.
    delete_files: list[dict[str, Any]] = field(default_factory=list)
    # row-lineage high watermark (Iceberg v3 row-id analog, append-only
    # tables): the next unassigned row id. _write_snapshot advances it
    # while stamping first_row_id onto new manifest entries.
    next_row_id: int = 0

    def successor(self, **changes) -> "Snapshot":
        """The next version derived from this one: every field not named in
        ``changes`` carries forward (delete files and the row-id watermark
        included), so a commit states only what it changes. Shallow: list
        and dict fields are shared with this snapshot, so callers rebind
        them (``tail=head.tail + entries``) rather than mutate in place."""
        return replace(self, version=self.version + 1, **changes)

    @property
    def files(self) -> list[dict[str, Any]]:
        if self.segments and self.seg_files is None:
            raise RuntimeError("snapshot segments not resolved; load via LakeTable.snapshot()")
        return (self.seg_files or []) + self.tail

    def replace_files(self, files: list[dict[str, Any]]) -> None:
        """Full file-list replacement (compact/rollback): drops segment refs;
        _write_snapshot re-segments as needed."""
        self.segments = []
        self.seg_files = None
        self.tail = list(files)

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def epochs(self, source: str) -> set[int]:
        return _dec_epochs(self.committed_epochs.get(source, []))

    def epoch_committed(self, source: str, epoch_id: int) -> bool:
        return _enc_contains(self.committed_epochs.get(source, []), epoch_id)


def _content_of(snap: Snapshot) -> dict[str, Any]:
    """``snap``'s table content as ``successor`` changes — what rollback
    and fast-forward publish copy onto the head. The row-id watermark is
    not content: the head keeps its own."""
    return {
        "schema_json": snap.schema_json,
        "n_buckets": snap.n_buckets,
        "segments": list(snap.segments),
        "tail": list(snap.tail),
        "seg_files": snap.seg_files,
        "committed_epochs": dict(snap.committed_epochs),
        "delete_files": list(snap.delete_files),
    }


def _arrow_type(dt: T.DataType):
    """Spark type -> pyarrow type for driver-side control-plane writes.
    Timestamps as micros (Spark's parquet reader handles INT64-micros and
    Spark-written INT96 files side by side)."""
    import pyarrow as pa

    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us")
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    if isinstance(dt, T.MapType):
        return pa.map_(_arrow_type(dt.keyType), _arrow_type(dt.valueType))
    if isinstance(dt, T.StructType):
        return pa.struct([pa.field(f.name, _arrow_type(f.dataType), True) for f in dt.fields])
    raise TypeError(f"unsupported driver-side type: {dt}")


def _resolve_segments(meta_dir: str, segments: list[str], _cache: dict = {}) -> list[dict]:
    """Concatenated entries of a snapshot's segment refs. Segment files are
    immutable once written and successive snapshots share the same ref list,
    so the resolved list is cached per (meta_dir, refs) and SHARED, never
    copied — snapshot load stays O(tail), not O(#files). Callers must treat
    segment-sourced entries as read-only."""
    key = (meta_dir, tuple(segments))
    hit = _cache.get(key)
    if hit is None:
        hit = []
        for s in segments:
            with open(os.path.join(meta_dir, s)) as f:
                hit.extend(json.load(f))
        if len(_cache) > 256:
            _cache.clear()
        _cache[key] = hit
    return hit


_STR_STATS_MAX = 64


def _bounded_str_range(lo: str, hi: str, limit: int = _STR_STATS_MAX) -> list[str] | None:
    """Clamp a string min/max pair to ``limit`` chars while keeping it a
    valid BOUND (parquet BinaryTruncator analog): a truncated min is a
    prefix, hence <= every value it bounded; a truncated max has its last
    kept code point incremented, hence >= every value it bounded. Returns
    None when no valid upper bound fits (max is ``limit`` U+10FFFFs — a
    pathological value worth dropping stats over, never mis-pruning)."""
    if len(lo) > limit:
        lo = lo[:limit]
    if len(hi) > limit:
        head = hi[:limit]
        i = len(head) - 1
        while i >= 0 and ord(head[i]) >= 0x10FFFF:
            i -= 1
        if i < 0:
            return None
        hi = head[:i] + chr(ord(head[i]) + 1)
    return [lo, hi]


def _stat_key(v, ts: bool):
    """A predicate bound or a manifest min/max as a comparable value.
    ``ts_stats`` bounds are ISO strings carrying a UTC offset, so timestamps
    compare as naive-UTC datetimes (a naive probe is UTC, the session zone):
    comparing the strings would order "…T03:00:00+00:00" after a probe of
    "…T03:00:00" and drop the row at exactly that bound. Other bounds
    compare as recorded (dates as ISO strings)."""
    if ts:
        from datetime import datetime, timezone

        v = datetime.fromisoformat(v) if isinstance(v, str) else v
        if isinstance(v, datetime) and v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v
    return v.isoformat() if hasattr(v, "isoformat") else v


def _atomic_replace_json(path: str, payload: dict | list) -> None:
    """Durable OVERWRITE publish (contrast _atomic_write_json's exclusive
    create): fsync'd tmp + atomic replace + parent-dir fsync. The ONE
    persist ritual for every overwritable metadata file (ANN index
    metadata, partition specs, column defaults, change-feed cursors, the
    promoted-key registry) — a durability/schema change lands here once."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except Exception:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def _atomic_write_json(path: str, payload: dict) -> None:
    """Exclusive-create commit: succeeds for exactly one writer per version."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.link(tmp, path)  # atomic; raises FileExistsError on concurrent commit
    finally:
        os.unlink(tmp)


class LakeTable:
    """One table = one directory; truth lives in the newest snapshot JSON."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.meta_dir = os.path.join(self.path, _META_DIR)
        # snapshot filename prefix: "snapshot-" is main; a branch view
        # (write-audit-publish) swaps in "branch-<name>-" so every commit /
        # read / compact path works unchanged against the branch head.
        self._snap_prefix = "snapshot-"

    # --------------------------------------------------- table props (bloom)
    def _props(self) -> dict:
        p = os.path.join(self.meta_dir, "props.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    # ------------------------------------------------- hidden partitioning
    def _part_state(self) -> dict:
        """{"current": spec_id|None, "specs": {str(id): fields}} (see
        lake/partition.py for transform semantics)."""
        p = os.path.join(self.meta_dir, "partition_specs.json")
        if not os.path.exists(p):
            return {"current": None, "specs": {}}
        with open(p) as f:
            return json.load(f)

    def set_partition_spec(self, fields: list[dict] | None, salt: int = 1) -> dict:
        """Set (or clear, with ``None``) the table's ACTIVE partition spec.

        Iceberg-style partition evolution: the new spec applies to FUTURE
        writes only; existing files keep the spec id they were written under
        and are pruned through it (lake/partition.py:prune_files). Like the
        other schema-DDL ops (rename/drop column) this is a single-writer
        metadata operation — concurrent DATA commits are unaffected because
        writers read the spec once per staging pass.

        ``salt`` > 1 spreads each partition value across up to that many
        writer tasks/files per commit (lake/partition.py:salted_repartition)
        — the skew escape hatch for hot partitions; pruning is unaffected.
        """
        from data_exchange_routing_spark.lake import partition as _pt

        snap = self.snapshot()
        if snap.key is not None:
            raise ValueError(
                "partition specs require an append-only (unkeyed) table; "
                "keyed tables already have the hash-bucket layout"
            )
        if not isinstance(salt, int) or salt < 1:
            raise ValueError("salt must be a positive int")
        st = self._part_state()
        st["salt"] = salt
        if fields is None:
            st["current"] = None
        else:
            norm = _pt.validate_spec(fields, snap.schema())
            new_id = max([int(k) for k in st["specs"]] or [0]) + 1
            st["specs"][str(new_id)] = norm
            st["current"] = new_id
        _atomic_replace_json(os.path.join(self.meta_dir, "partition_specs.json"), st)
        return st

    def partition_prune_stats(
        self, part_eq: tuple | None = None, part_range: tuple | None = None
    ) -> dict:
        """Metadata-only pruning report: how many files a hidden-partition
        predicate would scan vs the full manifest (ops/test visibility)."""
        from data_exchange_routing_spark.lake import partition as _pt

        snap = self.snapshot()
        files = snap.files
        kept = _pt.prune_files(
            files, self._part_state().get("specs", {}), part_eq, part_range,
            schema=snap.schema(),
        )
        return {
            "files_total": len(files),
            "files_kept": len(kept),
            "rows_total": sum(f.get("rows", 0) for f in files),
            "rows_kept": sum(f.get("rows", 0) for f in kept),
        }

    def _bloom_entry(self, df: DataFrame) -> dict | None:
        """One packed bitmap per configured bloom column over this commit's
        batch: ONE distributed job whose shuffle carries only DISTINCT bit
        positions (<= bloom_bits per column, independent of batch size) —
        the same build shape as functions/novelty.py. NULLs are never
        recorded (a NULL probe is rejected at read instead)."""
        props = self._props()
        cols = [c for c in props.get("bloom_cols", []) if c in df.columns]
        if not cols:
            return None
        import base64

        import numpy as np

        from data_exchange_routing_spark.functions.novelty import bloom_positions

        bits, hashes = props["bloom_bits"], props["bloom_hashes"]
        pos = None
        for ci, c in enumerate(cols):
            p = df.select(
                F.lit(ci).alias("ci"),
                F.explode(
                    bloom_positions(F.col(c).cast("string"), bits, hashes)
                ).alias("p"),
            )
            pos = p if pos is None else pos.union(p)
        by_col: dict[int, list[int]] = {}
        for r in pos.distinct().collect():
            by_col.setdefault(r["ci"], []).append(r["p"])
        out = {}
        for ci, c in enumerate(cols):
            bitmap = np.zeros(bits, dtype=bool)
            bitmap[by_col.get(ci, [])] = True
            out[c] = base64.b64encode(np.packbits(bitmap).tobytes()).decode("ascii")
        return out

    @staticmethod
    def _bloom_probe(b64: str, value, n_bits: int, n_hashes: int) -> bool:
        """Python twin of the build hashing (novelty._h1h2_py): True iff the
        packed bitmap MIGHT contain value — no false negatives."""
        import base64

        import numpy as np

        from data_exchange_routing_spark.functions.novelty import _h1h2_py

        packed = np.frombuffer(base64.b64decode(b64), dtype=np.uint8)
        h1, h2 = _h1h2_py(str(value))
        for i in range(n_hashes):
            p = (h1 + i * h2) % n_bits
            if not (packed[p // 8] >> (7 - (p % 8)) & 1):
                return False
        return True

    # ------------------------------------------------ manifest file pruning
    # A pushed predicate is ("eq", col, value), ("range", col, lo, hi)
    # (inclusive; None = open end) or ("bucket", buckets). read(),
    # point_read, delete_eq/delete_range and compact_mor_deletes prune
    # through _file_may_match and filter rows through _row_filter, so every
    # reader and rewriter prunes the same way and the pruning can never
    # disagree with the predicate it guards.
    @staticmethod
    def _file_may_match(
        f: dict, preds: list[tuple], specs: dict | None = None,
        props: dict | None = None, schema: T.StructType | None = None,
        key: str | None = None,
    ) -> bool:
        """May manifest entry ``f`` hold a row satisfying EVERY predicate?

        Each predicate is tested against whatever evidence the entry carries:
        partition values (through the transforms of the spec the file was
        written under, lake/partition.py), ``col_stats`` min/max falling back
        to ``ts_stats``, ``key_min``/``key_max`` for the merge key, the Bloom
        bitmap (``eq`` only), and the ``bucket`` field read as a ``[b, b]``
        range where -1 means any bucket. Conservative: missing evidence, a
        NULL probe, or a probe not comparable with the evidence keeps the
        file, so pruning only removes provably-disjoint files."""
        from data_exchange_routing_spark.lake import partition as _pt

        specs, props = specs or {}, props or {}
        for p in preds:
            if p[0] == "bucket":
                b_lo = b_hi = f.get("bucket", -1)
                if b_lo != -1 and not any(b_lo <= b <= b_hi for b in p[1]):
                    return False
                continue
            op, col = p[0], p[1]
            lo, hi = (p[2], p[2]) if op == "eq" else (p[2], p[3])
            if op == "eq" and lo is None:
                continue
            bloom = (f.get("bloom") or {}).get(col)
            if op == "eq" and bloom is not None and col in props.get("bloom_cols", []):
                dtype = schema[col].dataType if schema and col in schema.fieldNames() else None
                probe = _pt.normalize_bound(lo, dtype)
                if not LakeTable._bloom_probe(bloom, probe, props["bloom_bits"], props["bloom_hashes"]):
                    return False
            try:
                part = ((col, lo), None) if op == "eq" else (None, (col, lo, hi))
                if not _pt.prune_files([f], specs, *part, schema=schema):
                    return False
                # min/max evidence; a column has col_stats or (timestamps)
                # ts_stats, never both
                for rng, ts in (
                    ((f.get("col_stats") or {}).get(col), False),
                    ((f.get("ts_stats") or {}).get(col), True),
                    ((f.get("key_min"), f.get("key_max")) if col == key else None, False),
                ):
                    if rng is None or None in rng:
                        continue
                    fmin, fmax = (_stat_key(x, ts) for x in rng)
                    if (hi is not None and fmin > _stat_key(hi, ts)) or (
                        lo is not None and fmax < _stat_key(lo, ts)
                    ):
                        return False
            except (TypeError, ValueError):
                pass  # probe not comparable with the evidence: keep
        return True

    def _evidence(self, snap: Snapshot) -> dict:
        """The table-level context ``_file_may_match`` reads alongside each
        manifest entry: partition specs, Bloom props, schema and merge key."""
        return {
            "specs": self._part_state().get("specs", {}),
            "props": self._props(),
            "schema": snap.schema(),
            "key": snap.key,
        }

    @staticmethod
    def _row_filter(preds: list[tuple]):
        """The exact row predicate of pushed predicates: their conjunction
        (``bucket`` predicates add none — files are bucket-clustered), or
        ``lit(True)`` when there is nothing to filter. NULL rows never match
        an ``eq`` or a bounded ``range``."""
        conds = []
        for p in preds:
            if p[0] == "eq":
                conds.append(F.col(p[1]) == F.lit(p[2]))
            elif p[0] == "range":
                if p[2] is not None:
                    conds.append(F.col(p[1]) >= F.lit(p[2]))
                if p[3] is not None:
                    conds.append(F.col(p[1]) <= F.lit(p[3]))
        return functools.reduce(operator.and_, conds) if conds else F.lit(True)

    # ------------------------------------------------------------ lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key: str | None = None,
        n_buckets: int = 16,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 8192,
        bloom_hashes: int = 5,
    ) -> "LakeTable":
        """Create an empty table. ``key`` enables CDC merge semantics.

        ``bloom_cols`` (append-only tables) records a per-commit Bloom bitmap
        over each listed column in the manifest, enabling file skipping for
        point predicates on NON-key columns — the Iceberg/Delta bloom-filter
        index analog at manifest level (zero file opens for pruned files)."""
        t = cls(spark, path)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(os.path.join(t.path, _DATA_DIR), exist_ok=True)
        if bloom_cols:
            if key is not None:
                raise ValueError(
                    "bloom_cols requires an append-only (unkeyed) table: "
                    "pruning a keyed table's delta files by a non-key "
                    "predicate would resolve stale revisions"
                )
            missing = [c for c in bloom_cols if c not in schema.fieldNames()]
            if missing:
                raise ValueError(f"bloom_cols not in schema: {missing}")
            _atomic_write_json(
                os.path.join(t.meta_dir, "props.json"),
                {
                    "bloom_cols": list(bloom_cols),
                    "bloom_bits": bloom_bits,
                    "bloom_hashes": bloom_hashes,
                },
            )
        if t.current_version() == 0:
            stored = schema
            if key is not None:
                names = set(schema.fieldNames())
                extra = [
                    T.StructField(LSN_COL, T.LongType(), True),
                    T.StructField(DELETED_COL, T.BooleanType(), True),
                ]
                stored = T.StructType(schema.fields + [f for f in extra if f.name not in names])
            snap = Snapshot(
                version=1,
                schema_json=json.dumps(stored.jsonValue()),
                n_buckets=n_buckets,
                key=key,
            )
            t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if t.current_version() == 0:
            raise FileNotFoundError(f"no lake table at {path}")
        return t

    def exists(self) -> bool:
        return self.current_version() > 0

    # ------------------------------------------------------------ snapshots
    def current_version(self) -> int:
        if not os.path.isdir(self.meta_dir):
            return 0
        p = self._snap_prefix
        versions = [
            int(f[len(p) : -len(".json")])
            for f in os.listdir(self.meta_dir)
            if f.startswith(p) and f.endswith(".json") and f[len(p) : -len(".json")].isdigit()
        ]
        return max(versions, default=0)

    def snapshot(self, version: int | None = None) -> Snapshot:
        # explicit None check: `version or ...` would silently turn the
        # (invalid) version 0 into "current", which made read_changes(0)
        # return a partial feed with no error
        v = self.current_version() if version is None else version
        with open(os.path.join(self.meta_dir, f"{self._snap_prefix}{v:08d}.json")) as f:
            d = json.load(f)
        snap = Snapshot(
            version=d["version"],
            schema_json=d["schema_json"],
            n_buckets=d["n_buckets"],
            key=d["key"],
            segments=d.get("segments", []),
            # legacy (round-1) snapshots stored the whole list inline as "files"
            tail=d.get("tail", d.get("files", [])),
            committed_epochs=d.get("committed_epochs", {}),
            summary=d.get("summary", {}),
            delete_files=d.get("delete_files", []),
            next_row_id=d.get("next_row_id") or 0,
        )
        if snap.segments:
            snap.seg_files = _resolve_segments(self.meta_dir, snap.segments)
        return snap

    def as_of_version(self, ts) -> int:
        """Version of the newest snapshot committed at or before ``ts``
        (datetime — naive treated as UTC — or epoch seconds): the
        ``AS OF TIMESTAMP`` half of time travel, resolved from snapshot
        metadata alone. Snapshots record wall-clock ``committed_at`` for
        exactly this lookup; it participates in no data semantics (replay /
        LWW ordering key off (warc_ts, lsn), never commit time). Pre-feature
        snapshots without the field sort as oldest. Raises if ``ts`` predates
        the table. Expired snapshots (expire_snapshots) are gone — same
        contract as version-based travel."""
        from datetime import datetime, timezone

        if isinstance(ts, datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=timezone.utc)
            ts = ts.timestamp()
        p = self._snap_prefix
        best = None
        for f in sorted(os.listdir(self.meta_dir)):
            if not (f.startswith(p) and f.endswith(".json") and f[len(p):-len(".json")].isdigit()):
                continue
            with open(os.path.join(self.meta_dir, f)) as fh:
                d = json.load(fh)
            if d.get("committed_at", 0.0) <= ts:
                best = d["version"] if best is None else max(best, d["version"])
        if best is None:
            raise ValueError(f"no snapshot committed at or before {ts}")
        return best

    def _write_snapshot(self, snap: Snapshot) -> None:
        # Roll the inline tail into an immutable, reused segment file once it
        # grows past TAIL_MAX, and merge segment refs once there are more than
        # SEG_MAX: every snapshot JSON and every commit stays
        # O(TAIL_MAX + SEG_MAX) — independent of total file count — with the
        # O(#files) merge amortized over TAIL_MAX*SEG_MAX commits
        # (Iceberg manifest-list reuse). A segment written by a commit that
        # then loses the version race is an orphan; expire_snapshots GCs it.
        #
        # Row lineage (append-only tables): stamp first_row_id onto every
        # new data entry BEFORE the tail rolls into an immutable segment.
        # A row's id is first_row_id + its position in the file — stable
        # until a rewrite, which materializes ids INTO the new files
        # (entry marked row_ids="file", never restamped). The watermark
        # comes from the snapshot this commit was derived from and is
        # bumped over every already-stamped entry first, so
        # publish/rollback/clone flows that splice entries from other
        # lineages can never double-assign an id.
        if snap.key is None:
            nxt = snap.next_row_id
            for e in (snap.seg_files or []) + snap.tail:
                frid = e.get("first_row_id")
                if frid is not None:
                    nxt = max(nxt, frid + int(e.get("rows", 0)))
            for e in snap.tail:
                if e.get("first_row_id") is None and not e.get("row_ids"):
                    e["first_row_id"] = nxt
                    nxt += int(e.get("rows", 0))
            snap.next_row_id = nxt
        if len(snap.tail) > TAIL_MAX:
            seg_name = f"seg-{uuid.uuid4().hex[:12]}.json"
            with open(os.path.join(self.meta_dir, seg_name), "w") as f:
                json.dump(snap.tail, f)
            snap.seg_files = (snap.seg_files or []) + snap.tail
            snap.segments = snap.segments + [seg_name]
            snap.tail = []
        if len(snap.segments) > SEG_MAX:
            merged = f"seg-{uuid.uuid4().hex[:12]}.json"
            with open(os.path.join(self.meta_dir, merged), "w") as f:
                json.dump(snap.seg_files, f)
            snap.segments = [merged]
        payload = {
            "version": snap.version,
            "committed_at": time.time(),  # wall clock, for AS OF reads only
            "schema_json": snap.schema_json,
            "n_buckets": snap.n_buckets,
            "key": snap.key,
            "segments": snap.segments,
            "tail": snap.tail,
            "committed_epochs": snap.committed_epochs,
            "summary": snap.summary,
            "delete_files": snap.delete_files,
            "next_row_id": snap.next_row_id,
            "n_files": len(snap.seg_files or []) + len(snap.tail),
        }
        path = os.path.join(self.meta_dir, f"{self._snap_prefix}{snap.version:08d}.json")
        _atomic_write_json(path, payload)

    def _commit_retry(self, build, what: str) -> tuple[Snapshot, Snapshot | None]:
        """The optimistic-concurrency commit loop (Iceberg-style) every
        retrying commit shares: read the head, derive its successor with
        ``build(head)``, race the exclusive create; a loser re-reads the new
        head and builds again on top, so guards are re-checked and seqs
        re-stamped per attempt. ``build`` returns None to commit nothing
        (e.g. the epoch already landed). Returns (head, committed snapshot
        or None)."""
        for _attempt in range(50):
            head = self.snapshot()
            new = build(head)
            if new is None:
                return head, None
            try:
                self._write_snapshot(new)
            except FileExistsError:
                continue
            return head, new
        raise RuntimeError(f"{what} contention exhausted retries on {self.path}")

    # -------------------------------------------------------------- reading
    def _read_files(
        self, snap: Snapshot, files: list[dict], with_internal: bool,
        keep_meta: bool = False, with_row_ids: bool = False,
    ) -> DataFrame:
        """Scan manifest entries into a DataFrame. This is the SINGLE
        application point for merge-on-read delete files, so every reader
        AND every rewriter (compact / expire / CoW delete) sees deleted rows
        gone — a rewrite therefore materializes outstanding deletes and its
        fresh files (seq = new version) are exempt from older eq-deletes by
        the sequence rule, never resurrecting rows. ``keep_meta=True``
        returns ``_mor_file`` (manifest-relative path) and ``_mor_pos``
        (row index within the file) for position-delete writers.
        ``with_row_ids=True`` additionally returns ``_row_id`` — the stable
        row-lineage id: the file's materialized ``_row_id`` column when the
        file was written by a rewrite, else the manifest ``first_row_id``
        plus the row's position."""
        schema = snap.schema()
        paths = [os.path.join(self.path, f["path"]) for f in files]
        renames = self._live_renames(snap)
        # only touch the hidden _metadata struct when row identity is
        # actually needed: delete-free tables keep their exact pre-MoR plans.
        # Active column defaults need the per-file seq too (initial-default
        # rows are the ones whose file predates the ADD COLUMN).
        defaults = self._active_defaults(snap, files)
        need_meta = keep_meta or bool(snap.delete_files) or with_row_ids or bool(defaults)
        if paths and renames:
            # name-mapped RENAME COLUMN read path: request the alias names
            # alongside the schema (files written pre-rename store the bytes
            # under the old name; spark.read.schema nulls whichever name a
            # file lacks) and coalesce newest-name-first — pure
            # column-presence resolution, since no file carries two alias
            # generations of the same column
            by_name = {f.name: f for f in schema.fields}
            taken = set(schema.fieldNames())
            extra: list[T.StructField] = []
            for cur, aliases in renames.items():
                for a in aliases:
                    if a not in taken:
                        extra.append(T.StructField(a, by_name[cur].dataType, True))
                        taken.add(a)
            if with_row_ids:
                extra.append(T.StructField(ROW_ID_COL, T.LongType(), True))
            df = self.spark.read.schema(T.StructType(schema.fields + extra)).parquet(*paths)
            if need_meta:
                df = self._attach_mor_meta(df, files)
            df = df.select(
                *[
                    F.coalesce(F.col(f.name), *[F.col(a) for a in renames[f.name]]).alias(f.name)
                    if f.name in renames
                    else F.col(f.name)
                    for f in schema.fields
                ],
                *([ROW_ID_COL] if with_row_ids else []),
                *(["_mor_file", "_mor_pos", "_mor_seq", "_mor_frid"] if need_meta else []),
            )
        elif paths:
            req = schema
            if with_row_ids:
                req = T.StructType(schema.fields + [T.StructField(ROW_ID_COL, T.LongType(), True)])
            df = self.spark.read.schema(req).parquet(*paths)
            if need_meta:
                df = self._attach_mor_meta(df, files)
        else:
            df = self.spark.createDataFrame([], schema)
            if with_row_ids:
                df = df.select("*", F.lit(None).cast("long").alias(ROW_ID_COL))
            if need_meta:
                df = df.select(
                    "*",
                    F.lit(None).cast("string").alias("_mor_file"),
                    F.lit(None).cast("long").alias("_mor_pos"),
                    F.lit(None).cast("long").alias("_mor_seq"),
                    F.lit(None).cast("long").alias("_mor_frid"),
                )
        if need_meta:
            if with_row_ids:
                # a rewrite-materialized id wins; otherwise manifest
                # first_row_id + row position (NULL for pre-lineage files)
                df = df.withColumn(
                    ROW_ID_COL,
                    F.coalesce(F.col(ROW_ID_COL), F.col("_mor_frid") + F.col("_mor_pos")),
                )
            for c, d in defaults.items():
                # rows from files written BEFORE the column existed read the
                # initial default; post-add rows (incl. explicit NULLs) read
                # their stored value. Unmapped files (NULL _mor_seq — the
                # defensive never-happens branch of _attach_mor_meta) fall
                # through to the stored value. Applied BEFORE delete files so
                # an equality delete on a defaulted column matches the
                # EFFECTIVE value (a stored-NULL pre-add row with default
                # 'web' is deleted by delete_eq_mor('tier', 'web')).
                df = df.withColumn(
                    c,
                    F.when(
                        (F.col("_mor_seq") < F.lit(int(d["seq"])))
                        & F.col(c).isNull(),
                        F.lit(d["value"]).cast(d["type"]),
                    ).otherwise(F.col(c)),
                )
            df = self._apply_delete_files(df, snap)
            df = df.drop("_mor_seq", "_mor_frid")
            if not keep_meta:
                df = df.drop("_mor_file", "_mor_pos")
        if not with_internal:
            df = df.drop(*[c for c in INTERNAL_COLS if c in df.columns])
        return df

    def _attach_mor_meta(self, df: DataFrame, files: list[dict]) -> DataFrame:
        """Attach the row identity MoR deletes key on: ``_mor_file`` (the
        file's MANIFEST-RELATIVE path — stable across table relocation,
        and unique where basenames are not: one staged multicast write
        reuses the same task-uuid part name across every ``_b=``/destination
        partition directory) plus ``_mor_pos`` (row index) and ``_mor_seq``
        (the file's data sequence number, for the equality-delete rule).

        The scan's ``_metadata.file_path`` is an absolute URI, so the rel
        path comes from ONE broadcast map join (manifest-sized — bounded by
        compaction, and only built when delete files exist). Driver-side
        keys register every plausible spelling of each path (raw join,
        normpath, realpath) so the join never depends on how the scanner
        canonicalizes; a row that still misses the map gets NULL
        ``_mor_seq``/``_mor_file``, which every delete predicate treats as
        "spared" — a mapping bug under-deletes, never over-deletes."""
        rows: list[tuple] = []
        seen: set[str] = set()
        for f in files:
            raw = os.path.join(self.path, f["path"])
            seq = int(f.get("seq", 0))
            frid = f.get("first_row_id")
            for key in {raw, os.path.normpath(raw), os.path.abspath(raw), os.path.realpath(raw)}:
                if key in seen:
                    continue
                seen.add(key)
                rows.append((key, f["path"], seq, frid))
        m = self.spark.createDataFrame(
            rows,
            T.StructType(
                [
                    T.StructField("_mor_abs", T.StringType()),
                    T.StructField("_mor_file", T.StringType()),
                    T.StructField("_mor_seq", T.LongType()),
                    T.StructField("_mor_frid", T.LongType()),
                ]
            ),
        )
        df = df.select(
            "*",
            F.regexp_replace(
                F.col("_metadata.file_path"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+", "/"
            ).alias("_mor_abs"),
            F.col("_metadata.row_index").alias("_mor_pos"),
        )
        return df.join(F.broadcast(m), "_mor_abs", "left").drop("_mor_abs")

    def _apply_delete_files(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        """Anti-join the snapshot's merge-on-read delete files out of a scan
        carrying ``_mor_file``/``_mor_pos``/``_mor_seq`` row identity.

        Position deletes name (manifest-relative file path, row index) —
        they apply to exactly the files they were written against;
        rewritten files get new uuid'd paths, so stale entries match
        nothing. Equality deletes carry value tuples plus the commit
        sequence they landed at, and apply only to data files with a
        SMALLER seq (Iceberg v2 sequence-number rule): rows appended after
        the delete are never affected; a NULL ``_mor_seq`` (row identity
        failed to map) is spared, so identity bugs under-delete rather than
        over-delete. Both sides broadcast (delete sets are small by
        construction — compaction materializes them before they grow); the
        scan itself stays one pass, no shuffle."""
        dels = snap.delete_files
        if not dels:
            return df
        pos_files = [d for d in dels if d["kind"] == "posdel" and d.get("rows", 0) > 0]
        if pos_files:
            p = self.spark.read.parquet(
                *[os.path.join(self.path, d["path"]) for d in pos_files]
            ).select(F.col("file").alias("_pd_file"), F.col("pos").alias("_pd_pos"))
            df = df.join(
                F.broadcast(p),
                (F.col("_mor_file") == F.col("_pd_file"))
                & (F.col("_mor_pos") == F.col("_pd_pos")),
                "left_anti",
            )
        eq_files = [d for d in dels if d["kind"] == "eqdel" and d.get("rows", 0) > 0]
        if eq_files:
            by_name = {f.name: f for f in snap.schema().fields}
            groups: dict[tuple, list[dict]] = {}
            for d in eq_files:
                groups.setdefault(tuple(d["cols"]), []).append(d)
            for cols, grp in groups.items():
                parts = []
                for d in grp:
                    one = self.spark.read.parquet(os.path.join(self.path, d["path"]))
                    parts.append(
                        one.select(
                            *[
                                F.col(c).cast(by_name[c].dataType).alias(f"_ed_{c}")
                                for c in cols
                            ],
                            F.lit(int(d.get("seq", 0))).alias("_ed_seq"),
                        )
                    )
                dele = parts[0]
                for p2 in parts[1:]:
                    dele = dele.unionByName(p2)
                # NULL _mor_seq (unmapped identity) makes the comparison
                # NULL -> the anti-join KEEPS the row: under-delete, never
                # over-delete, on any identity-mapping failure
                cond = F.col("_mor_seq") < F.col("_ed_seq")
                for c in cols:
                    cond = cond & F.col(c).eqNullSafe(F.col(f"_ed_{c}"))
                df = df.join(F.broadcast(dele), cond, "left_anti")
        return df

    # Steady-state reads resolve deltas against the base WITHOUT shuffling
    # the base side, as long as the manifest says the deltas are small enough
    # to broadcast their key set. Above this bound (or when the table is all
    # deltas), fall back to the full window. Tune per deployment; the rows
    # come from parquet footers already recorded in the manifest, so the
    # decision costs zero IO.
    RESOLVE_BROADCAST_MAX_DELTA_ROWS = 4_000_000

    def read(
        self,
        buckets: list[int] | None = None,
        with_internal: bool = False,
        version: int | None = None,
        ts_filter: tuple | None = None,
        range_filter: tuple | None = None,
        include_tombstones: bool = False,
        bloom_eq: tuple | None = None,
        part_eq: tuple | None = None,
        part_range: tuple | None = None,
        as_of=None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Current resolved state.

        Pushed predicates: each keyword below becomes one predicate; a file
        is opened only if ``_file_may_match`` finds that it may hold a row
        satisfying ALL of them, and ``_row_filter`` then applies their exact
        conjunction, so pruning only ever removes provably-disjoint files.
        - ``buckets=[b, ...]`` -> ``bucket``; pruned by each file's
          ``bucket`` field (-1, an unbucketed file, is always kept). The one
          predicate keyed tables accept.
        - ``part_eq=(col, v)`` -> ``eq``; ``part_range=(col, lo, hi)`` ->
          ``range`` (inclusive, None = open end).
        - ``bloom_eq=(col, v)`` -> ``eq``; ``col`` must carry a Bloom index
          and ``v`` must not be NULL (NULLs are never indexed).
        - ``ts_filter=(col, lo, hi)`` and ``range_filter=(col, lo, hi)`` ->
          ``range``.
        Every ``eq``/``range`` is pruned by all the evidence a manifest
        entry carries: hidden-partition values through the file's own spec,
        ``col_stats`` min/max (``ts_stats`` for timestamp columns), and, for
        ``eq``, the Bloom bitmap. Value predicates need an append-only
        table: value-pruning a keyed table's deltas could drop a key's
        winning revision.

        ``with_row_ids=True`` (append-only tables) adds ``_row_id`` — the
        Iceberg-v3-style row-lineage id, stable across rewrites: implicit
        (manifest first_row_id + row position) for as-written files,
        materialized into the file by any rewrite (compaction, CoW delete,
        MoR update images keep their ids).

        Merge-on-read resolution picks its physical plan from manifest stats:
        the naive shape windows over base ∪ deltas — a full shuffle of the
        TABLE whenever one delta file exists, the classic MOR read tax. But
        base files hold exactly ONE row per key (compact/rebucket write
        resolved output), so only the deltas need the window: resolve the
        deltas alone (tiny shuffle), broadcast the winners, and fold them
        into ONE pass over the base scan with a per-column CASE (base row
        wins iff it orders after the delta winner; exact (warc_ts, lsn) ties
        go to base — within the window path such ties are
        nondeterministic). Keys the base has never seen come from one extra
        key-column-only scan (columnar, dictionary-encoded — a tiny fraction
        of full-row bytes). Read cost: O(scan) + O(delta shuffle), never an
        O(table) shuffle — and unlike a semi/anti split, never a second
        full-column pass over the base either (that variant measured only
        1.11x over the window on tmpfs because the extra scan ate the
        shuffle saving)."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.as_of_version(as_of)
        snap = self.snapshot(version)
        if with_row_ids and snap.key is not None:
            raise ValueError(
                "row lineage is for append-only tables; a keyed table's "
                "stable row identity is its merge key"
            )
        has_value_preds = any(
            p is not None for p in (part_eq, part_range, bloom_eq, ts_filter, range_filter)
        )
        if snap.key is not None and has_value_preds:
            raise ValueError(
                "part_eq/part_range/bloom_eq/ts_filter/range_filter require "
                "an append-only (unkeyed) table; keyed tables prune by bucket"
            )
        preds: list[tuple] = []
        if buckets is not None:
            preds.append(("bucket", tuple(buckets)))
        if part_eq is not None:
            preds.append(("eq", *part_eq))
        if bloom_eq is not None:
            col, value = bloom_eq
            bloom_cols = self._props().get("bloom_cols", [])
            if col not in bloom_cols:
                raise ValueError(
                    f"column {col!r} has no bloom index on this table "
                    f"(bloom_cols={bloom_cols})"
                )
            if value is None:
                raise ValueError("bloom_eq cannot probe NULL (never indexed)")
            preds.append(("eq", col, value))
        for rng in (part_range, ts_filter, range_filter):
            if rng is not None:
                preds.append(("range", *rng))
        files = snap.files
        if preds:
            ev = self._evidence(snap)
            files = [f for f in files if self._file_may_match(f, preds, **ev)]
        base_files = [f for f in files if f["kind"] == "base"]
        delta_files = [f for f in files if f["kind"] == "delta"]
        delta_rows = sum(f.get("rows", 0) for f in delta_files)
        if snap.key is None or not delta_files:
            df = self._read_files(snap, files, with_internal=True, with_row_ids=with_row_ids)
            if has_value_preds:
                df = df.filter(self._row_filter(preds))
        elif base_files and delta_rows <= self.RESOLVE_BROADCAST_MAX_DELTA_ROWS:
            base = self._read_files(snap, base_files, with_internal=True)
            delta = self._read_files(snap, delta_files, with_internal=True)
            k = snap.key
            # one winner per delta key, small; localCheckpoint(eager=False)
            # shares the single computation between the broadcast build side
            # and the fresh-keys anti probe (read() stays lazy)
            dwin = self._resolve(delta, k).localCheckpoint(eager=False)
            d = F.broadcast(
                dwin.select(*[F.col(c).alias(f"_d_{c}") for c in dwin.columns])
            )
            j = base.join(d, F.col(k) == F.col(f"_d_{k}"), "left_outer")
            # NULL warc_ts must lose exactly as in the window path (desc
            # NULLS LAST): coalesce to the minimal timestamp on BOTH sides,
            # or a NULL comparison would silently hand the win to the delta
            floor_ts = F.lit("0001-01-01 00:00:00").cast("timestamp")
            b_ts = F.coalesce(F.col("warc_ts"), floor_ts)
            d_ts = F.coalesce(F.col("_d_warc_ts"), floor_ts)
            base_wins = F.col(f"_d_{k}").isNull() | (
                (b_ts > d_ts)
                | (
                    (b_ts == d_ts)
                    & (
                        F.coalesce(F.col(LSN_COL), F.lit(0))
                        >= F.coalesce(F.col(f"_d_{LSN_COL}"), F.lit(0))
                    )
                )
            )
            merged = j.select(
                *[
                    F.when(base_wins, F.col(c)).otherwise(F.col(f"_d_{c}")).alias(c)
                    for c in base.columns
                ]
            )
            fresh = dwin.join(base.select(k), k, "left_anti")  # key-only scan
            df = merged.unionByName(fresh)
        else:
            df = self._resolve(
                self._read_files(snap, files, with_internal=True), snap.key
            )
        if snap.key is not None and not include_tombstones:
            # include_tombstones=True yields the resolved state WITH each
            # dead key's winning tombstone — the deletion-vector-carrying
            # snapshot a bootstrap handoff needs when the tail it precedes
            # is not an ordinal-ordered suffix (operators/bootstrap.py).
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        if not with_internal:
            df = df.drop(*[c for c in INTERNAL_COLS if c in df.columns])
        return df

    @staticmethod
    def _resolve(df: DataFrame, key: str) -> DataFrame:
        """Merge-on-read: last writer per key wins by (warc_ts, lsn).

        The CDC ordering is (event time, log sequence) — SURVEY.md §2.6 A-dedup,
        mirroring the reference's ordered chunk commit (RouteIngestedFile.kt:543-545)
        and HL7 `sequencer` (HL7Message.kt:25).
        """
        from pyspark.sql import Window as W

        w = W.partitionBy(key).orderBy(F.desc("warc_ts"), F.desc(LSN_COL))
        return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

    # -------------------------------------------------------------- writing
    def _bucket_expr(self, snap: Snapshot):
        return F.pmod(F.xxhash64(F.col(snap.key)), F.lit(snap.n_buckets)).cast("int")

    @staticmethod
    def _zorder_expr(ranges: list[tuple[str, float, float]], bits: int = 16):
        """Morton z-value over numeric/timestamp columns: each column is
        min-max normalized to ``bits`` bits (ranges come from one tiny agg),
        then the bit planes are interleaved so proximity in ANY dimension
        maps to proximity in the sort order. Pure JVM shift/mask expressions
        (whole-stage codegen), no UDF — the Delta OPTIMIZE ZORDER analog."""
        n = len(ranges)
        z = F.lit(0).cast("long")
        for ci, (name, lo, hi) in enumerate(ranges):
            span = (hi - lo) or 1.0
            norm = (
                ((F.col(name).cast("double") - F.lit(float(lo))) / F.lit(float(span)))
                * F.lit(float((1 << bits) - 1))
            ).cast("long")
            norm = F.greatest(F.lit(0), F.least(norm, F.lit((1 << bits) - 1)))
            for i in range(bits):
                z = z + F.shiftleft(F.shiftright(norm, i).bitwiseAND(F.lit(1)), i * n + ci)
        return z

    @staticmethod
    def _footer_column_stats(md, fields, key) -> dict:
        """Manifest column statistics from ONE parquet footer (no data
        IO): timestamp/numeric/string min-max ranges, NULL-presence
        markers and the merge-key range. Shared by the staged-write
        path (`_stage_files`) and metadata-only import (`add_files`)
        so imported files prune exactly like native ones."""
        extra: dict = {}
        # timestamp-column ranges from the same footer walk: Iceberg
        # column-stats analog that lets time-scoped reads of
        # append-only tables prune files from the manifest alone
        ts_cols = {
            f.name for f in fields
            if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
        }
        if ts_cols:
            ts_stats: dict[str, list[str]] = {}
            incomplete: set[str] = set()
            ts_nulls: set[str] = set()
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name not in ts_cols:
                        continue
                    s = col.statistics
                    if s is not None and (s.null_count or 0) > 0:
                        # NULL presence marker (see expire_data):
                        # tracked even for incomplete-stats columns
                        ts_nulls.add(name)
                    if name in incomplete:
                        continue
                    if s is None or not s.has_min_max:
                        # a stats-less row group poisons the column:
                        # its range is unknown, so never prune on it
                        incomplete.add(name)
                        ts_stats.pop(name, None)
                        if s is None:
                            # unknown null count => assume present
                            ts_nulls.add(name)
                        continue
                    lo, hi = s.min.isoformat(), s.max.isoformat()
                    cur = ts_stats.get(name)
                    ts_stats[name] = (
                        [lo, hi] if cur is None
                        else [min(cur[0], lo), max(cur[1], hi)]
                    )
            if ts_stats:
                extra["ts_stats"] = ts_stats
            if ts_nulls:
                extra["ts_nulls"] = sorted(ts_nulls)
        # numeric- and string-column ranges from the SAME footer walk
        # (no extra IO): generalizes ts_stats to int/long/float/
        # double/date AND utf8 strings, so range_filter reads,
        # delete_eq/delete_range pruning and MoR-delete compaction
        # prune files on ANY such predicate — the Iceberg
        # column-stats analog. String chunk stats are valid BOUNDS
        # whenever present (parquet writers either keep exact
        # min/max, omit oversized ones → has_min_max False → no
        # pruning, or truncate bound-preservingly à la
        # BinaryTruncator); long merged bounds are re-truncated
        # below so a url/text column can't bloat the manifest.
        # Binary columns stay excluded (html bytes: no meaningful
        # range, no JSON encoding).
        num_cols = {
            f.name
            for f in fields
            if isinstance(
                f.dataType,
                (
                    T.IntegerType,
                    T.LongType,
                    T.FloatType,
                    T.DoubleType,
                    T.DateType,
                    T.StringType,
                ),
            )
            and f.name not in INTERNAL_COLS
            and f.name not in (BUCKET_COL, ROW_ID_COL)
        }
        if num_cols:
            col_stats: dict[str, list] = {}
            n_incomplete: set[str] = set()
            col_nulls: set[str] = set()
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name not in num_cols:
                        continue
                    s = col.statistics
                    if s is not None and (s.null_count or 0) > 0:
                        col_nulls.add(name)
                    if name in n_incomplete:
                        continue
                    if s is None or not s.has_min_max:
                        n_incomplete.add(name)
                        col_stats.pop(name, None)
                        if s is None:
                            col_nulls.add(name)
                        continue
                    lo, hi = s.min, s.max
                    if hasattr(lo, "isoformat"):
                        lo, hi = lo.isoformat(), hi.isoformat()
                    if isinstance(lo, bytes) or isinstance(hi, bytes):
                        # un-annotated byte-array stats: order is not
                        # comparable to str probes — never record
                        n_incomplete.add(name)
                        col_stats.pop(name, None)
                        continue
                    cur = col_stats.get(name)
                    col_stats[name] = (
                        [lo, hi] if cur is None
                        else [min(cur[0], lo), max(cur[1], hi)]
                    )
            for name in list(col_stats):
                lo, hi = col_stats[name]
                if isinstance(lo, str):
                    b = _bounded_str_range(lo, hi)
                    if b is None:
                        col_stats.pop(name)
                    else:
                        col_stats[name] = b
            if col_stats:
                extra["col_stats"] = col_stats
            if col_nulls:
                extra["col_nulls"] = sorted(col_nulls)
        # merge-key range from the footers: manifest-level file
        # pruning for point reads (Iceberg column-stats analog)
        if key is not None:
            kmin = kmax = None
            complete = True
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema != key:
                        continue
                    s = col.statistics
                    if s is None or not s.has_min_max:
                        complete = False
                        break
                    lo = s.min.decode("utf-8", "replace") if isinstance(s.min, bytes) else s.min
                    hi = s.max.decode("utf-8", "replace") if isinstance(s.max, bytes) else s.max
                    kmin = lo if kmin is None else min(kmin, lo)
                    kmax = hi if kmax is None else max(kmax, hi)
                if not complete:
                    break
            if complete and kmin is not None:
                extra["key_min"] = kmin
                extra["key_max"] = kmax
        return extra

    def _stage_files(
        self,
        df: DataFrame,
        snap: Snapshot,
        commit_version: int,
        bucketed: bool,
        sort_within: list | None = None,
        write_options: dict | None = None,
        n_files: int | None = None,
    ) -> list[dict]:
        """Write parquet to a per-commit staging dir; return manifest entries.

        Files land under data/commit-<v>-<uuid>/; a crash before the snapshot
        link leaves only orphans that no manifest references (Iceberg-style).
        ``sort_within`` overrides the intra-bucket clustering order (default:
        the merge key, tightening row-group min/max for point reads).
        """
        rel = os.path.join(_DATA_DIR, f"commit-{commit_version:08d}-{uuid.uuid4().hex[:8]}")
        out = os.path.join(self.path, rel)
        cur_spec: int | None = None
        if bucketed:
            # one write task per bucket => one file per bucket per commit.
            # (At 100 TB the policy generalizes: repartition(max(n_buckets,
            # batch_bytes/target_file_size), BUCKET_COL) — file count stays
            # proportional to data, never tasks x buckets.)
            df = df.repartition(snap.n_buckets, F.col(BUCKET_COL))
            order = sort_within if sort_within is not None else (
                [F.col(snap.key)] if snap.key else []
            )
            if order:
                df = df.sortWithinPartitions(F.col(BUCKET_COL), *order)
            # clustering-only helper columns (e.g. the z-value) are dropped
            # after the partition-local sort — projection preserves row order
            df = df.drop(*[c for c in df.columns if c.startswith("_cluster_")])
            writer = df.write.mode("overwrite").partitionBy(BUCKET_COL)
        else:
            pst = self._part_state()
            cur_spec = pst.get("current")
            if cur_spec is not None:  # noqa: PLR1702 — two write shapes
                # hidden partitioning (lake/partition.py): derive the
                # partition-value columns, cluster the batch so one partition
                # value lands in one file per commit, and let partitionBy
                # carry the values in the directory names (parsed back into
                # the manifest below). n_files is superseded: file count
                # follows the partition tuple, as it must for pruning.
                from data_exchange_routing_spark.lake import partition as _pt

                fields = pst["specs"][str(cur_spec)]
                df, pcols = _pt.partition_columns(fields, df)
                df = _pt.salted_repartition(df, pcols, int(pst.get("salt", 1)))
                if sort_within:
                    df = df.sortWithinPartitions(*sort_within)
                writer = df.write.mode("overwrite").partitionBy(*pcols)
            else:
                # control-plane appends (dead_letter / lineage) are tiny: 1
                # file; rewrite_files passes n_files to size compacted
                # unkeyed tables
                df = df.repartition(n_files or 1)
                if sort_within:
                    df = df.sortWithinPartitions(*sort_within)
                writer = df.write.mode("overwrite")
        if write_options:
            writer = writer.options(**write_options)
        writer.parquet(out)
        entries: list[dict] = []
        for root, _dirs, names in os.walk(out):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(root, name)
                bucket = -1
                marker = f"{BUCKET_COL}="
                for part in root.split(os.sep):
                    if part.startswith(marker):
                        bucket = int(part[len(marker):])
                part_values: dict | None = None
                if cur_spec is not None:
                    from data_exchange_routing_spark.lake import partition as _pt

                    part_values = _pt.parse_path_partition(
                        os.path.relpath(root, out).replace(os.sep, "/")
                    )
                import pyarrow.parquet as pq

                md = pq.ParquetFile(full).metadata
                entry = {
                    "path": os.path.relpath(full, self.path),
                    "bucket": bucket,
                    "kind": "delta",
                    "rows": md.num_rows,
                    "bytes": os.path.getsize(full),
                    # data sequence number (Iceberg v2): equality deletes
                    # apply only to files with seq < the delete's seq. Commit
                    # retry loops re-stamp with the version that actually
                    # lands; single-shot paths (compact/expire/CoW) commit at
                    # exactly this version or abort.
                    "seq": commit_version,
                }
                if ROW_ID_COL in df.columns:
                    # rewrite output: row-lineage ids are materialized IN the
                    # file; _write_snapshot must never stamp a fresh range
                    entry["row_ids"] = "file"
                if part_values:
                    entry["partition"] = part_values
                    entry["spec_id"] = cur_spec
                entry.update(self._footer_column_stats(md, df.schema.fields, snap.key))
                entries.append(entry)
        return entries

    @staticmethod
    def _widened_type(cur: T.DataType, new: T.DataType) -> T.DataType:
        """Safe type promotion (Iceberg v2 lattice subset): integral chain
        byte→short→int→long and float→double. Anything else — equal types,
        narrowing, or incompatible — keeps the table's type (the incoming
        batch is cast on align, exactly as before). Widening is read-safe
        without file rewrites: Spark's parquet reader upcasts INT32/FLOAT
        pages under a wider requested schema (verified on this runtime)."""
        order = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}
        ic, jc = order.get(type(cur)), order.get(type(new))
        if ic is not None and jc is not None and jc > ic:
            return new
        if isinstance(cur, T.FloatType) and isinstance(new, T.DoubleType):
            return new
        return cur

    def _dropped_cols(self) -> set[str]:
        if not os.path.isdir(self.meta_dir):
            return set()
        return {
            f[len("dropped-") : -len(".json")]
            for f in os.listdir(self.meta_dir)
            if f.startswith("dropped-") and f.endswith(".json")
        }

    def drop_column(self, name: str) -> dict:
        """Metadata-only DROP COLUMN: the column leaves the snapshot schema,
        so readers stop requesting it — old files keep the bytes, ignored
        (zero rewrites at any table size; Iceberg drop-column analog).

        Resurrection guard: this format maps parquet columns BY NAME (no
        Iceberg field ids), so re-adding a same-named column while any
        pre-drop file survives would silently resurrect the old values into
        the new column. A ``_meta/dropped-<name>.json`` marker therefore
        blocks the name from schema evolution until a FULL rewrite
        (``compact()`` on keyed tables / ``rewrite_files()`` on append-only)
        has physically purged the bytes, which clears the marker."""
        snap = self.snapshot()
        protected = {snap.key, "warc_ts", *INTERNAL_COLS}
        if name in protected:
            raise ValueError(f"cannot drop {name!r} (key/ordering/internal column)")
        if name not in snap.schema().fieldNames():
            raise ValueError(f"no column {name!r} on {self.path}")
        if any(
            name in d.get("cols", [])
            for d in snap.delete_files
            if d["kind"] == "eqdel"
        ):
            raise ValueError(
                f"column {name!r} is referenced by live equality-delete "
                "files; rewrite_files() to materialize the deletes first"
            )
        marker = os.path.join(self.meta_dir, f"dropped-{name}.json")
        _, new = self._commit_retry(
            lambda head: head.successor(
                schema_json=json.dumps(T.StructType(
                    [f for f in head.schema().fields if f.name != name]
                ).jsonValue()),
                summary={"operation": "drop-column", "column": name},
            ),
            "drop_column",
        )
        try:
            _atomic_write_json(marker, {"dropped_at_version": new.version})
        except FileExistsError:
            pass  # dropped before, re-added after a purge, dropped again
        # a renamed column's bytes live under its alias names too — every
        # one of them must be resurrection-guarded, and the alias map
        # itself is dead once the column is gone
        for alias in self._rename_markers().get(name, []):
            try:
                _atomic_write_json(
                    os.path.join(self.meta_dir, f"dropped-{alias}.json"),
                    {"dropped_at_version": new.version, "alias_of": name},
                )
            except FileExistsError:
                pass
        rm = os.path.join(self.meta_dir, f"renamed-{name}.json")
        if os.path.exists(rm):
            os.unlink(rm)
        self._move_default(name, None)
        return {"version": new.version, "column": name}

    def _move_default(self, old: str, new: str | None) -> None:
        """Rekey (rename) or remove (drop) a column's initial-default entry."""
        d = self._column_defaults()
        if old not in d:
            return
        entry = d.pop(old)
        if new is not None:
            d[new] = entry
        _atomic_replace_json(os.path.join(self.meta_dir, "defaults.json"), d)

    def _clear_drop_markers(self) -> None:
        """Called after a FULL rewrite: every surviving data file was written
        under the current (post-drop, post-rename) schema, so dropped names
        are safe to reuse and rename alias maps are obsolete. EXCEPT while
        branches exist: a branch's snapshots still reference pre-rewrite
        files (manifest refs are shared, never copied), so the old bytes —
        and the alias maps that make them readable — must survive until the
        branch is published or aborted."""
        if self.list_branches():
            return
        for name in self._dropped_cols():
            os.unlink(os.path.join(self.meta_dir, f"dropped-{name}.json"))
        for name in self._rename_markers():
            os.unlink(os.path.join(self.meta_dir, f"renamed-{name}.json"))

    # ------------------------------------------------- ADD COLUMN (default)

    def _column_defaults(self) -> dict:
        """{col: {"value": json, "type": ddl, "seq": added_version}} from
        ``_meta/defaults.json`` (single-writer DDL metadata, like partition
        specs)."""
        p = os.path.join(self.meta_dir, "defaults.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _active_defaults(self, snap: Snapshot, files: list[dict]) -> dict:
        """Defaults a scan of ``files`` must apply: a default is live only
        while some scanned file PREDATES the column (seq < added version).
        After compaction/rewrite materializes old rows, every live file's
        seq clears the bar and the read tax disappears; ``as_of`` reads of
        old versions still see pre-add files and re-activate it."""
        d = self._column_defaults()
        if not d or not files:
            return {}
        names = set(snap.schema().fieldNames())
        min_seq = min(int(f.get("seq", 0)) for f in files)
        return {c: v for c, v in d.items() if c in names and min_seq < v["seq"]}

    def add_column(self, name: str, dtype, default=None) -> dict:
        """Metadata-only ADD COLUMN with an optional INITIAL DEFAULT
        (Iceberg v3 default-value analog): rows written BEFORE the column
        existed read back ``default`` instead of NULL — zero rewrites at any
        table size — while rows written after (including explicit NULLs)
        read exactly what was written. The per-file data sequence number
        already carried for merge-on-read deletes (``_mor_seq``) decides
        which side of the add each row falls on, so application is one
        column expression, no extra scan or shuffle. A rewrite
        (compact/rewrite_files) materializes defaults into data; once no
        live file predates the add, reads skip the machinery entirely.

        Without ``default`` this is plain additive evolution, identical to
        committing a wider batch (old rows NULL). Resurrection-guarded like
        every schema change: a previously dropped name is refused until a
        full rewrite purges the old bytes."""
        snap = self.snapshot()
        dt = dtype if isinstance(dtype, T.DataType) else (
            T.StructType.fromDDL(f"`{name}` {dtype}").fields[0].dataType
        )
        if name in snap.schema().fieldNames():
            raise ValueError(f"column {name!r} already exists on {self.path}")
        protected = {snap.key, "warc_ts", *INTERNAL_COLS, BUCKET_COL, ROW_ID_COL}
        if name in protected:
            raise ValueError(f"cannot add reserved column name {name!r}")
        if name in self._dropped_cols() or any(
            name in aliases for aliases in self._rename_markers().values()
        ):
            raise ValueError(
                f"column name {name!r} was dropped/renamed-away and old files "
                "still hold its bytes; compact()/rewrite_files() first"
            )
        stored = default
        if default is not None:
            if hasattr(default, "isoformat"):
                stored = default.isoformat()
            elif not isinstance(default, (str, int, float, bool)):
                raise ValueError(
                    f"default must be a scalar literal, got {type(default)}"
                )
            # fail fast on an uncastable default (e.g. 'abc' as long);
            # try_cast so ANSI mode reports None instead of throwing
            probe = self.spark.range(1).select(
                F.lit(stored).try_cast(dt).alias("d")
            ).collect()[0]["d"]
            if probe is None:
                raise ValueError(f"default {default!r} does not cast to {dt.simpleString()}")
        _, new = self._commit_retry(
            lambda head: head.successor(
                schema_json=json.dumps(T.StructType(
                    head.schema().fields + [T.StructField(name, dt, True)]
                ).jsonValue()),
                summary={
                    "operation": "add-column",
                    "column": name,
                    "type": dt.simpleString(),
                    "default": stored,
                },
            ),
            "commit",
        )
        if default is not None:
            d = self._column_defaults()
            d[name] = {"value": stored, "type": dt.simpleString(), "seq": new.version}
            _atomic_replace_json(os.path.join(self.meta_dir, "defaults.json"), d)
        return {"version": new.version, "column": name, "default": stored}

    # ------------------------------------------------------ RENAME COLUMN

    def _rename_markers(self) -> dict[str, list[str]]:
        """{current_name: [prior names, newest first]} from
        ``_meta/renamed-<current>.json`` markers (table-level, shared with
        branches exactly like dropped-column markers)."""
        if not os.path.isdir(self.meta_dir):
            return {}
        out: dict[str, list[str]] = {}
        for f in os.listdir(self.meta_dir):
            if f.startswith("renamed-") and f.endswith(".json"):
                with open(os.path.join(self.meta_dir, f)) as fh:
                    out[f[len("renamed-") : -len(".json")]] = json.load(fh)["aliases"]
        return out

    def _live_renames(self, snap: Snapshot) -> dict[str, list[str]]:
        """Markers whose current name exists in THIS snapshot's schema —
        time travel to a pre-rename version sees the old name in its schema
        and the marker goes inert (the old name reads directly)."""
        names = set(snap.schema().fieldNames())
        return {c: a for c, a in self._rename_markers().items() if c in names}

    # ------------------------------------------------------ CHECK constraints

    def _constraints(self) -> dict[str, str]:
        """{name: spark-SQL predicate} from ``_meta/constraint-<name>.json``
        markers (table-level, shared with branches like drop/rename
        markers)."""
        if not os.path.isdir(self.meta_dir):
            return {}
        out: dict[str, str] = {}
        for f in os.listdir(self.meta_dir):
            if f.startswith("constraint-") and f.endswith(".json"):
                with open(os.path.join(self.meta_dir, f)) as fh:
                    out[f[len("constraint-") : -len(".json")]] = json.load(fh)["expr"]
        return out

    def add_constraint(self, name: str, expr: str, validate: bool = True) -> dict:
        """Write-time CHECK constraint (Delta ``ADD CONSTRAINT`` analog):
        every subsequent commit's rows must satisfy ``expr`` (a Spark SQL
        predicate) or the whole commit aborts loudly BEFORE staging — bad
        data never reaches the table, the quality contract a lake enforces
        at the storage layer rather than in every writer.

        SQL CHECK semantics: NULL (unknown) passes — express non-nullness
        explicitly (``col IS NOT NULL``). Tombstone rows are exempt (their
        content columns are NULL by construction, and a delete must never be
        blocked by a content rule). ``validate=True`` scans the CURRENT
        resolved state first so a constraint can never be added to a table
        already violating it."""
        if not name.replace("_", "").replace("-", "").isalnum():
            raise ValueError(f"invalid constraint name {name!r}")
        # parse AND analyze now, not at first write: resolving the predicate
        # against an empty frame of the table schema catches syntax errors
        # and unknown columns without running a job
        self.spark.createDataFrame([], self.snapshot().schema()).filter(F.expr(expr)).schema
        if validate and self.snapshot().files:
            bad = self.read().filter(F.expr(expr) == False).limit(1).collect()  # noqa: E712
            if bad:
                raise ValueError(
                    f"existing rows violate constraint {name!r} ({expr}); "
                    f"first violation: {bad[0].asDict()}"
                )
        try:
            _atomic_write_json(
                os.path.join(self.meta_dir, f"constraint-{name}.json"), {"expr": expr}
            )
        except FileExistsError:
            raise ValueError(f"constraint {name!r} already exists on {self.path}")
        return {"name": name, "expr": expr}

    def drop_constraint(self, name: str) -> dict:
        p = os.path.join(self.meta_dir, f"constraint-{name}.json")
        if not os.path.exists(p):
            raise ValueError(f"no constraint {name!r} on {self.path}")
        os.unlink(p)
        return {"name": name}

    def _enforce_constraints(self, df: DataFrame) -> None:
        """Abort the commit if any non-tombstone incoming row definitively
        violates a constraint (predicate IS FALSE; NULL passes, per SQL
        CHECK). One early-exit limit(1) probe per constraint over the batch
        — short-circuits at the first violation; tables without constraints
        pay nothing."""
        cons = self._constraints()
        if not cons:
            return
        live = df
        if DELETED_COL in df.columns:
            live = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        for name, expr in cons.items():
            bad = live.filter(F.expr(expr) == False).limit(1).collect()  # noqa: E712
            if bad:
                raise ValueError(
                    f"constraint {name!r} violated ({expr}); commit aborted; "
                    f"first violation: { {k: v for k, v in bad[0].asDict().items() if not k.startswith('_')} }"
                )

    def rename_column(self, old: str, new: str) -> dict:
        """Metadata-only RENAME COLUMN (Iceberg rename analog for a
        name-mapped format): the snapshot schema carries the new name, and a
        ``_meta/renamed-<new>.json`` alias marker teaches every read path to
        coalesce the old files' bytes (stored under the old name) into the
        new column — zero rewrites at any table size. Renames chain: a→b→c
        folds into one marker (c: [b, a]).

        Refused: the key / ordering / internal columns (their names are
        load-bearing across merge/resolve), bloom-indexed columns (per-file
        bitmap entries are name-keyed), renaming onto a dropped or aliased
        name (old bytes under the target name would resurrect into the new
        column), and renaming onto an existing column. A FULL
        compact()/rewrite_files() purges old-name bytes and clears markers —
        unless branches still reference pre-rewrite files (see
        ``_clear_drop_markers``). ``bucket_join`` (executor-side pyarrow
        reads) refuses tables with live renames rather than silently nulling
        pre-rename files."""
        snap = self.snapshot()
        protected = {snap.key, "warc_ts", *INTERNAL_COLS, BUCKET_COL}
        if old in protected or new in protected:
            raise ValueError(f"cannot rename {old!r} -> {new!r} (key/ordering/internal name)")
        fields = snap.schema().fieldNames()
        if old not in fields:
            raise ValueError(f"no column {old!r} on {self.path}")
        if new in fields:
            raise ValueError(f"column {new!r} already exists on {self.path}")
        if new in self._dropped_cols():
            raise ValueError(
                f"{new!r} was dropped and its bytes still exist in old files "
                "(name-mapped rename would resurrect stale values); run a "
                "full compact()/rewrite_files() first"
            )
        markers = self._rename_markers()
        live_alias_names = {a for als in markers.values() for a in als}
        if new in live_alias_names or new in markers:
            raise ValueError(
                f"{new!r} appears in a rename alias map (old files may still "
                "store bytes under it); run a full compact()/rewrite_files() first"
            )
        if old in self._props().get("bloom_cols", []):
            raise ValueError(
                f"{old!r} is bloom-indexed (per-file bitmaps are name-keyed); "
                "drop/rebuild the index or rewrite before renaming"
            )
        if any(
            old in d.get("cols", [])
            for d in snap.delete_files
            if d["kind"] == "eqdel"
        ):
            raise ValueError(
                f"column {old!r} is referenced by live equality-delete "
                "files (value sets are name-keyed); rewrite_files() to "
                "materialize the deletes first"
            )
        _, nxt = self._commit_retry(
            lambda head: head.successor(
                schema_json=json.dumps(T.StructType([
                    T.StructField(new, f.dataType, True) if f.name == old else f
                    for f in head.schema().fields
                ]).jsonValue()),
                summary={"operation": "rename-column", "from": old, "to": new},
            ),
            "rename_column",
        )
        aliases = [old] + markers.get(old, [])
        _atomic_write_json(
            os.path.join(self.meta_dir, f"renamed-{new}.json"), {"aliases": aliases}
        )
        if old in markers:
            # chain fold: crash between the two ops leaves the old marker
            # behind, inert (its current-name is no longer in any live
            # schema) and GC'd by the next full-rewrite clear
            os.unlink(os.path.join(self.meta_dir, f"renamed-{old}.json"))
        self._move_default(old, new)
        return {"version": nxt.version, "from": old, "to": new, "aliases": aliases}

    def _evolved_schema(self, snap: Snapshot, incoming: T.StructType) -> str | None:
        """Schema evolution on commit: new nullable columns from the source
        are appended (reference is additive-only: SURVEY.md §1.3), and
        existing columns WIDEN along the safe promotion lattice
        (int→long, float→double) when the source sends a wider type —
        metadata-only, no data-file rewrite. Renames unsupported; removals
        via ``drop_column`` (re-adding a dropped name is refused until a
        full rewrite purges the old bytes)."""
        current = snap.schema()
        in_by_name = {f.name: f for f in incoming.fields}
        changed = False
        out_fields: list[T.StructField] = []
        for f in current.fields:
            nf = in_by_name.get(f.name)
            if nf is not None:
                wt = self._widened_type(f.dataType, nf.dataType)
                if wt != f.dataType:
                    changed = True
                    f = T.StructField(f.name, wt, True)
            out_fields.append(f)
        have = set(current.fieldNames())
        new_fields = [
            T.StructField(f.name, f.dataType, True)
            for f in incoming.fields
            if f.name not in have and f.name != BUCKET_COL
        ]
        if new_fields:
            names = {f.name for f in new_fields}
            dead = self._dropped_cols() & names
            if dead:
                raise ValueError(
                    f"column(s) {sorted(dead)} were dropped and their bytes "
                    "still exist in old files (name-mapped format would "
                    "resurrect stale values); run a full compact()/"
                    "rewrite_files() first"
                )
            aliased = {a for als in self._rename_markers().values() for a in als} & names
            if aliased:
                raise ValueError(
                    f"column(s) {sorted(aliased)} are rename aliases — old "
                    "files still store another column's bytes under these "
                    "names; run a full compact()/rewrite_files() first"
                )
        if not changed and not new_fields:
            return None
        return json.dumps(T.StructType(out_fields + new_fields).jsonValue())

    def _align(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        cols = []
        have = set(df.columns)
        for f in schema.fields:
            if f.name in have:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        if ROW_ID_COL in have:
            # rewrites carry row-lineage ids through to the staged files
            cols.append(F.col(ROW_ID_COL))
        return df.select(*cols)

    def committed_epochs(self, source: str = "default") -> set[int]:
        snap = self.snapshot()
        return snap.epochs(source)

    def commit_staged_files(
        self,
        entries: list[dict],
        delta_schema: T.StructType,
        epoch_id: int | None = None,
        source: str = "default",
        summary: dict | None = None,
        kind: str = "delta",
        epoch_monotonic: bool = False,
    ) -> dict:
        """Metadata-only commit of externally staged parquet files (paths may
        live in a shared warehouse staging area — manifest entries are paths,
        Iceberg-style, so one multicast Spark write can feed N tables).

        ``delta_schema`` drives additive evolution exactly like a DataFrame
        commit would. ``summary["operation"]`` names the commit in
        ``history()`` (default ``merge-staged``). No Spark job runs here.
        """
        for e in entries:
            e.setdefault("kind", kind)

        def build(head: Snapshot) -> Snapshot | None:
            if epoch_id is not None and head.epoch_committed(source, epoch_id):
                return None
            for e in entries:
                # exact data sequence = the version that lands; a row-id
                # stamp left by a lost attempt is stale on the new head
                e["seq"] = head.version + 1
                e.pop("first_row_id", None)
            committed = head.committed_epochs
            if epoch_id is not None:
                add = _enc_add_monotonic if epoch_monotonic else _enc_add
                committed = {**committed, source: add(committed.get(source, []), epoch_id)}
            return head.successor(
                schema_json=self._evolved_schema(head, delta_schema) or head.schema_json,
                tail=head.tail + entries,
                committed_epochs=committed,
                summary={"operation": "merge-staged", **(summary or {}), "epoch_id": epoch_id},
            )

        head, new = self._commit_retry(build, "commit")
        if new is None:
            return {"skipped": True, "epoch_id": epoch_id, "version": head.version}
        return {
            "skipped": False,
            "epoch_id": epoch_id,
            "version": new.version,
            "files_added": len(entries),
            "rows_added": sum(e.get("rows", 0) for e in entries),
        }

    def append(
        self,
        df: DataFrame,
        epoch_id: int | None = None,
        source: str = "default",
        summary: dict | None = None,
        epoch_monotonic: bool = False,
    ) -> dict:
        """Plain append (no merge key): dead_letter / lineage tables.
        ``epoch_monotonic=True`` for contiguous cursor-position epoch ids
        (change-feed to_versions) — high-watermark guard encoding instead
        of the per-id set (see merge_cdc)."""
        snap = self.snapshot()
        if snap.key is not None:
            raise ValueError(
                "append() on a keyed table would write unbucketed (-1) files "
                "that defeat bucket pruning; use merge_cdc() instead"
            )
        return self._commit(df, epoch_id, source, summary, is_cdc=False,
                            epoch_monotonic=epoch_monotonic)

    def append_rows(
        self,
        rows: list[tuple],
        schema: T.StructType,
        epoch_id: int | None = None,
        source: str = "default",
    ) -> dict:
        """Driver-side append for control-plane batches that are ALREADY
        driver-local (lineage rows come from parquet footer stats): one
        pyarrow parquet write + a metadata-only commit — zero Spark jobs.
        Shaves a full job-scheduling round trip off every epoch's serial
        floor; data-plane writes never use this path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.snapshot().key is not None:
            raise ValueError(
                "append_rows() on a keyed table would write unbucketed (-1) "
                "files that defeat bucket pruning; use merge_cdc() instead"
            )
        if self._part_state().get("current") is not None:
            raise ValueError(
                "append_rows() bypasses the partition layout; a table with "
                "an active partition spec must append through Spark writes "
                "(append()) so files carry their partition values"
            )

        if self._constraints() and rows:
            # constraints are Spark SQL predicates; evaluate them in the one
            # dialect they're written in (a tiny local job — this path's
            # zero-Spark-jobs contract holds for constraint-free tables,
            # which the control-plane tables are)
            self._enforce_constraints(self.spark.createDataFrame(rows, schema))

        arrow_schema = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType), True) for f in schema.fields]
        )
        cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
        rel = os.path.join(_DATA_DIR, f"drv-{uuid.uuid4().hex[:12]}.parquet")
        full = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(table, full)
        entry = {
            "path": rel,
            "bucket": -1,
            "kind": "delta",
            "rows": len(rows),
            "bytes": os.path.getsize(full),
        }
        # timestamp ranges in pure Python (rows are driver-local) — the same
        # manifest stats the Spark write path records from parquet footers,
        # so ts-pruned reads and metadata-only expire_data cover this path
        idx_ts = [
            (i, f.name)
            for i, f in enumerate(schema.fields)
            if isinstance(f.dataType, T.TimestampType)
        ]
        ts_stats = {}
        ts_nulls = []
        for i, name in idx_ts:
            vals = [row[i] for row in rows if row[i] is not None]
            if vals:
                # range of the non-null values: valid for ts_filter read
                # pruning (its exact predicate excludes NULLs anyway)
                ts_stats[name] = [min(vals).isoformat(), max(vals).isoformat()]
            if len(vals) != len(rows):
                # NULL presence marker: expire_data must NOT metadata-drop a
                # file whose NULL rows keep_nulls promised to keep
                ts_nulls.append(name)
        if ts_stats:
            entry["ts_stats"] = ts_stats
        if ts_nulls:
            entry["ts_nulls"] = ts_nulls
        props = self._props()
        bcols = [c for c in props.get("bloom_cols", []) if c in schema.fieldNames()]
        if bcols:
            # driver-local rows: build the bitmaps in pure Python with the
            # byte-identical hash twin — zero Spark jobs, same as the commit
            import base64

            import numpy as np

            from data_exchange_routing_spark.functions.novelty import _h1h2_py

            bits, hashes = props["bloom_bits"], props["bloom_hashes"]
            idx = {f.name: i for i, f in enumerate(schema.fields)}
            bloom = {}
            for c in bcols:
                bitmap = np.zeros(bits, dtype=bool)
                for row in rows:
                    v = row[idx[c]]
                    if v is None:
                        continue
                    h1, h2 = _h1h2_py(str(v))
                    for i in range(hashes):
                        bitmap[(h1 + i * h2) % bits] = True
                bloom[c] = base64.b64encode(np.packbits(bitmap).tobytes()).decode("ascii")
            entry["bloom"] = bloom
        return self.commit_staged_files([entry], schema, epoch_id=epoch_id, source=source)

    def add_files(
        self,
        paths: list[str],
        epoch_id: int | None = None,
        source: str = "import",
    ) -> dict:
        """Metadata-only import of existing parquet files — the Iceberg
        ``add_files`` / ``migrate`` procedure analog, and how a 100 TB
        already-on-disk corpus onboards into the lake: ZERO data rows are
        read or rewritten; cost is O(#files) footer reads on the driver.

        Each source file is hardlinked (same filesystem; falls back to a
        byte copy) into the table's data dir, so the table's
        expire/vacuum lifecycle stays self-contained and source files are
        never mutated or reclaimed. Files are registered in the manifest
        with full footer statistics (rows, bytes, timestamp/numeric/string
        min-max ranges, merge-key range) via the SAME stats walk as native
        commits, so imported files prune identically under range reads,
        ``delete_eq``/``delete_range`` and retention ``expire_data``;
        missing stats stay conservative (never pruned, rewritten on expiry).

        Append-only tables only: a keyed table's bucket layout is a
        physical clustering the pre-existing files don't have — import into
        a staging table and ``merge_cdc`` the rows across, or ``rebucket``.

        Schema: the union of the files' schemas (Spark ``mergeSchema``
        footer resolution — no data scan) must be additively compatible
        with the table; new columns evolve the schema, columns a file
        lacks read back as NULL, exactly like any evolved commit.

        Exactly-once: ``epoch_id`` + ``source`` ride the standard epoch
        guard — a redelivered import is a metadata no-op (the second
        link pass writes into a fresh uuid dir that commit_staged_files
        refuses, leaving only orphans that ``vacuum_orphans`` reclaims).

        Reference: fns-routing's route step copies blobs between storage
        accounts (RouteIngestedFile.kt:543-560); at lake scale the
        equivalent onboarding move is metadata registration, not a byte
        rewrite."""
        import shutil

        if not paths:
            return {"skipped": True, "reason": "no-files"}
        snap = self.snapshot()
        if snap.key is not None:
            raise ValueError(
                "add_files requires an append-only (unkeyed) table: keyed "
                "tables need the bucket clustering only a real write gives; "
                "import into a staging table and merge_cdc across"
            )
        if epoch_id is not None and snap.epoch_committed(source, epoch_id):
            return {"skipped": True, "epoch_id": epoch_id, "version": snap.version}
        merged = (
            self.spark.read.option("mergeSchema", "true").parquet(*paths).schema
        )
        reserved = set(INTERNAL_COLS) | {BUCKET_COL, ROW_ID_COL}
        bad = [f.name for f in merged.fields if f.name in reserved]
        if bad:
            raise ValueError(f"add_files: reserved column names in source files: {bad}")
        import pyarrow.parquet as pq

        pst = self._part_state()
        cur_spec = pst.get("current")
        spec_fields = pst["specs"][str(cur_spec)] if cur_spec is not None else None
        rel_dir = os.path.join(
            _DATA_DIR, f"import-{snap.version + 1:08d}-{uuid.uuid4().hex[:8]}"
        )
        out = os.path.join(self.path, rel_dir)
        os.makedirs(out, exist_ok=True)
        entries: list[dict] = []
        for i, src_path in enumerate(paths):
            dst = os.path.join(out, f"import-{i:05d}-{os.path.basename(src_path)}")
            try:
                os.link(src_path, dst)
            except OSError:  # cross-device: fall back to a byte copy
                shutil.copy2(src_path, dst)
            md = pq.ParquetFile(dst).metadata
            entry = {
                "path": os.path.relpath(dst, self.path),
                "bucket": -1,
                "kind": "delta",
                "rows": md.num_rows,
                "bytes": os.path.getsize(dst),
            }
            entry.update(self._footer_column_stats(md, merged.fields, snap.key))
            if cur_spec is not None:
                part = self._derive_import_partition(spec_fields, entry)
                if part is not None:
                    entry["partition"] = part
                    entry["spec_id"] = cur_spec
            entries.append(entry)
        res = self.commit_staged_files(
            entries,
            merged,
            epoch_id=epoch_id,
            source=source,
            summary={"files_imported": len(paths)},
        )
        return {**res, "files_imported": len(paths)}

    @staticmethod
    def _derive_import_partition(fields: list[dict], entry: dict) -> dict | None:
        """Partition tuple for an imported file, PROVEN from its footer
        stats alone — attached only when every spec field's transform is
        provably constant across the file (null-free column, bounds present,
        transform(min) == transform(max) via the exact Python write twins in
        lake/partition.py). A file that can't be proven gets NO partition
        metadata: reads keep it conservatively and overwrite_partitions
        rewrites rather than metadata-drops it — pruning may be missed,
        correctness never. Equal (possibly truncated) parquet string bounds
        pin the column to a single value (lower == upper bound), so equality
        checks on recorded bounds are sound even for truncated stats."""
        from datetime import datetime as _dt

        from data_exchange_routing_spark.lake import partition as _pt

        out: dict = {}
        for fld in fields:
            col, tf = fld["col"], fld["transform"]
            if tf in _pt._TIME_TRANSFORMS:
                rng = (entry.get("ts_stats") or {}).get(col)
                if rng is None or col in (entry.get("ts_nulls") or []):
                    return None
                lo = _pt._py_time(_dt.fromisoformat(rng[0]), tf)
                hi = _pt._py_time(_dt.fromisoformat(rng[1]), tf)
                if lo != hi:
                    return None
                out[fld["name"]] = lo
            else:
                rng = (entry.get("col_stats") or {}).get(col)
                if rng is None or col in (entry.get("col_nulls") or []):
                    return None
                lo, hi = rng
                # identity/bucket/truncate need an exactly-pinned value;
                # floats are excluded (string formatting of the write
                # expression is not reproducible from stats)
                if lo != hi or isinstance(lo, float):
                    return None
                out[fld["name"]] = _pt._py_value(fld, lo)
        return out

    def merge_cdc(
        self,
        df: DataFrame,
        epoch_id: int | None = None,
        source: str = "default",
        summary: dict | None = None,
        epoch_monotonic: bool = False,
    ) -> dict:
        """Apply a deduplicated CDC delta (one row per key, tombstones carry
        ``_deleted=true``). Requires columns: key, warc_ts, _lsn, _deleted.
        MERGE INTO analog: matched-newer -> update/delete, not-matched -> insert,
        realized lazily at read/compact time (merge-on-read).

        ``epoch_monotonic=True``: epoch ids are contiguous cursor positions
        (change-feed consumers); the guard stores only the high watermark."""
        snap = self.snapshot()
        if snap.key is None:
            raise ValueError("merge_cdc requires a table created with a merge key")
        return self._commit(df, epoch_id, source, summary, is_cdc=True,
                            epoch_monotonic=epoch_monotonic)

    def merge_into(
        self,
        source: DataFrame,
        *,
        when_matched_update: dict | str | None = None,
        matched_condition=None,
        when_matched_delete=False,
        when_not_matched_insert: bool = True,
        insert_condition=None,
        epoch_id: int | None = None,
        source_name: str = "merge_into",
        prune_buckets: bool = True,
    ) -> dict:
        """Generic MERGE INTO (Delta/Iceberg ``MERGE INTO t USING s ON
        t.key = s.key`` analog) realized merge-on-read: ONE delta commit,
        never a table rewrite.

        Clause semantics (conditions are Columns or SQL strings; reference the
        sides as ``s.<col>`` / ``t.<col>``); evaluated in Delta's order —
        matched+delete first, then matched+update, then not-matched+insert:

        - ``when_matched_update``: ``"all"`` (take every source column, target
          value kept for columns the source lacks) or ``{col: expr}`` where
          expr may combine both sides (e.g. ``"t.cnt + s.cnt"``); applied to
          matched rows passing ``matched_condition`` (default: all matched).
        - ``when_matched_delete``: bool or condition — matched rows passing it
          get tombstones (checked BEFORE update).
        - ``when_not_matched_insert`` (+ optional ``insert_condition``):
          source rows with no live target row become inserts; the source must
          carry ``warc_ts`` for them (the CDC ordering needs an event time).

        Scale shape: the target side is the bucket-pruned merge-on-read
        ``read()`` restricted to the buckets the source actually touches
        (one tiny key-hash distinct over the source, ≤ n_buckets rows), so a
        point-y merge against a 100 TB table scans only the matching buckets.
        The join shuffles at most O(source + touched buckets); new winners
        beat victims by ``_lsn = victim._lsn + 1`` (same LWW derivation as
        delete_where), so resolution stays order-safe under concurrent CDC
        traffic. Multi-match sources are the caller's contract (one row per
        key), exactly as Delta requires.

        Additive schema evolution falls out: ``when_matched_update="all"``
        with a source carrying new columns widens the table schema through
        the normal commit path.
        """
        snap = self.snapshot()
        if snap.key is None:
            raise ValueError("merge_into requires a keyed table")
        if epoch_id is not None and snap.epoch_committed(source_name, epoch_id):
            return {"skipped": True, "epoch_id": epoch_id, "version": snap.version}
        key = snap.key
        if when_matched_update is None and when_matched_delete is False and not when_not_matched_insert:
            raise ValueError("merge_into with no clauses is a no-op")

        def _cond(c, default: bool):
            if c is None:
                return F.lit(default)
            if isinstance(c, bool):
                return F.lit(c)
            return F.expr(c) if isinstance(c, str) else c

        if when_not_matched_insert and "warc_ts" not in source.columns:
            raise ValueError(
                "when_not_matched_insert requires the source to carry warc_ts "
                "(the CDC ordering needs an event time for fresh keys)"
            )
        buckets = None
        if prune_buckets:
            b_expr = F.pmod(F.xxhash64(F.col(key)), F.lit(snap.n_buckets)).cast("int")
            buckets = sorted(
                r[0] for r in source.select(b_expr.alias("_b")).distinct().collect()
            )
        state = self.read(buckets=buckets, with_internal=True)
        src_cols = set(source.columns)
        s = source.alias("s")
        t = state.alias("t")
        j = s.join(t, F.col(f"s.{key}") == F.col(f"t.{key}"), "left_outer")

        matched = F.col(f"t.{key}").isNotNull()
        del_c = matched & _cond(when_matched_delete, False)
        upd_c = matched & ~del_c & _cond(matched_condition, when_matched_update is not None)
        if when_matched_update is None:
            upd_c = F.lit(False)
        ins_c = ~matched & _cond(insert_condition, True) if when_not_matched_insert else F.lit(False)
        action = (
            F.when(del_c, F.lit("D")).when(upd_c, F.lit("U")).when(ins_c, F.lit("I"))
        )

        schema = snap.schema()
        data_fields = [
            f for f in schema.fields if f.name not in (key, "warc_ts", LSN_COL, DELETED_COL)
        ]
        # extra source columns drive additive evolution on update-all
        extra = (
            sorted(src_cols - {f.name for f in schema.fields} - {key, "warc_ts"})
            if when_matched_update == "all"
            else []
        )

        def _upd_value(name: str):
            if when_matched_update == "all":
                return F.col(f"s.{name}") if name in src_cols else F.col(f"t.{name}")
            expr = (when_matched_update or {}).get(name)
            if expr is None:
                return F.col(f"t.{name}")
            return F.expr(expr) if isinstance(expr, str) else expr

        def _ins_value(name: str, dt):
            return F.col(f"s.{name}") if name in src_cols else F.lit(None).cast(dt)

        s_ts = F.col("s.warc_ts") if "warc_ts" in src_cols else F.lit(None).cast("timestamp")
        out_cols = [
            F.col(f"s.{key}").alias(key),
            F.when(matched, F.greatest(F.coalesce(s_ts, F.col("t.warc_ts")), F.col("t.warc_ts")))
            .otherwise(s_ts)
            .alias("warc_ts"),
            (
                F.when(matched, F.coalesce(F.col(f"t.{LSN_COL}"), F.lit(0)) + F.lit(1))
                .otherwise(F.coalesce(
                    F.col(f"s.{LSN_COL}") if LSN_COL in src_cols else F.lit(None).cast("long"),
                    F.lit(1),
                ))
            ).alias(LSN_COL),
            (action == F.lit("D")).alias(DELETED_COL),
        ]
        for f_ in data_fields:
            out_cols.append(
                F.when(action == F.lit("U"), _upd_value(f_.name))
                .when(action == F.lit("I"), _ins_value(f_.name, f_.dataType))
                .otherwise(F.col(f"t.{f_.name}"))
                .alias(f_.name)
            )
        for name in extra:
            out_cols.append(
                F.when(action.isin("U", "I"), F.col(f"s.{name}"))
                .otherwise(F.lit(None))
                .alias(name)
            )
        delta = j.filter(action.isNotNull()).select(*out_cols)
        return self.merge_cdc(
            delta, epoch_id=epoch_id, source=source_name,
            summary={"operation": "merge-into"},
        )

    def _commit(self, df, epoch_id, source, summary, is_cdc: bool,
                epoch_monotonic: bool = False) -> dict:
        snap = self.snapshot()
        if epoch_id is not None and snap.epoch_committed(source, epoch_id):
            return {"skipped": True, "epoch_id": epoch_id, "version": snap.version}

        new_schema_json = self._evolved_schema(snap, df.schema)
        schema = T.StructType.fromJson(json.loads(new_schema_json)) if new_schema_json else snap.schema()
        bucketed = is_cdc and snap.key is not None
        out = self._align(df, schema)
        self._enforce_constraints(out)
        if bucketed:
            out = out.withColumn(BUCKET_COL, self._bucket_expr(snap))
        files = self._stage_files(out, snap, snap.version + 1, bucketed)
        if not bucketed:
            # opt-in bloom index: one extra pass over the batch whose shuffle
            # carries only distinct bit positions; attached to this commit's
            # manifest entries (one bitmap per commit per indexed column)
            bloom = self._bloom_entry(out)
            if bloom:
                for e in files:
                    e["bloom"] = bloom

        return self.commit_staged_files(
            files, df.schema, epoch_id=epoch_id, source=source,
            summary={**(summary or {}), "operation": "merge" if is_cdc else "append"},
            epoch_monotonic=epoch_monotonic,
        )

    # ----------------------------------------------------------- compaction
    def added_delta_files(self, from_version: int, to_version: int | None = None) -> list[dict]:
        """Every delta file added by commits in (from_version, to_version],
        INCLUDING deltas a compaction inside the range has since folded away.

        Diffing only the two endpoint manifests would lose exactly those
        files (added at v+1, compacted at v+3 → absent from both endpoints),
        silently dropping changes for any consumer lagging behind a
        compaction — so this walks each intermediate snapshot. Cost is
        O(versions in range) driver-side manifest reads, no data IO. Raises
        ``ValueError`` when an intermediate snapshot has been expired: the
        feed is no longer reconstructible and the consumer must rebuild from
        a full read instead of silently skipping."""
        to_v = self.current_version() if to_version is None else to_version
        if from_version < 1:
            raise ValueError(
                f"from_version must be >= 1 (the create snapshot); got {from_version}"
            )
        try:
            seen = {f["path"] for f in self.snapshot(from_version).files}
            out: list[dict] = []
            for v in range(from_version + 1, to_v + 1):
                for f in self.snapshot(v).files:
                    # folded minor-compaction outputs are data, not changes:
                    # their rows were already emitted from the snapshots that
                    # carried the original delta files
                    if f["kind"] == "delta" and not f.get("folded") and f["path"] not in seen:
                        seen.add(f["path"])
                        out.append(f)
        except FileNotFoundError as e:
            raise ValueError(
                f"change feed ({from_version}, {to_v}] is not reconstructible: "
                f"an intermediate snapshot was expired ({e}); rebuild the "
                "consumer from a full table read"
            ) from e
        return out

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        with_internal: bool = False,
    ) -> DataFrame:
        """Incremental change feed (Iceberg incremental-scan analog): the raw
        delta rows added by commits in (from_version, to_version], with a
        ``_change_type`` column ('delete' for tombstones, 'upsert' otherwise).
        Downstream consumers tail the table by remembering the last version
        they processed — the engine's own CDC output surface.
        ``with_internal=True`` keeps (_lsn, _deleted) so a consumer can
        re-apply the changes into another keyed table with the source's
        exact last-writer ordering (lake/changefeed.py mirror).

        Cost is O(files added in the range) data IO plus O(versions in range)
        manifest reads (see ``added_delta_files`` for why each intermediate
        snapshot is consulted)."""
        to_snap = self.snapshot(to_version)
        added = self.added_delta_files(from_version, to_snap.version)
        df = self._read_files(to_snap, added, with_internal=True)
        deleted = (
            F.coalesce(F.col(DELETED_COL), F.lit(False))
            if DELETED_COL in df.columns
            else F.lit(False)
        )
        df = df.withColumn(
            "_change_type", F.when(deleted, F.lit("delete")).otherwise(F.lit("upsert"))
        )
        if with_internal:
            return df
        return df.drop(*[c for c in INTERNAL_COLS if c in df.columns])

    def rollback(self, version: int) -> dict:
        """Roll the table back to an earlier snapshot by committing a NEW
        snapshot with the old content (Iceberg rollback semantics — history
        is preserved, nothing is deleted; expire/vacuum reclaim later).
        The committed-epoch guard also rewinds, so replaying the undone
        epochs reconverges to the pre-rollback state."""
        target = self.snapshot(version)
        # derived from the HEAD, not the target: the row-id watermark must
        # never move backwards, or ids assigned since ``version`` repeat
        _, new = self._commit_retry(
            lambda head: head.successor(
                **_content_of(target),
                summary={"operation": "rollback", "to_version": version},
            ),
            "rollback",
        )
        return {"version": new.version, "rolled_back_to": version}

    # ---------------------------------------------------- WAP branches
    # Iceberg write-audit-publish: commits land on an isolated branch ref,
    # an audit reads the branch head, and only publish() moves main. Data
    # files are shared (manifest entries are paths); branch metadata is its
    # own snapshot series under a distinct filename prefix, so every commit /
    # read / resolve path works unchanged against the branch.

    def branch(self, name: str) -> "LakeTable":
        """View of an existing branch: same table dir, branch snapshot series."""
        if self._snap_prefix != "snapshot-":
            raise ValueError("branches fork from main, not from another branch")
        if not name.replace("_", "").isalnum():
            raise ValueError(f"invalid branch name {name!r}")
        b = LakeTable(self.spark, self.path)
        b._snap_prefix = f"branch-{name}-"
        return b

    def create_branch(self, name: str) -> "LakeTable":
        """Fork a branch at the current main head. The fork snapshot copies
        the head's manifest refs (segment files are REUSED, never copied), so
        forking is O(tail) metadata regardless of table size."""
        snap = self.snapshot()
        b = self.branch(name)
        if b.current_version() > 0:
            raise ValueError(f"branch {name!r} already exists")
        fork = replace(
            snap, summary={"operation": "wap-fork", "forked_at": snap.version}
        )
        b._write_snapshot(fork)
        return b

    def list_branches(self) -> list[str]:
        names = set()
        for f in os.listdir(self.meta_dir):
            if f.startswith("branch-") and f.endswith(".json"):
                stem = f[len("branch-") : -len(".json")]
                name, _, v = stem.rpartition("-")
                if name and v.isdigit():
                    names.add(name)
        return sorted(names)

    def _branch_fork_version(self, name: str) -> int:
        b = self.branch(name)
        p = b._snap_prefix
        versions = [
            int(f[len(p) : -len(".json")])
            for f in os.listdir(self.meta_dir)
            if f.startswith(p) and f.endswith(".json") and f[len(p) : -len(".json")].isdigit()
        ]
        if not versions:
            raise FileNotFoundError(f"no branch {name!r} on {self.path}")
        return min(versions)

    def publish_branch(self, name: str, rebase: bool = False) -> dict:
        """Move main to the audited branch head. Fast-forward when main has
        not advanced past the fork; otherwise ``rebase=True`` replays the
        branch's ADDED delta files (and epoch guards, per-source set union)
        onto the new main — additive branches only, the same optimistic loop
        as every other commit. The branch refs stay for audit history;
        ``abort_branch`` / ``expire_snapshots`` clean them up."""
        b = self.branch(name)
        head = b.snapshot()
        fork = b.snapshot(self._branch_fork_version(name))
        mode: dict = {}

        def build(cur: Snapshot) -> Snapshot:
            info = {"branch": name, "branch_head": head.version}
            if cur.version == fork.version:
                # main's own row-id watermark carries (see rollback)
                mode.update(mode="fast_forward")
                return cur.successor(
                    **_content_of(head), summary={"operation": "wap-publish", **info}
                )
            if not rebase:
                raise RuntimeError(
                    f"main advanced past fork (at v{cur.version}, forked v{fork.version}); "
                    "publish_branch(rebase=True) to replay the branch's additions"
                )
            if cur.n_buckets != head.n_buckets:
                raise RuntimeError("cannot rebase across a rebucket")
            fork_paths = {f["path"] for f in fork.files}
            head_files = head.files
            if not fork_paths <= {f["path"] for f in head_files}:
                raise RuntimeError(
                    "branch compacted/removed fork files; rebase supports "
                    "additive branches only — publish before compacting"
                )
            if {d["path"] for d in head.delete_files} != {d["path"] for d in fork.delete_files}:
                raise RuntimeError(
                    "branch changed MoR delete files; rebase supports "
                    "additive branches only — fast-forward publish, or "
                    "rewrite_files() on the branch to materialize first"
                )
            added = [f for f in head_files if f["path"] not in fork_paths]
            committed = dict(cur.committed_epochs)
            for srcn, enc in head.committed_epochs.items():
                committed[srcn] = _enc_epochs(
                    _dec_epochs(committed.get(srcn, [])) | _dec_epochs(enc)
                )
            mode.update(mode="rebase", files_added=len(added))
            return cur.successor(
                schema_json=self._evolved_schema(cur, head.schema()) or cur.schema_json,
                tail=cur.tail + added,
                committed_epochs=committed,
                summary={"operation": "wap-publish-rebase", **info},
            )

        _, new = self._commit_retry(build, "publish")
        return {"published": True, **mode, "version": new.version}

    def abort_branch(self, name: str) -> dict:
        """Drop the branch refs. Data files only the branch referenced become
        orphans; ``vacuum_orphans`` reclaims them."""
        p = f"branch-{name}-"
        removed = 0
        for f in os.listdir(self.meta_dir):
            if f.startswith(p) and f.endswith(".json") and f[len(p) : -len(".json")].isdigit():
                os.unlink(os.path.join(self.meta_dir, f))
                removed += 1
        return {"removed_refs": removed}

    def _resolved_state(self, snap, files, tombstone_watermark, watermark_safe: bool = True):
        """Shared rewrite prep for compact()/rebucket(): read the selected
        files, last-writer-resolve if any delta is present, and (when the
        caller says it is safe — see compact's stray -1-file guard) reclaim
        winning tombstones strictly below the delivery watermark."""
        resolved = self._read_files(snap, files, with_internal=True)
        if any(f["kind"] == "delta" for f in files):
            resolved = self._resolve(resolved, snap.key)
        if tombstone_watermark is not None and watermark_safe:
            w_ts, w_lsn = tombstone_watermark
            is_tomb = F.coalesce(F.col(DELETED_COL), F.lit(False))
            below = (F.col("warc_ts") < F.lit(w_ts)) | (
                (F.col("warc_ts") == F.lit(w_ts))
                & (F.coalesce(F.col(LSN_COL), F.lit(0)) < F.lit(w_lsn))
            )
            resolved = resolved.filter(~(is_tomb & below))
        return resolved

    def compact(
        self,
        buckets: list[int] | None = None,
        cluster_by: list[str] | None = None,
        write_options: dict | None = None,
        tombstone_watermark: tuple | None = None,
    ) -> dict:
        """Materialize the resolved state into fresh base files (bucketed),
        dropping superseded row versions.

        Winning tombstones are RETAINED by default (``read()`` filters them),
        because under out-of-order CDC delivery an event OLDER than the
        tombstone can still arrive later — if compaction had dropped the
        tombstone, that stale event would silently resurrect the key (found
        by the random-interleaving property test, round 2). Pass
        ``tombstone_watermark=(ts, lsn)`` — the source's delivery guarantee
        that every not-yet-delivered event orders >= (ts, lsn) in the
        (warc_ts, _lsn) CDC order (e.g. binlog low-watermark) — to reclaim
        tombstones strictly below it, the Cassandra gc_grace analog. The
        watermark is ignored while stray unbucketed (-1) delta files exist:
        such a file can hold an already-delivered older row for the key, and
        only the tombstone's presence keeps beating it at read time.

        ``buckets=None`` compacts the whole table; passing a bucket list
        compacts ONLY those buckets — O(selected buckets), not O(table) —
        which is how a 100 TB table compacts incrementally: pick the buckets
        with the worst delta amplification (see ``bucket_delta_stats``) each
        maintenance cycle. Untouched buckets keep their existing files.

        ``cluster_by=[colA, colB]`` Z-ORDERS rows within each bucket by the
        interleaved bits of the named numeric/timestamp columns, so parquet
        row-group min/max stats prune range predicates on EITHER column —
        multi-dimensional data skipping (Delta OPTIMIZE ZORDER analog).
        With one column it degenerates to a linear cluster sort. The column
        ranges cost one tiny extra aggregation over the selected data."""
        snap = self.snapshot()
        if snap.key is None:
            return {"skipped": True}
        if buckets is None:
            # full compact folds unbucketed (-1) legacy files into real buckets
            selected = set(range(snap.n_buckets)) | {-1}
        else:
            # a -1 file spans all buckets, so a selective compact can neither
            # rewrite it (it would duplicate rows of unselected buckets) nor
            # drop it; it stays a delta and merge-on-read keeps resolving it.
            selected = set(buckets)
        files = [f for f in snap.files if f["bucket"] in selected]
        stray_unbucketed = buckets is not None and any(
            f["bucket"] == -1 and f["kind"] == "delta" for f in snap.files
        )
        resolved = self._resolved_state(
            snap, files, tombstone_watermark, watermark_safe=not stray_unbucketed
        )
        out = self._align(resolved, snap.schema()).withColumn(BUCKET_COL, self._bucket_expr(snap))
        sort_within = None
        if cluster_by:
            aggs = []
            for c in cluster_by:
                aggs += [
                    F.min(F.col(c).cast("double")).alias(f"lo_{c}"),
                    F.max(F.col(c).cast("double")).alias(f"hi_{c}"),
                ]
            stats = out.agg(*aggs).collect()[0]
            ranges = [
                (c, stats[f"lo_{c}"] or 0.0, stats[f"hi_{c}"] or 0.0) for c in cluster_by
            ]
            out = out.withColumn("_cluster_z", self._zorder_expr(ranges))
            sort_within = [F.col("_cluster_z")]
        files = self._stage_files(
            out, snap, snap.version + 1, bucketed=True,
            sort_within=sort_within, write_options=write_options,
        )
        for f in files:
            f["kind"] = "base"
        kept = [f for f in snap.files if f["bucket"] not in selected]
        new = snap.successor(
            summary={"operation": "compact", "buckets": sorted(selected) if buckets is not None else "all"},
        )
        new.replace_files(kept + files)
        try:
            self._write_snapshot(new)
        except FileExistsError:
            # a concurrent merge landed after we resolved: abort rather than
            # drop its delta (compaction retries on the next cycle)
            return {"skipped": True, "reason": "commit-conflict"}
        if buckets is None:
            # FULL rewrite: every surviving file carries the current schema,
            # so dropped column names become safe to reuse
            self._clear_drop_markers()
        return {"skipped": False, "version": new.version, "files": len(files)}

    def compact_deltas(self, buckets: list[int] | None = None) -> dict:
        """Minor (log) compaction: fold each selected bucket's delta files
        into ONE fresh delta file holding only the per-key winner among the
        deltas — base files are never read or rewritten (Hudi log-compaction
        analog; major ``compact()`` rewrites base too).

        Safe because read-time resolution takes the winner over
        (base row, delta winner) per key: a delta row superseded by another
        delta row can never win overall. Winning tombstones among the deltas
        survive the fold (same out-of-order-redelivery argument as
        ``compact``).

        The 100 TB steady-state companion of the broadcast-resolve read path:
        cost is O(delta rows in selected buckets) while base bytes (the vast
        majority) stay untouched, and read fan-in stays flat at <= 1 delta
        file per bucket however many epochs land between major compactions.
        Unbucketed (-1) delta files span all buckets and are left for a full
        ``compact()``. Aborts (skipped) on concurrent-commit conflict."""
        snap = self.snapshot()
        if snap.key is None:
            raise ValueError("compact_deltas requires a keyed table")
        selected = set(range(snap.n_buckets)) if buckets is None else set(buckets)
        selected.discard(-1)
        per_bucket: dict[int, int] = {}
        for f in snap.files:
            if f["kind"] == "delta" and f["bucket"] in selected:
                per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        # fold ONLY buckets that actually accumulated files — re-folding a
        # bucket already at one delta file would rewrite its rows for nothing
        # (and under maintain(minor=True) every cycle, rewrite ALL delta
        # bytes per cycle)
        touched = {b for b, n in per_bucket.items() if n >= 2}
        if not touched:
            return {"skipped": True, "reason": "nothing-to-fold"}
        dfiles = [
            f for f in snap.files if f["kind"] == "delta" and f["bucket"] in touched
        ]
        resolved = self._resolve(
            self._read_files(snap, dfiles, with_internal=True), snap.key
        )
        out = self._align(resolved, snap.schema()).withColumn(
            BUCKET_COL, self._bucket_expr(snap)
        )
        files = self._stage_files(out, snap, snap.version + 1, bucketed=True)
        for f in files:
            # folded files are data (read() scans them) but NOT changes: the
            # change feed already emits the originals from the intermediate
            # snapshots, so re-emitting the winners would duplicate-deliver
            f["folded"] = True
        drop = {f["path"] for f in dfiles}
        kept = [f for f in snap.files if f["path"] not in drop]
        new = snap.successor(
            summary={
                "operation": "compact-deltas",
                "buckets": sorted(touched),
                "folded_files": len(dfiles),
            },
        )
        new.replace_files(kept + files)
        try:
            self._write_snapshot(new)
        except FileExistsError:
            return {"skipped": True, "reason": "commit-conflict"}
        return {
            "skipped": False,
            "version": new.version,
            "folded_files": len(dfiles),
            "files": len(files),
        }

    def rebucket(self, new_n_buckets: int, tombstone_watermark: tuple | None = None) -> dict:
        """Bucket-count evolution (Iceberg partition-spec evolution analog):
        rewrite the table under ``pmod(xxhash64(key), new_n_buckets)`` and
        commit a snapshot whose ``n_buckets`` is the new count.

        A table created at 16 buckets caps compaction/point-read parallelism
        and file-layout granularity forever; a 100 TB deployment grows the
        bucket count as the table grows (16 -> 256 -> 1024) instead. One
        atomic full rewrite: readers before the commit see the old layout,
        readers after see the new — never a mix, because the bucket expr is
        derived from the snapshot being read. All future merges bucket by the
        new count (merge_cdc reads n_buckets from the current snapshot), and
        epoch guards carry over so redelivery stays a no-op across the
        migration. Winning tombstones are retained exactly like ``compact``
        (same out-of-order-redelivery argument; same watermark escape hatch).
        Aborts (skipped=True) if a concurrent commit lands first."""
        snap = self.snapshot()
        if snap.key is None:
            raise ValueError("rebucket requires a keyed table")
        if new_n_buckets == snap.n_buckets:
            return {"skipped": True, "reason": "same-bucket-count"}
        # the full file set is rewritten, -1 strays included, so the
        # watermark is always safe here (no older row can hide elsewhere)
        resolved = self._resolved_state(snap, snap.files, tombstone_watermark)
        new_snap_proto = snap.successor(
            n_buckets=new_n_buckets,
            summary={"operation": "rebucket", "from": snap.n_buckets, "to": new_n_buckets},
        )
        out = self._align(resolved, snap.schema()).withColumn(
            BUCKET_COL, self._bucket_expr(new_snap_proto)
        )
        new_files = self._stage_files(out, new_snap_proto, snap.version + 1, bucketed=True)
        for f in new_files:
            f["kind"] = "base"
        new_snap_proto.replace_files(new_files)
        try:
            self._write_snapshot(new_snap_proto)
        except FileExistsError:
            return {"skipped": True, "reason": "commit-conflict"}
        self._clear_drop_markers()  # full rewrite purges dropped-column bytes
        return {
            "skipped": False,
            "version": new_snap_proto.version,
            "n_buckets": new_n_buckets,
            "files": len(new_files),
        }

    def rewrite_files(
        self,
        n_files: int = 1,
        sort_by: list[str] | None = None,
        transform=None,
    ) -> dict:
        """Unkeyed-table compaction: fold the accumulated per-epoch append
        files into ``n_files`` fresh base files (optionally cluster-sorted
        within each, tightening row-group min/max skipping), replacing the
        file list atomically. Content-preserving by default; the
        committed-epoch guard set survives, so redelivery of an
        already-folded epoch stays a no-op. The append-only analog of
        ``compact()`` — a stream appending one file per micro-batch
        (lineage, dead-letter, the LSH band index) stays O(n_files) to scan
        instead of O(epochs).

        ``transform`` (optional, DataFrame -> DataFrame, same schema): a
        READ-EQUIVALENT fold applied during the rewrite — the caller
        guarantees downstream reads produce identical results over the
        folded rows (e.g. an adjustment log whose consumer sums it:
        group-summed rows are indistinguishable under the fold). A
        transformed rewrite collapses row identity, so row-lineage ids are
        freshly assigned, exactly like any rewrite of rows that no longer
        exist one-for-one."""
        snap = self.snapshot()
        if snap.key is not None:
            raise ValueError("rewrite_files is for unkeyed tables; keyed tables use compact()")
        if transform is not None:
            out = self._align(transform(self.read()), snap.schema())
        else:
            df = self._read_files(snap, snap.files, with_internal=True, with_row_ids=True)
            out = self._align(df, snap.schema())
        files = self._stage_files(
            out,
            snap,
            snap.version + 1,
            bucketed=False,
            sort_within=[F.col(c) for c in sort_by] if sort_by else None,
            n_files=n_files,
        )
        for f in files:
            f["kind"] = "base"
        new = snap.successor(
            summary={"operation": "rewrite-files", "n_files": n_files},
            # the rewrite read went through _read_files, which applied every
            # MoR delete file — the fresh files ARE the post-delete state,
            # so the delete list resets (posdel entries would be stale
            # anyway; eqdel seqs are all below the new files' seq)
            delete_files=[],
        )
        new.replace_files(files)
        try:
            self._write_snapshot(new)
        except FileExistsError:
            # a concurrent append landed after we read: abort rather than
            # drop its rows (retry on the next maintenance cycle)
            return {"skipped": True, "reason": "commit-conflict"}
        self._clear_drop_markers()  # full rewrite purges dropped-column bytes
        return {"skipped": False, "version": new.version, "files": len(files)}

    def history(self) -> list[dict]:
        """Snapshot log, oldest first: [{version, operation, epoch_id,
        n_files}] — the ops surface for audits and picking rollback targets
        (Iceberg table-history analog). Reads only _meta JSONs."""
        out = []
        p = self._snap_prefix
        for f in sorted(os.listdir(self.meta_dir)):
            if not (f.startswith(p) and f.endswith(".json") and f[len(p) : -len(".json")].isdigit()):
                continue
            with open(os.path.join(self.meta_dir, f)) as fh:
                d = json.load(fh)
            out.append(
                {
                    "version": d["version"],
                    "committed_at": d.get("committed_at"),
                    "operation": d.get("summary", {}).get("operation"),
                    "epoch_id": d.get("summary", {}).get("epoch_id"),
                    "n_files": d.get("n_files", len(d.get("files", d.get("tail", [])))),
                }
            )
        return out

    def metadata_df(self, kind: str = "files", version: int | None = None) -> DataFrame:
        """Queryable metadata tables (Iceberg ``table$files`` /
        ``$snapshots`` / ``$partitions`` / ``$delete_files`` analog): the
        ops surface for SQL-side audits — file-size skew, partition row
        counts, snapshot timelines — without touching a data byte. Built
        driver-side from the already-loaded manifest (same O(metadata) cost
        as ``history()``); data files are never opened. The result is a
        POINT-IN-TIME materialization (LocalRelation): call again for the
        state after later commits. ``version`` pins the view to a past
        snapshot (time travel — ``snapshots`` is truncated to entries at or
        before it), so tagged ``register_views(metadata=True)`` describes
        the SAME consistent cut as the data views."""
        if kind == "files":
            rows = [
                (
                    e["path"],
                    int(e.get("bucket", -1)),
                    e.get("kind"),
                    int(e.get("rows", 0)),
                    int(e.get("bytes", 0)),
                    int(e.get("seq", 0)),
                    e.get("first_row_id"),
                    e.get("spec_id"),
                    {k: ("" if v is None else str(v)) for k, v in e["partition"].items()}
                    if e.get("partition")
                    else None,
                    json.dumps(e["ts_stats"]) if e.get("ts_stats") else None,
                    json.dumps(e["col_stats"]) if e.get("col_stats") else None,
                )
                for e in self.snapshot(version).files
            ]
            return self.spark.createDataFrame(
                rows,
                "path string, bucket int, kind string, rows long, bytes long, "
                "seq long, first_row_id long, spec_id int, "
                "partition map<string,string>, ts_stats string, col_stats string",
            )
        if kind == "delete_files":
            rows = [
                (
                    d["path"],
                    d.get("kind"),
                    int(d.get("rows", 0)),
                    int(d.get("bytes", 0)),
                    int(d["seq"]) if d.get("seq") is not None else None,
                    list(d.get("cols") or []),
                )
                for d in self.snapshot(version).delete_files
            ]
            return self.spark.createDataFrame(
                rows,
                "path string, kind string, rows long, bytes long, seq long, cols array<string>",
            )
        if kind == "snapshots":
            rows = [
                (
                    int(h["version"]),
                    h.get("committed_at"),
                    h.get("operation"),
                    str(h["epoch_id"]) if h.get("epoch_id") is not None else None,
                    int(h["n_files"]) if h.get("n_files") is not None else None,
                )
                for h in self.history()
                if version is None or int(h["version"]) <= version
            ]
            return self.spark.createDataFrame(
                rows,
                "version long, committed_at string, operation string, "
                "epoch_id string, n_files long",
            )
        if kind == "partitions":
            agg: dict[tuple, list] = {}
            for e in self.snapshot(version).files:
                part = e.get("partition")
                pk = (
                    tuple(sorted((k, "" if v is None else str(v)) for k, v in part.items()))
                    if part
                    else None
                )
                spec = e.get("spec_id")
                cur = agg.setdefault((pk, spec), [0, 0, 0])
                cur[0] += 1
                cur[1] += int(e.get("rows", 0))
                cur[2] += int(e.get("bytes", 0))
            rows = [
                (dict(pk) if pk is not None else None, spec, n, r, b)
                for (pk, spec), (n, r, b) in sorted(
                    agg.items(), key=lambda kv: (str(kv[0][0]), str(kv[0][1]))
                )
            ]
            return self.spark.createDataFrame(
                rows,
                "partition map<string,string>, spec_id int, n_files long, "
                "rows long, bytes long",
            )
        raise ValueError(
            f"unknown metadata table {kind!r} "
            "(files | delete_files | snapshots | partitions)"
        )

    def delete_where(self, predicate, lsn: int | None = None, epoch_id: int | None = None, source: str = "delete") -> dict:
        """Targeted delete (GDPR/takedown path): write tombstones for every
        currently-live key matching ``predicate``. Merge-on-read: the delete
        is one O(matching-keys) delta commit, not a table rewrite; compaction
        later reclaims the bytes.

        Tombstone ordering is derived per row as ``max(caller lsn, victim's
        current _lsn + 1)`` so a stale caller-supplied binlog position can
        never lose last-writer resolution and silently no-op the delete."""
        snap = self.snapshot()
        if snap.key is None:
            raise ValueError("delete_where requires a keyed table")
        victims = self.read(with_internal=True).filter(predicate)
        floor = F.coalesce(F.col(LSN_COL), F.lit(0)) + F.lit(1)
        tomb_lsn = floor if lsn is None else F.greatest(F.lit(lsn).cast("long"), floor)
        tomb = victims.select(
            F.col(snap.key),
            F.col("warc_ts"),
            tomb_lsn.cast("long").alias(LSN_COL),
            F.lit(True).alias(DELETED_COL),
        )
        return self.merge_cdc(tomb, epoch_id=epoch_id, source=source)

    def expire_data(self, col: str, cutoff, keep_nulls: bool = True) -> dict:
        """Retention delete on an append-only table: drop every row whose
        ``col`` (timestamp) orders strictly before ``cutoff``.

        Scale shape (the GDPR/TTL workhorse): files whose manifest
        ``ts_stats`` range is wholly below the cutoff are dropped
        METADATA-ONLY — zero reads, zero writes, any file size — which at a
        steady ingest rate is ~all expired data (each epoch's files age out
        together). Only files STRADDLING the cutoff (at most one epoch's
        worth per retention run) are rewritten with the exact row filter;
        files wholly inside the window are untouched. Files without stats
        (all-NULL column, legacy) rewrite conservatively. NULL ``col`` rows
        have unknown age: kept by default (``keep_nulls=False`` drops them).

        Old files stay referenced by older snapshots for time travel until
        ``expire_snapshots`` + ``vacuum_orphans`` reclaim them, exactly like
        every other rewrite. Concurrent-append safe: the commit aborts on
        version conflict (retry next maintenance cycle) rather than dropping
        the concurrent batch."""
        snap = self.snapshot()
        if snap.key is not None:
            raise ValueError(
                "expire_data requires an append-only (unkeyed) table; keyed "
                "tables delete by predicate with delete_where (tombstones)"
            )
        iso = cutoff.isoformat()
        # compare instants, not ISO strings: bounds carry "+00:00" (or none,
        # from append_rows) and the cutoff may carry any offset
        at = _stat_key(cutoff, True)
        drop, keep, straddle = [], [], []
        for f in snap.files:
            rng = (f.get("ts_stats") or {}).get(col)
            has_nulls = col in (f.get("ts_nulls") or [])
            if rng is None:
                straddle.append(f)
            elif _stat_key(rng[1], True) < at:
                # a NULL-bearing file can't be metadata-dropped when NULL
                # rows are being kept: the drop would lose them
                (straddle if (keep_nulls and has_nulls) else drop).append(f)
            elif _stat_key(rng[0], True) >= at and not (has_nulls and not keep_nulls):
                # wholly inside the window — untouched (unless NULL rows must
                # be deleted, which needs the exact rewrite)
                keep.append(f)
            else:
                straddle.append(f)
        new_files: list[dict] = []
        if straddle:
            df = self._read_files(snap, straddle, with_internal=True, with_row_ids=True)
            pred = F.col(col) >= F.lit(cutoff)
            if keep_nulls:
                pred = pred | F.col(col).isNull()
            df = df.filter(pred)
            new_files = self._stage_files(
                df, snap, snap.version + 1, bucketed=False, n_files=len(straddle)
            )
        new = snap.successor(
            summary={
                "operation": "expire-data",
                "col": col,
                "cutoff": iso,
                "files_dropped": len(drop),
                "files_rewritten": len(straddle),
            },
        )
        new.replace_files(keep + new_files)
        try:
            self._write_snapshot(new)
        except FileExistsError:
            return {"skipped": True, "reason": "commit-conflict"}
        return {
            "skipped": False,
            "version": new.version,
            "files_dropped": len(drop),
            "files_rewritten": len(straddle),
            "files_kept": len(keep),
        }

    # --------------------------------------------- append-only row deletes
    def delete_eq(self, col: str, value) -> dict:
        """Delete every row of an append-only table where ``col == value``
        (the GDPR/right-to-erasure workhorse over raw event/page logs).

        The predicate and the file pruning are derived from the SAME (col,
        value) pair, so they cannot disagree: a file is rewritten only if it
        MAY hold a matching row — everything the hidden-partition spec
        (through the file's own spec id), the manifest min/max stats, or the
        Bloom file index can prove disjoint stays untouched, metadata-only.
        On a well-partitioned table that is O(matching files), not O(table).
        NULL rows never match an equality predicate and are always kept."""
        return self._delete_rows(
            [("eq", col, value)],
            {"operation": "delete-eq", "col": col, "value": str(value)},
        )

    def delete_range(self, col: str, lo, hi) -> dict:
        """Delete rows with ``col`` in [lo, hi] (inclusive; None = open end)
        from an append-only table — pruned like ``delete_eq`` via partition
        transforms and manifest stats. NULL rows never match and are kept."""
        return self._delete_rows(
            [("range", col, lo, hi)], {"operation": "delete-range", "col": col}
        )

    def delete_matching(self, predicate: str) -> dict:
        """Delete rows matching an arbitrary Spark SQL boolean expression
        from an append-only table. No pruning is derivable from a free-form
        expression, so EVERY file is rewritten — use ``delete_eq`` /
        ``delete_range`` when the predicate has that shape. SQL DELETE
        semantics: only rows where the predicate is TRUE are removed (a NULL
        predicate keeps its row)."""
        return self._delete_rows(
            [], {"operation": "delete-matching", "predicate": predicate},
            pred=F.expr(predicate),
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        epoch_id: int | None = None,
        source: str = "overwrite",
    ) -> dict:
        """Dynamic partition overwrite (Iceberg ``replacePartitions`` /
        Spark ``partitionOverwriteMode=dynamic`` analog): in ONE atomic
        commit, replace exactly the partitions present in the batch — every
        live row whose partition tuple under the CURRENT spec appears in the
        batch is removed, and the batch's rows are inserted. Append-only
        hidden-partitioned tables only — the crawl-refresh shape: a
        re-crawled day/host shard replaces last cycle's files for that shard
        while every other partition carries over metadata-only.

        File handling derives from the manifests: a live file written under
        the current spec is DROPPED when its recorded partition tuple is in
        the replaced set, KEPT untouched otherwise (current-spec files hold
        exactly one tuple each — no rewrite possible). Files from an older
        spec id (or pre-spec files) cannot prove disjointness through the
        current spec, so they are conservatively rewritten minus matching
        rows (CoW, row-lineage preserved) — they exist only after a mid-life
        spec evolution and the first overwrite re-lands them under the
        current layout. Old files stay referenced by older snapshots for
        time travel until expire/vacuum.

        Exactly-once via the (source, epoch_id) guard; concurrent-commit
        safe: aborts with ``commit-conflict`` instead of dropping the
        concurrent batch. An empty batch replaces nothing and is a
        guard-only commit.
        """
        from data_exchange_routing_spark.lake import partition as _pt

        snap = self.snapshot()
        if snap.key is not None:
            raise ValueError(
                "overwrite_partitions is for append-only tables; keyed "
                "tables replace rows through merge_cdc/merge_into"
            )
        pst = self._part_state()
        cur = pst.get("current")
        if cur is None:
            raise ValueError("overwrite_partitions requires a partition spec")
        if epoch_id is not None and snap.epoch_committed(source, epoch_id):
            return {"skipped": True, "epoch_id": epoch_id, "version": snap.version}
        fields = pst["specs"][str(cur)]
        schema = snap.schema()
        out = self._align(df, schema)
        self._enforce_constraints(out)

        # the replaced partition tuples, normalized to the same string form
        # the manifest carries (directory names round-trip through
        # parse_path_partition; numeric transforms stringify)
        pdf, pcols = _pt.partition_columns(fields, out)
        tuples = {
            tuple(None if v is None else str(v) for v in r)
            for r in pdf.select(*pcols).distinct().collect()
        }

        # manifest partition dicts key by the spec field NAME; the derived
        # write columns carry the _part_ prefix
        names = [
            c[len(_pt.PART_PREFIX):] if c.startswith(_pt.PART_PREFIX) else c
            for c in pcols
        ]

        def _file_tuple(f: dict):
            part = f.get("partition") or {}
            return tuple(part.get(c) for c in names)

        drop, keep, rewrite = [], [], []
        for f in snap.files:
            if f.get("spec_id") == cur:
                (drop if _file_tuple(f) in tuples else keep).append(f)
            else:
                rewrite.append(f)

        new_files: list[dict] = []
        rows_deleted = sum(f.get("rows", 0) for f in drop)
        if rewrite and tuples:
            old = self._read_files(snap, rewrite, with_internal=True, with_row_ids=True)
            old_p, _ = _pt.partition_columns(fields, old)
            belongs = F.lit(False)
            for t in tuples:
                m = F.lit(True)
                for c, v in zip(pcols, t):
                    m = m & F.col(c).cast("string").eqNullSafe(
                        F.lit(v).cast("string")
                    )
                belongs = belongs | m
            kept_rows = old_p.filter(~belongs).drop(*pcols)
            before = sum(f.get("rows", 0) for f in rewrite)
            new_files = self._stage_files(
                kept_rows, snap, snap.version + 1, bucketed=False
            )
            rows_deleted += before - sum(f.get("rows", 0) for f in new_files)
        elif rewrite:
            keep.extend(rewrite)
            rewrite = []
        batch_files = self._stage_files(out, snap, snap.version + 1, bucketed=False)
        committed = dict(snap.committed_epochs)
        if epoch_id is not None:
            committed[source] = _enc_add(committed.get(source, []), epoch_id)
        new = snap.successor(
            committed_epochs=committed,
            summary={
                "operation": "overwrite-partitions",
                "epoch_id": epoch_id,
                "partitions_replaced": len(tuples),
                "files_dropped": len(drop),
                "files_rewritten": len(rewrite),
                "rows_deleted": rows_deleted,
            },
        )
        new.replace_files(keep + new_files + batch_files)
        try:
            self._write_snapshot(new)
        except FileExistsError:
            return {"skipped": True, "reason": "commit-conflict"}
        return {
            "skipped": False,
            "version": new.version,
            "partitions_replaced": len(tuples),
            "files_dropped": len(drop),
            "files_kept": len(keep),
            "files_rewritten": len(rewrite),
            "rows_deleted": rows_deleted,
            "rows_added": sum(f.get("rows", 0) for f in batch_files),
        }

    def _delete_rows(self, preds: list[tuple], summary: dict, pred=None) -> dict:
        """Shared delete machinery: rewrite only the files that
        ``_file_may_match`` keeps for ``preds`` with the negated row
        predicate (``pred``, default ``_row_filter(preds)``); untouched
        files carry over metadata-only. Old
        files stay referenced by older snapshots for time travel until
        expire/vacuum, like every rewrite. Concurrent-append safe: aborts on
        version conflict instead of dropping the concurrent batch."""
        snap = self.snapshot()
        if snap.key is not None:
            raise ValueError(
                "row deletes on keyed tables go through delete_where "
                "(tombstones); delete_eq/delete_range/delete_matching are "
                "for append-only tables"
            )
        ev = self._evidence(snap)
        may = [self._file_may_match(f, preds, **ev) for f in snap.files]
        keep = [f for f, m in zip(snap.files, may) if not m]
        rewrite = [f for f, m in zip(snap.files, may) if m]
        if pred is None:
            pred = self._row_filter(preds)
        new_files: list[dict] = []
        deleted = 0
        if rewrite:
            df = self._read_files(snap, rewrite, with_internal=True, with_row_ids=True)
            before = sum(f.get("rows", 0) for f in rewrite)
            kept_df = df.filter(~F.coalesce(pred, F.lit(False)))
            new_files = self._stage_files(
                kept_df, snap, snap.version + 1, bucketed=False, n_files=len(rewrite)
            )
            deleted = before - sum(f.get("rows", 0) for f in new_files)
        new = snap.successor(
            summary={**summary, "files_rewritten": len(rewrite), "rows_deleted": deleted},
        )
        new.replace_files(keep + new_files)
        try:
            self._write_snapshot(new)
        except FileExistsError:
            return {"skipped": True, "reason": "commit-conflict"}
        return {
            "skipped": False,
            "version": new.version,
            "files_rewritten": len(rewrite),
            "files_kept": len(keep),
            "rows_deleted": deleted,
        }

    # --------------------------------------- merge-on-read deletes (v2)
    def delete_eq_mor(self, col: str, values) -> dict:
        """Equality-delete by value, merge-on-read (Iceberg v2 equality
        delete file analog): the commit writes ONE tiny parquet of the
        deleted values plus a metadata snapshot — zero data files are read
        or rewritten, so a GDPR erasure on a 100 TB table is an O(1)
        driver-side commit. Reads anti-join the value set out (broadcast, no
        shuffle); ``rewrite_files`` / any full rewrite materializes and
        drops the delete files. Sequence rule: the delete applies only to
        files committed BEFORE it — the same value appended later survives,
        exactly like SQL DELETE-then-INSERT. NULL never matches an equality
        predicate (and is refused here; use ``delete_matching_mor`` with an
        IS NULL predicate, which takes the position-delete path)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap0 = self.snapshot()
        if snap0.key is not None:
            raise ValueError(
                "delete_eq_mor is for append-only tables; keyed tables "
                "delete with delete_where (tombstones)"
            )
        field = {f.name: f for f in snap0.schema().fields}.get(col)
        if field is None:
            raise ValueError(f"no column {col!r} on this table")
        vals = values if isinstance(values, (list, tuple, set)) else [values]
        vals = list(vals)
        if not vals or any(v is None for v in vals):
            raise ValueError("equality deletes never match NULL (and need >=1 value)")
        rel = os.path.join(_DATA_DIR, f"eqdel-{uuid.uuid4().hex[:12]}.parquet")
        full = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array(vals, type=_arrow_type(field.dataType))], names=[col]
            ),
            full,
        )
        entry = {
            "path": rel, "kind": "eqdel", "cols": [col],
            "rows": len(vals), "bytes": os.path.getsize(full),
        }
        return self._commit_mor_delete(
            [entry], {"operation": "delete-eq-mor", "col": col, "values": len(vals)}
        )

    def delete_matching_mor(self, predicate: str) -> dict:
        """Predicate delete, merge-on-read: scan once, record the matching
        rows' (file, position) identities in a position-delete file, commit
        metadata — data files are READ but never REWRITTEN (the write half
        is O(matches), not O(table), which is the whole point for wide rows
        like html/binary page bodies). SQL DELETE semantics: only rows where
        the predicate is TRUE are deleted. The delete names concrete row
        positions, so rows appended after the scan are untouched by
        construction."""
        snap = self.snapshot()
        if snap.key is not None:
            raise ValueError(
                "delete_matching_mor is for append-only tables; keyed "
                "tables delete with delete_where (tombstones)"
            )
        victims = (
            self._read_files(snap, snap.files, with_internal=True, keep_meta=True)
            .filter(F.coalesce(F.expr(predicate), F.lit(False)))
            .select(F.col("_mor_file").alias("file"), F.col("_mor_pos").alias("pos"))
        )
        entries = self._write_posdel_files(victims)
        if not entries:
            return {"skipped": True, "reason": "no-matches", "rows_deleted": 0}
        return self._commit_mor_delete(
            entries,
            {
                "operation": "delete-matching-mor",
                "predicate": predicate,
                "rows_deleted": sum(e["rows"] for e in entries),
            },
        )

    def update_matching_mor(self, predicate: str, assignments: dict[str, str]) -> dict:
        """UPDATE ... SET, merge-on-read: one atomic commit position-deletes
        the matched rows and appends their updated images (staged with the
        new commit's sequence, so outstanding equality deletes never re-kill
        them). Cost is O(matched rows) read+write beyond the scan — columns
        not assigned are carried through unchanged. CHECK constraints run on
        the updated images before anything is staged."""
        snap = self.snapshot()
        if snap.key is not None:
            raise ValueError("update_matching_mor is for append-only tables")
        schema = snap.schema()
        names = set(schema.fieldNames())
        unknown = set(assignments) - names
        if unknown:
            raise ValueError(f"assignments target unknown columns: {sorted(unknown)}")
        matched = (
            self._read_files(
                snap, snap.files, with_internal=True, keep_meta=True, with_row_ids=True
            )
            .filter(F.coalesce(F.expr(predicate), F.lit(False)))
            .localCheckpoint(eager=True)  # freeze: positions and images must agree
        )
        pos = matched.select(F.col("_mor_file").alias("file"), F.col("_mor_pos").alias("pos"))
        updated = matched.select(
            *[
                F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
                if f.name in assignments
                else F.col(f.name)
                for f in schema.fields
            ],
            # Iceberg v3 semantics: an UPDATE keeps the row's lineage id
            F.col(ROW_ID_COL),
        )
        self._enforce_constraints(updated)
        pos_entries = self._write_posdel_files(pos)
        if not pos_entries:
            return {"skipped": True, "reason": "no-matches", "rows_updated": 0}
        data_entries = self._stage_files(
            self._align(updated, schema), snap, snap.version + 1, bucketed=False
        )
        return self._commit_mor_delete(
            pos_entries,
            {
                "operation": "update-matching-mor",
                "predicate": predicate,
                "rows_updated": sum(e["rows"] for e in pos_entries),
            },
            data_entries=data_entries,
        )

    def _write_posdel_files(self, victims: DataFrame) -> list[dict]:
        """Distributed write of a (file, pos) position-delete set; returns
        manifest entries (empty when nothing matched)."""
        import pyarrow.parquet as pq

        rel_dir = os.path.join(_DATA_DIR, f"posdel-{uuid.uuid4().hex[:12]}")
        out = os.path.join(self.path, rel_dir)
        victims.coalesce(1).write.mode("overwrite").parquet(out)
        entries = []
        for root, _dirs, fnames in os.walk(out):
            for name in fnames:
                if not name.endswith(".parquet"):
                    continue
                fullp = os.path.join(root, name)
                n = pq.ParquetFile(fullp).metadata.num_rows
                if n == 0:
                    continue
                entries.append(
                    {
                        "path": os.path.relpath(fullp, self.path),
                        "kind": "posdel",
                        "rows": n,
                        "bytes": os.path.getsize(fullp),
                    }
                )
        return entries

    def _commit_mor_delete(
        self, del_entries: list[dict], summary: dict, data_entries: list[dict] | None = None
    ) -> dict:
        """Optimistic commit appending MoR delete entries (and, for UPDATE,
        the updated data files) to the head snapshot."""
        data_entries = data_entries or []

        def build(head: Snapshot) -> Snapshot:
            for e in del_entries + data_entries:
                e["seq"] = head.version + 1
            return head.successor(
                tail=head.tail + data_entries,
                summary=summary,
                delete_files=head.delete_files + del_entries,
            )

        _, new = self._commit_retry(build, "MoR delete")
        return {
            "skipped": False,
            "version": new.version,
            "delete_files_added": len(del_entries),
            **{k: v for k, v in summary.items() if k.startswith("rows_")},
        }

    def compact_mor_deletes(self) -> dict:
        """Minor merge-on-read compaction (Iceberg's
        rewrite_position_delete_files / delete-filtered rewrite_data_files
        analog): rewrite ONLY the data files the snapshot's delete files can
        still affect, folding the deletes in, and drop the delete list —
        O(affected files), never O(table). After it runs, reads are one-pass
        scans again (no row-identity join, no anti-joins) and the broadcast
        delete sets stop accumulating; ``rewrite_files`` remains the full
        O(table) rewrite for when layout itself needs redoing.

        The affected set is derived without scanning any data file:
        position deletes NAME their victim files (read the tiny posdel
        parquet, distinct ``file``); equality deletes prune through the v2
        sequence rule (files with seq >= the delete's seq are exempt) plus
        the same partition-spec / min-max / Bloom metadata the CoW deletes
        prune with (``_file_may_match`` — shared code, so pruning and
        predicate cannot disagree). Collecting the eq value tuples to the
        driver leans on the same "delete sets are small by construction"
        bound ``_apply_delete_files`` already relies on to broadcast them.

        Content-preserving by construction: the rewrite reads through
        ``_read_files`` — the single delete-application point — and the
        fresh files' seq (= the new version) exceeds every dropped delete's
        seq. Epoch guards carry over, so redelivery of a folded epoch stays
        a no-op. Concurrent-append safe: aborts on version conflict instead
        of dropping the concurrent batch."""
        snap = self.snapshot()
        dels = snap.delete_files
        if not dels:
            return {"skipped": True, "reason": "no-delete-files"}
        if snap.key is not None:  # unreachable via public API: MoR delete
            raise ValueError("keyed tables never carry MoR delete files")
        pos_victims: set[str] = set()
        pos_files = [d for d in dels if d["kind"] == "posdel" and d.get("rows", 0) > 0]
        if pos_files:
            pos_victims = {
                r["file"]
                for r in self.spark.read.parquet(
                    *[os.path.join(self.path, d["path"]) for d in pos_files]
                )
                .select("file")
                .distinct()
                .collect()
            }
        by_name = {f.name: f for f in snap.schema().fields}
        # per eq-delete file: its seq and one predicate list per value tuple
        eq_sets: list[tuple[int, list[list[tuple]]]] = []
        for d in dels:
            if d["kind"] != "eqdel" or d.get("rows", 0) <= 0:
                continue
            cols = list(d["cols"])
            vals = (
                self.spark.read.parquet(os.path.join(self.path, d["path"]))
                # cast to the CURRENT schema types, mirroring how
                # _apply_delete_files probes after type widening
                .select(*[F.col(c).cast(by_name[c].dataType).alias(c) for c in cols])
                .distinct()
                .collect()
            )
            eq_sets.append((
                int(d.get("seq", 0)),
                [[("eq", c, v) for c, v in zip(cols, r)] for r in vals],
            ))
        ev = self._evidence(snap)

        def affected(f: dict) -> bool:
            if f["path"] in pos_victims:
                return True
            fseq = int(f.get("seq", 0))
            return any(
                self._file_may_match(f, preds, **ev)
                for dseq, pred_sets in eq_sets
                if fseq < dseq
                for preds in pred_sets
            )

        hit = [affected(f) for f in snap.files]
        keep = [f for f, h in zip(snap.files, hit) if not h]
        rewrite = [f for f, h in zip(snap.files, hit) if h]
        new_files: list[dict] = []
        removed = 0
        if rewrite:
            df = self._read_files(snap, rewrite, with_internal=True, with_row_ids=True)
            new_files = self._stage_files(
                df, snap, snap.version + 1, bucketed=False, n_files=len(rewrite)
            )
            removed = sum(f.get("rows", 0) for f in rewrite) - sum(
                f.get("rows", 0) for f in new_files
            )
        new = snap.successor(
            summary={
                "operation": "compact-mor-deletes",
                "files_rewritten": len(rewrite),
                "delete_files_dropped": len(dels),
                "rows_deleted": removed,
            },
            delete_files=[],
        )
        new.replace_files(keep + new_files)
        try:
            self._write_snapshot(new)
        except FileExistsError:
            return {"skipped": True, "reason": "commit-conflict"}
        return {
            "skipped": False,
            "version": new.version,
            "files_rewritten": len(rewrite),
            "files_kept": len(keep),
            "delete_files_dropped": len(dels),
            "rows_deleted": removed,
        }

    def clone_to(self, dest_path: str) -> "LakeTable":
        """Zero-copy clone (Delta shallow-clone analog, hardlink flavor):
        data files are HARDLINKED into the clone (O(#files) metadata ops,
        zero bytes copied, any table size), the current snapshot is re-rooted
        as the clone's head at the SOURCE's version number (preserving
        data-sequence ordering for copied MoR delete files; position deletes
        are rewritten through the file-rename map, equality deletes
        hardlink). The clone then evolves independently —
        commits, compaction, vacuum on either side never touch the other's
        row data (hardlinked blocks are shared until either side's vacuum
        unlinks its own name; the inode lives while any name does). The
        dev/test-on-prod-data primitive."""
        snap = self.snapshot()
        dest = LakeTable(self.spark, dest_path)
        if dest.exists():
            raise ValueError(f"destination already has a lake table: {dest_path}")
        os.makedirs(dest.meta_dir, exist_ok=True)
        os.makedirs(os.path.join(dest.path, _DATA_DIR), exist_ok=True)
        entries = []
        for f in snap.files:
            src = os.path.join(self.path, f["path"])
            rel = os.path.join(_DATA_DIR, f"clone-{uuid.uuid4().hex[:12]}.parquet")
            os.link(src, os.path.join(dest.path, rel))
            entries.append(dict(f, path=rel))
        # data files were renamed above, so position deletes (keyed on file
        # basename) must be rewritten through the old->new name map — they
        # are tiny by construction. Equality deletes carry no file refs and
        # hardlink as-is. Entries whose target file left the snapshot are
        # stale and drop out here.
        name_map = {
            old["path"]: new_e["path"] for old, new_e in zip(snap.files, entries)
        }
        del_entries = []
        for d in snap.delete_files:
            src = os.path.join(self.path, d["path"])
            if d["kind"] == "posdel":
                import pyarrow.compute as pc
                import pyarrow.parquet as pq

                t = pq.read_table(src)
                files_col = [name_map.get(v) for v in t.column("file").to_pylist()]
                keep_rows = [i for i, v in enumerate(files_col) if v is not None]
                t = t.take(keep_rows).set_column(
                    t.schema.get_field_index("file"),
                    "file",
                    pc.cast([files_col[i] for i in keep_rows], "string"),
                )
                if t.num_rows == 0:
                    continue
                rel = os.path.join(_DATA_DIR, f"posdel-clone-{uuid.uuid4().hex[:12]}.parquet")
                dst = os.path.join(dest.path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                pq.write_table(t, dst)
                del_entries.append(
                    dict(d, path=rel, rows=t.num_rows, bytes=os.path.getsize(dst))
                )
            else:
                rel = os.path.join(_DATA_DIR, f"eqdel-clone-{uuid.uuid4().hex[:12]}.parquet")
                dst = os.path.join(dest.path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(src, dst)
                del_entries.append(dict(d, path=rel))
        props = self._props()
        if props:
            _atomic_write_json(os.path.join(dest.meta_dir, "props.json"), props)
        dflt = self._column_defaults()
        if dflt:
            _atomic_write_json(os.path.join(dest.meta_dir, "defaults.json"), dflt)
        new = replace(
            # the clone keeps the source's version number (not 1): data
            # sequence numbers copied with the entries stay below every
            # FUTURE clone commit's seq (= version+1), so copied equality
            # deletes can never apply to rows appended post-clone
            snap,
            committed_epochs=dict(snap.committed_epochs),
            summary={"operation": "clone", "source": self.path,
                     "source_version": snap.version},
            delete_files=del_entries,
        )
        new.replace_files(entries)
        dest._write_snapshot(new)
        return dest

    def lookup_join(
        self,
        probe: DataFrame,
        probe_key: str | None = None,
        columns: list[str] | None = None,
        how: str = "left",
        indicator: str | None = None,
    ) -> DataFrame:
        """Enrich a batch with this keyed table's current state — the
        stream-side dimension/state lookup of a CDC pipeline (foreachBatch
        enrichment against a 100 TB table).

        ``indicator``: optional output column name set true/false per probe
        row according to whether a live state row matched — distinguishes
        "no match" from "matched a row whose requested columns are null"
        (consumers like KeyedJoinView need the difference).

        Scale shape: one tiny job computes the distinct buckets the probe's
        keys hash to (<= n_buckets rows out), the table side is read
        bucket-pruned to exactly those buckets, and the join shuffles
        O(probe + touched buckets) — never O(table). A point-y batch
        touching k keys scans at most k buckets' files. ``columns``
        restricts the state side (plus its key) before the join, so column
        pruning reaches the parquet scan.
        """
        snap = self.snapshot()
        if snap.key is None:
            raise ValueError("lookup_join requires a keyed table")
        key = snap.key
        pk = probe_key or key
        if pk not in probe.columns:
            raise ValueError(f"probe has no column {pk!r}")
        b_expr = F.pmod(F.xxhash64(F.col(pk)), F.lit(snap.n_buckets)).cast("int")
        buckets = sorted(
            r[0]
            for r in probe.select(b_expr.alias("_b")).distinct().collect()
            if r[0] is not None
        )
        state = self.read(buckets=buckets)
        if columns is not None:
            missing = [c for c in columns if c not in state.columns]
            if missing:
                raise ValueError(f"columns not on table: {missing}")
            state = state.select(key, *[c for c in columns if c != key])
        if indicator is not None:
            if indicator in probe.columns or indicator in state.columns:
                raise ValueError(f"indicator column {indicator!r} already exists")
            state = state.withColumn(indicator, F.lit(True))
        clash = set(probe.columns) - {pk}
        state = state.select(
            *[
                F.col(c).alias(pk if c == key else (c + "_t" if c in clash else c))
                for c in state.columns
            ]
        )
        out = probe.join(state, pk, how)
        if indicator is not None:
            out = out.withColumn(
                indicator, F.coalesce(F.col(indicator), F.lit(False))
            )
        return out

    def diff(
        self,
        other: "LakeTable",
        columns: list[str] | None = None,
        version: int | None = None,
        other_version: int | None = None,
    ) -> DataFrame:
        """Anti-entropy table comparison (migration/backfill validation):
        one row per key whose current state differs between the two keyed
        tables — ``status`` in {left_only, right_only, changed}.

        Equality is md5 over the canonical JSON of the compared columns
        (sorted names, shared subset unless ``columns`` pins them), computed
        map-side on each resolved state; the full-outer join then carries
        only (key, hash) — O(keys) shuffle width regardless of row width.
        Matching keys with equal hashes drop out; the output is the
        (usually tiny) disagreement set.

        ``version``/``other_version`` pin either side to a snapshot, so
        ``t.diff(t, version=v1, other_version=v2)`` is the NET state change
        between two points in table history (release-notes semantics —
        unlike the change feed, which streams every intermediate revision):
        left_only = keys deleted since v1, right_only = created, changed =
        whose resolved row differs."""
        lsnap, rsnap = self.snapshot(version), other.snapshot(other_version)
        if lsnap.key is None or rsnap.key is None:
            raise ValueError("diff requires keyed tables on both sides")
        lkey, rkey = lsnap.key, rsnap.key
        if columns is None:
            shared = {f.name for f in lsnap.schema().fields} & {
                f.name for f in rsnap.schema().fields
            }
            # warc_ts is CDC ordering metadata, not payload: two states
            # whose rows differ only in event time are "equal" by default
            # (pin columns=["warc_ts", ...] to compare it too)
            columns = sorted(shared - {lkey, rkey, "warc_ts", *INTERNAL_COLS})
        fp = lambda df, key: df.select(  # noqa: E731
            F.col(key).alias("_k"),
            F.md5(F.to_json(F.struct(*[F.col(c) for c in sorted(columns)]))).alias("_h"),
        )
        l = fp(self.read(version=version), lkey)
        r = fp(other.read(version=other_version), rkey)
        j = l.alias("l").join(r.alias("r"), F.col("l._k") == F.col("r._k"), "full_outer")
        status = (
            F.when(F.col("r._k").isNull(), F.lit("left_only"))
            .when(F.col("l._k").isNull(), F.lit("right_only"))
            .when(F.col("l._h") != F.col("r._h"), F.lit("changed"))
        )
        return (
            j.select(
                F.coalesce(F.col("l._k"), F.col("r._k")).alias(lkey),
                status.alias("status"),
            )
            .filter(F.col("status").isNotNull())
        )

    def point_read(self, key_value: str) -> DataFrame:
        """Resolved row(s) for one key with full pruning: the key hashes to
        one bucket (manifest prunes every other bucket's files before any
        listing), the key predicate reaches the parquet scan (PushedFilters),
        and — because staged files are clustered by key within each bucket —
        row-group min/max statistics skip the rest of the file. The 100 TB
        point-lookup path: touches O(files-in-one-bucket) footers, reads
        O(row-groups-containing-key) pages."""
        snap = self.snapshot()
        if snap.key is None:
            raise ValueError("point_read requires a keyed table")
        # compute the bucket exactly as the write path does (xxhash64 in JVM)
        bucket = (
            self.spark.range(1)
            .select(
                F.pmod(F.xxhash64(F.lit(key_value)), F.lit(snap.n_buckets)).cast("int").alias("b")
            )
            .collect()[0]["b"]
        )
        # manifest-level file pruning: other buckets' files, and files in
        # the bucket whose [key_min, key_max] footer range cannot contain the
        # key, are skipped before Spark lists them
        key_eq = [("eq", snap.key, key_value)]
        ev = self._evidence(snap)
        files = [
            f for f in snap.files
            if self._file_may_match(f, [("bucket", (bucket,)), *key_eq], **ev)
        ]
        df = self._read_files(snap, files, with_internal=True)
        if any(f["kind"] == "delta" for f in files):
            df = self._resolve(df, snap.key)
        df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        df = df.drop(*[c for c in INTERNAL_COLS if c in df.columns])
        return df.filter(self._row_filter(key_eq))

    def bucket_delta_stats(self) -> dict[int, dict]:
        """Per-bucket delta amplification from the manifest alone (no scan):
        {bucket: {n_delta_files, n_base_files, delta_rows}}. The maintenance
        scheduler compacts the worst buckets first."""
        snap = self.snapshot()
        stats: dict[int, dict] = {}
        for f in snap.files:
            b = f.get("bucket", -1)
            s = stats.setdefault(b, {"n_delta_files": 0, "n_base_files": 0, "delta_rows": 0})
            if f.get("kind") == "base":
                s["n_base_files"] += 1
            else:
                s["n_delta_files"] += 1
                s["delta_rows"] += f.get("rows", 0)
        return stats

    def metadata_stats(self, version: int | None = None) -> dict:
        """Metadata-only aggregates from the manifest — count(*)/min/max
        answered WITHOUT opening a single data file (Iceberg's
        metadata-query analog; the stats were folded from parquet footers at
        commit time in _stage_files). At 100 TB this is the difference
        between an O(ms) manifest fold and a cluster-wide scan.

        Exactness contract, gated by tests/test_lake.py:
        - ``rows`` is the exact count(*) for APPEND-ONLY tables (every
          manifest row is a table row); for keyed tables it is an upper
          bound (unresolved revisions + tombstones) and is reported under
          ``rows_upper_bound`` instead.
        - each ``ts_ranges[col] = (min, max)`` is exact iff every file
          carries footer stats for that column; columns with any stats-less
          file are omitted (never approximate).
        - ``key_range`` likewise folds the merge-key min/max, omitted if
          any file lacks it.
        """
        snap = self.snapshot(version)
        files = snap.files
        out: dict[str, Any] = {
            "version": snap.version,
            "n_files": len(files),
            "bytes": sum(f.get("bytes", 0) for f in files),
        }
        rows = sum(f.get("rows", 0) for f in files)
        if snap.key is None:
            out["rows"] = rows
        else:
            out["rows_upper_bound"] = rows
        ts_ranges: dict[str, tuple] = {}
        complete: set[str] = set()
        for i, f in enumerate(files):
            stats = f.get("ts_stats") or {}
            if i == 0:
                complete = set(stats)
            else:
                complete &= set(stats)
            for col in stats:
                lo, hi = stats[col]
                cur = ts_ranges.get(col)
                ts_ranges[col] = (
                    (lo, hi) if cur is None else (min(cur[0], lo), max(cur[1], hi))
                )
        out["ts_ranges"] = {c: ts_ranges[c] for c in sorted(complete)} if files else {}
        if snap.key is not None and files and all(
            "key_min" in f and "key_max" in f for f in files
        ):
            out["key_range"] = (
                min(f["key_min"] for f in files),
                max(f["key_max"] for f in files),
            )
        return out

    # ---------------------------------------------------------- maintenance
    def expire_snapshots(self, keep_last: int = 5) -> dict:
        """Drop snapshot JSONs older than the newest ``keep_last`` (Iceberg
        expire_snapshots analog). Time travel shortens; current state, epoch
        guards and lineage are untouched (they live in the newest snapshot)."""
        if self._snap_prefix != "snapshot-":
            raise ValueError("expire_snapshots runs on main, not a branch view")
        current = self.current_version()
        cutoff = max(1, current - keep_last + 1)
        removed = []
        for f in os.listdir(self.meta_dir):
            if not (f.startswith("snapshot-") and f.endswith(".json")):
                continue
            v = int(f[len("snapshot-") : -len(".json")])
            if v < cutoff:
                os.unlink(os.path.join(self.meta_dir, f))
                removed.append(v)
        # GC manifest segments no retained snapshot references (includes
        # orphans written by commits that lost the version race)
        referenced: set[str] = set()
        for f in os.listdir(self.meta_dir):
            if (f.startswith("snapshot-") or f.startswith("branch-")) and f.endswith(".json"):
                with open(os.path.join(self.meta_dir, f)) as fh:
                    referenced.update(json.load(fh).get("segments", []))
        removed_segments = 0
        for f in os.listdir(self.meta_dir):
            if f.startswith("seg-") and f.endswith(".json") and f not in referenced:
                os.unlink(os.path.join(self.meta_dir, f))
                removed_segments += 1
        return {
            "removed_snapshots": sorted(removed),
            "kept_from": cutoff,
            "removed_segments": removed_segments,
        }

    def referenced_data_paths(self) -> set[str]:
        """Absolute paths of every data file ANY retained snapshot or live
        branch head (WAP) references — the single source of truth for both
        vacuums (this table's ``vacuum_orphans`` and the warehouse's
        ``vacuum_staging``); a manifest-format addition that carries live
        references lands here ONCE or both would silently delete data."""
        referenced: set[str] = set()
        for f in os.listdir(self.meta_dir):
            if not f.endswith(".json"):
                continue
            if not (f.startswith("snapshot-") or f.startswith("branch-")):
                continue
            with open(os.path.join(self.meta_dir, f)) as fh:
                d = json.load(fh)
            entries = list(d.get("tail", d.get("files", [])))
            entries.extend(d.get("delete_files", []))  # MoR delete files are live data
            segs = d.get("segments", [])
            if segs:
                # one whole-list call — shares the read path's cache key
                entries.extend(_resolve_segments(self.meta_dir, list(segs)))
            for e in entries:
                referenced.add(os.path.abspath(os.path.join(self.path, e["path"])))
        return referenced

    def vacuum_orphans(self) -> dict:
        """Delete data files under this table's own data/ dir that no retained
        snapshot references (crashed commits, compacted-away deltas). Staged
        files shared via a warehouse staging area are the warehouse's to
        vacuum, not the table's."""
        if self._snap_prefix != "snapshot-":
            raise ValueError("vacuum_orphans runs on main, not a branch view")
        referenced = self.referenced_data_paths()
        removed = 0
        data_dir = os.path.join(self.path, _DATA_DIR)
        for root, _dirs, names in os.walk(data_dir):
            for name in names:
                full = os.path.abspath(os.path.join(root, name))
                if name.endswith(".parquet") and full not in referenced:
                    os.unlink(full)
                    removed += 1
        # drop now-empty commit dirs
        for root, dirs, names in os.walk(data_dir, topdown=False):
            if root != data_dir and not dirs and not names:
                os.rmdir(root)
        return {"removed_files": removed}
