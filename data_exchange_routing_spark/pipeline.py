"""End-to-end CDC replay pipeline (SURVEY.md §3.1 restated Spark-first).

Per micro-batch (epoch), mirroring the reference pipe
parseMessage -> validateSourceBlobMeta -> validateDestinationRoutes ->
routeSourceBlobToDestination -> sendProcessingStatus
(RouteIngestedFile.kt:91-98; pipe: Util.kt:19-21):

1. normalize metadata keys + coalesce routing keys   (P3, P4)
2. validation error column; enrich valid rows' meta  (F1-F2, P6)
3. broadcast route join (1->N multicast) -> ONE projection giving each row
   its destination, or 'dead_letter' with its error and stage
                                                     (J1, F3-F4, M1, K3)
4. per destination: last-writer-wins dedup           (A-dedup)
5. vectorized text extraction on surviving rows only (P9 slot)
6. additive schema evolution from open metadata      (§1.3)
7. epoch-id-guarded merge commit                     (K1-K2, T1-T2)
8. lineage/metrics rows per (epoch, destination, bucket) (K4-K6)

Error rows never abort the batch (F12, CHANGELOG 0.0.40) — they divert to the
dead_letter table with exact error strings, through the same staged write as
the routed rows.

Scale shape per epoch: one scan of the batch (steps 1-3 are one projection,
not a filtered branch per outcome, so each event is read once), one
broadcast join (config ~5 rows), then ONE shuffle keyed (destination,
bucket) whose partition-local sort makes last-writer-wins dedup an
adjacency filter inside the same Arrow pass as text extraction, and
O(batch)-sized delta file writes written straight from that partitioning —
per-epoch cost is O(batch), independent of table size (merge-on-read lake
layer). Meta keys not yet promoted to columns are promoted after the write,
on the driver, by rewriting only the staged files that carry them.
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_exchange_routing_spark import __version__
from data_exchange_routing_spark.lake.staging import DEST_COL, promote_map_keys, stage_multicast_delta
from data_exchange_routing_spark.lake.table import (
    BUCKET_COL,
    DELETED_COL,
    LSN_COL,
    LakeTable,
    _atomic_replace_json,
    _dec_epochs,
    _enc_epochs,
)
from data_exchange_routing_spark.operators.dedup import fused_local_dedup_extract
from data_exchange_routing_spark.operators.parse import (
    coalesce_routing_keys,
    enriched_meta,
    normalize_meta_keys,
)
from data_exchange_routing_spark.operators.routing import DEAD_LETTER_DEST, route_or_dead_letter
from data_exchange_routing_spark.operators.validate import ERROR_COL, with_validation_error
from data_exchange_routing_spark.schemas import (
    CHANGE_EVENTS,
    DEAD_LETTER,
    LINEAGE_METRICS,
    WEB_PAGES,
)
from data_exchange_routing_spark.sources.configs import (
    DESTINATION_TABLES,
    default_route_config,
)

# meta keys that are plumbing, never promoted to top-level columns
STANDARD_META_KEYS = {
    "data_stream_id",
    "data_stream_route",
    "reporting_jurisdiction",
    "system_provider",
    "engine_version",
    "dex_ingest_datetime",
    "upload_id",
    "meta_destination_id",
    "meta_ext_event",
}

_PROMOTE_LOCK = threading.Lock()
OPEN_META_COL = "_open_meta"  # see _staged_columns


class Warehouse:
    """A directory of lake tables; replay progress lives in their guards."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.n_buckets = n_buckets
        os.makedirs(os.path.join(self.root, "_checkpoints"), exist_ok=True)

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def table(self, name: str) -> LakeTable:
        return LakeTable.load(self.spark, self.table_path(name))

    def init_tables(self) -> None:
        for name in DESTINATION_TABLES:
            LakeTable.create(self.spark, self.table_path(name), WEB_PAGES, key="url", n_buckets=self.n_buckets)
        LakeTable.create(self.spark, self.table_path("dead_letter"), DEAD_LETTER)
        LakeTable.create(self.spark, self.table_path("lineage_metrics"), LINEAGE_METRICS)

    # ---- replay progress: the lineage table's epoch guards (T3) ----
    # apply_epoch commits lineage_metrics LAST, so epoch N is done exactly
    # when N is in that snapshot's "lineage" guard. The guard is stored as
    # {w, extra} (contiguous prefix 0..w plus out-of-order ids), so progress
    # stays O(1) bytes at any epoch count. A bootstrapped consumer's vouch
    # floor rides in the same snapshot under the "vouched" guard key. Replay
    # and the binlog tail both commit WAL epoch ids, so the guard has one
    # meaning on every warehouse.

    def _progress(self) -> tuple[dict, int]:
        """(the encoded "lineage" guard, the vouched floor). Refuses a
        warehouse whose guard holds Structured Streaming batch ids (the
        "stream" key, set by the retired files stream source): read as WAL
        epochs they would skip real segments."""
        guards = self.table("lineage_metrics").snapshot().committed_epochs
        if "stream" in guards:
            raise ValueError(
                "this warehouse was fed by the retired files stream source: "
                "its lineage guard holds streaming batch ids, not WAL epochs. "
                "Re-bootstrap it into a fresh warehouse "
                "(operators/bootstrap.py) and tail the WAL from there"
            )
        lineage = guards.get("lineage", [])
        if not isinstance(lineage, dict):
            lineage = _enc_epochs(set(lineage))
        return lineage, guards.get("vouched", {}).get("w", -1) + 1

    def checkpoint_vouched_floor(self) -> int:
        """The highest WAL-truncation point a bootstrap ever vouched past:
        epochs below it were NEVER applied here (a snapshot import covers
        them), yet count as done."""
        return self._progress()[1]

    def completed_epochs(self) -> set[int]:
        lineage, vouched = self._progress()
        return _dec_epochs(lineage) | set(range(vouched))

    def vouch(self, floor: int) -> None:
        """Record that epochs below ``floor`` are not this consumer's to
        apply. Pass it ONLY for WAL positions that genuinely cannot need
        applying here (replay derives it as min(from_epoch,
        truncated_before(events_dir))). A metadata-only commit to
        lineage_metrics under the monotonic "vouched" guard, made only when
        the floor rises: a steady-state call writes nothing. The floor is
        read through ``_progress``, so a warehouse it refuses gets no
        commit."""
        if floor > 0 and floor > self.checkpoint_vouched_floor():
            t = self.table("lineage_metrics")
            t.commit_staged_files(
                [], t.snapshot().schema(), epoch_id=floor - 1, source="vouched",
                summary={"operation": "vouched"}, epoch_monotonic=True,
            )

    # ---- cross-table snapshot isolation (warehouse-level consistent cuts) --
    # Each table commits atomically on its own, but an epoch touches SEVERAL
    # tables (destinations + dead_letter + lineage); a reader joining two of
    # them mid-epoch could see epoch K in one and not the other. A consistent
    # cut is a per-table version vector whose committed-epoch guard sets all
    # agree — the guards already stored in every snapshot double as the
    # cross-table consistency witness, so verifying a cut costs a few KB of
    # metadata and zero data IO at any table size.

    PIPELINE_SOURCES = {"dead_letter": "dead_letter", "lineage_metrics": "lineage"}

    def list_tables(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "_meta"))
        )

    def consistent_snapshot(self, max_attempts: int = 20) -> dict[str, int]:
        """Pin every table at a version such that the pipeline tables'
        committed-epoch sets are identical (no torn epoch visible). Retries
        while commits race; raises loudly if no cut stabilizes — e.g. a
        half-committed epoch from a crashed driver (redeliver it to heal).
        Non-pipeline tables (user tables under the same root) are pinned at
        their current version without joining the epoch predicate."""
        pipeline_tables = set(DESTINATION_TABLES) | {"dead_letter", "lineage_metrics"}
        last = None
        for _ in range(max_attempts):
            pins: dict[str, int] = {}
            sets: dict[str, frozenset] = {}
            for name in self.list_tables():
                t = self.table(name)
                v = t.current_version()
                pins[name] = v
                if name in pipeline_tables and v > 0:
                    src = self.PIPELINE_SOURCES.get(name, "cdc")
                    sets[name] = frozenset(t.snapshot(v).epochs(src))
            if len(set(sets.values())) <= 1:
                return pins
            last = {k: sorted(v) for k, v in sets.items()}
        raise RuntimeError(
            f"no consistent cut after {max_attempts} attempts; "
            f"epoch sets disagree (torn epoch?): {last}"
        )

    def publish_snapshot(self, tag: str, pins: dict[str, int] | None = None) -> dict[str, int]:
        """Persist a consistent cut under a name (Iceberg tag analog).
        Exclusive-create: publishing an existing tag raises."""
        from data_exchange_routing_spark.lake.table import _atomic_write_json

        if not tag.replace("_", "").replace("-", "").isalnum():
            raise ValueError(f"invalid tag {tag!r}")
        pins = pins if pins is not None else self.consistent_snapshot()
        d = os.path.join(self.root, "_snapshots")
        os.makedirs(d, exist_ok=True)
        try:
            _atomic_write_json(os.path.join(d, f"{tag}.json"), pins)
        except FileExistsError:
            raise ValueError(f"snapshot tag {tag!r} already exists") from None
        return pins

    def _load_pins(self, tag: str) -> dict[str, int]:
        """The single source of truth for resolving a published tag to its
        pinned {table: version} map (read_consistent / register_views /
        rollback_to all route here)."""
        path = os.path.join(self.root, "_snapshots", f"{tag}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no snapshot tag {tag!r} in {self.root}")
        with open(path) as f:
            return json.load(f)

    def read_consistent(self, tag: str | None = None) -> dict[str, "DataFrame"]:
        """Time-travel reads of every table pinned to one consistent cut —
        either a published tag or a fresh cut. Joins across the returned
        DataFrames are snapshot-isolated: no later epoch leaks in. A tag
        whose pinned versions were expired (expire_snapshots) fails loudly
        on read. Tables created after the tag are absent from the dict."""
        pins = self._load_pins(tag) if tag is not None else self.consistent_snapshot()
        return self._pinned_reads(pins)

    def _pinned_reads(self, pins: dict[str, int]) -> dict[str, "DataFrame"]:
        return {
            name: self.table(name).read(version=v)
            for name, v in pins.items()
            if v > 0
        }

    def register_views(
        self, tag: str | None = None, prefix: str = "", metadata: bool = False
    ) -> list[str]:
        """Expose the warehouse to ``spark.sql``: one temp view per table.

        With ``tag`` (or tag=None meaning a fresh consistent cut is NOT
        taken — views track each table's LIVE current version at query
        time), analysts get the plain SQL surface; with a published tag the
        views pin to that consistent cut, so multi-table SQL joins are
        snapshot-isolated exactly like ``read_consistent``. ``prefix``
        namespaces the view names (e.g. "ws_"). Returns the view names.

        Scale note: a temp view is just the lazy plan — registering costs
        nothing; every SQL query re-plans through the same manifest-pruned
        ``read()`` the DataFrame API uses, so pushdown/pruning behavior is
        identical by construction."""
        out = []
        pins: dict[str, int] = {}
        if tag is not None:
            pins = self._load_pins(tag)  # ONE read; data + metadata share it
            dfs = self._pinned_reads(pins)
        else:
            dfs = {name: self.table(name).read() for name in self.list_tables()}
        for name, df in sorted(dfs.items()):
            view = f"{prefix}{name}"
            df.createOrReplaceTempView(view)
            out.append(view)
        if metadata:
            # Iceberg `table$files`-style metadata views: `<name>__files`,
            # `__snapshots`, `__partitions`, `__delete_files` — the SQL ops
            # surface (file-size skew, partition counts, snapshot timeline).
            # POINT-IN-TIME: each view materializes the manifest AS OF this
            # call (a LocalRelation of driver-side rows); later commits are
            # not reflected until register_views runs again — re-register
            # (or call metadata_df) for fresh state. With a ``tag`` the
            # metadata views resolve against the SAME pinned versions as
            # the data views (and tables outside the tag get no views at
            # all), so the whole registration describes ONE consistent
            # state — data and metadata alike.
            for name in sorted(dfs):
                t = self.table(name)
                ver = pins.get(name) if tag is not None else None
                for kind in ("files", "snapshots", "partitions", "delete_files"):
                    view = f"{prefix}{name}__{kind}"
                    t.metadata_df(kind, version=ver).createOrReplaceTempView(view)
                    out.append(view)
        return out

    def rollback_to(self, tag: str) -> dict:
        """Disaster recovery: roll every table back to a published consistent
        cut (see ``publish_snapshot``). Each table rollback is individually
        atomic (Iceberg semantics — a new snapshot with the old content,
        guards rewound), so rewinding lineage_metrics also rewinds replay
        progress (and the vouch floor with it) and the next ``replay()``
        redelivers the undone epochs and reconverges. lineage_metrics rolls
        back FIRST: after a crash partway the undone epochs already read as
        not done, so a replay redelivers them instead of skipping them, and
        re-running this call finishes the rollback; readers in between see
        per-table states all AT OR BEFORE the cut. A cut taken before
        lineage_metrics existed held no applied epoch, so that table rolls
        back to its empty first version.
        Returns ``undone_epochs``: the lineage-guard epochs the rollback
        removed."""
        pins = self._load_pins(tag)
        pins["lineage_metrics"] = max(pins.get("lineage_metrics", 0), 1)
        before = self.table("lineage_metrics").snapshot().epochs("lineage")
        out = {}
        for name, v in sorted(pins.items(), key=lambda kv: kv[0] != "lineage_metrics"):
            if v > 0:
                out[name] = self.table(name).rollback(v)
        after = self.table("lineage_metrics").snapshot().epochs("lineage")
        return {"tables": out, "undone_epochs": sorted(before - after)}

    # ---------------------------------------------- snapshot-keyed results
    def cached_result(
        self,
        name: str,
        fn,
        tables: list[str] | None = None,
    ) -> tuple["DataFrame", dict]:
        """Serving-layer memoization: the result of ``fn()`` (a DataFrame)
        is materialized under a fingerprint of its input tables' CURRENT
        version vector. While no input table commits, repeat calls serve the
        stored parquet without recomputation; any commit to any input table
        changes the fingerprint and the next call recomputes — correct
        invalidation for free from the snapshot versions (the same vector
        consistent cuts pin). Returns (df, {"hit": bool, "fingerprint":
        ...}). Publication is an atomic directory rename, so concurrent
        computers race safely (the loser serves the winner's files).
        ``vacuum_cache`` reclaims superseded fingerprints."""
        import hashlib
        import shutil
        import uuid as _uuid

        pins = {
            t: self.table(t).current_version()
            for t in (tables if tables is not None else self.list_tables())
        }
        fp = hashlib.md5(json.dumps(pins, sort_keys=True).encode()).hexdigest()[:16]
        base = os.path.join(self.root, "_cache", name)
        dest = os.path.join(base, fp)
        if os.path.isdir(dest):
            return self.spark.read.parquet(dest), {"hit": True, "fingerprint": fp}
        os.makedirs(base, exist_ok=True)
        tmp = os.path.join(base, f".tmp-{_uuid.uuid4().hex[:8]}")
        fn().write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, dest)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the publish race
        return self.spark.read.parquet(dest), {"hit": False, "fingerprint": fp}

    def vacuum_staging(self, min_age_s: float = 3600.0) -> dict:
        """GC the warehouse staging area. Committed epochs' staged files
        are referenced IN PLACE by table manifests (zero-copy commit), but
        two paths orphan whole staging dirs of real parquet: a crashed
        epoch attempt, and — the common one under at-least-once delivery —
        a REDELIVERED epoch, which stages its full batch before every
        per-table commit is guard-skipped. Nothing ever referenced those
        files, so each redelivery would otherwise leak an epoch of bytes
        forever.

        A staged file is removed iff NO retained snapshot or branch of ANY
        warehouse table references it (``LakeTable.referenced_data_paths``
        — the same walk ``vacuum_orphans`` uses, so time travel and WAP
        branches stay intact). In-flight safety is EXACT, not a clock
        heuristic: ``apply_epoch`` drops a ``<dir>.inflight`` sibling
        marker before staging and removes it after its commits land, and
        marked dirs are skipped regardless of references; ``min_age_s``
        applies ONLY to marked dirs (reclaiming crashed attempts whose
        marker never cleared — 1 h far exceeds any stage-to-commit
        latency). Unmarked unreferenced dirs reclaim immediately. All
        filesystem races with concurrent epochs/maintainers are tolerated
        (missing paths are someone else's progress, never an error)."""
        import shutil

        staging_root = os.path.join(self.root, "_staging")
        if not os.path.isdir(staging_root):
            return {"files_removed": 0, "dirs_removed": 0}
        # Snapshot marker state BEFORE the reference walk (ordering is the
        # TOCTOU defense): a dir observed unmarked HERE either committed
        # before this instant — its manifest already exists, so the walk
        # below necessarily lands its files in ``referenced`` — or it
        # crashed/was redelivered and nothing will ever reference it. The
        # reverse order (references first, markers second) has a window
        # where an epoch stages+commits+clears between the two walks and
        # its committed files look unmarked-and-unreferenced.
        marker_mtime_at_snapshot: dict[str, float | None] = {}
        for d in sorted(os.listdir(staging_root)):
            full_dir = os.path.join(staging_root, d)
            if d.endswith(".inflight") or not os.path.isdir(full_dir):
                continue
            try:
                marker_mtime_at_snapshot[d] = os.path.getmtime(full_dir + ".inflight")
            except OSError:
                marker_mtime_at_snapshot[d] = None
        referenced: set[str] = set()
        for name in self.list_tables():
            referenced |= self.table(name).referenced_data_paths()
        now = time.time()
        files_removed = dirs_removed = 0
        for d, marker_mtime in marker_mtime_at_snapshot.items():
            full_dir = os.path.join(staging_root, d)
            if not os.path.isdir(full_dir):
                continue  # vanished since the snapshot: progress elsewhere
            marker = full_dir + ".inflight"
            try:
                if marker_mtime is not None or os.path.exists(marker):
                    # in-flight (or crashed-in-flight): only the age gate may
                    # reclaim. "Activity" is the freshest of the marker mtime
                    # (touched at stage start and again just before commit)
                    # and any staged file's mtime — a long-running staging
                    # write keeps producing fresh files, so a legitimately
                    # slow epoch is never reclaimed mid-stage even when its
                    # stage-to-commit latency exceeds min_age_s.
                    newest = marker_mtime or 0.0
                    try:
                        newest = max(newest, os.path.getmtime(marker))
                    except OSError:
                        # marker vanished since the snapshot: the epoch
                        # committed and cleared it DURING our reference walk,
                        # so its manifests may post-date `referenced`. Skip —
                        # the next cycle sees a consistent unmarked state.
                        continue
                    for root, _dirs, names in os.walk(full_dir):
                        for nm in names:
                            try:
                                newest = max(
                                    newest,
                                    os.path.getmtime(os.path.join(root, nm)),
                                )
                            except OSError:
                                pass
                    if now - newest < min_age_s:
                        continue
                kept_any = False
                for root, _dirs, names in os.walk(full_dir):
                    for nm in names:
                        fp = os.path.abspath(os.path.join(root, nm))
                        if fp in referenced:
                            kept_any = True
                        elif nm.endswith(".parquet"):
                            try:
                                os.unlink(fp)
                                files_removed += 1
                            except OSError:
                                pass  # concurrent cleanup won the race
                if not kept_any:
                    shutil.rmtree(full_dir, ignore_errors=True)
                    if os.path.exists(marker):
                        os.unlink(marker)
                    dirs_removed += 1
            except OSError:
                continue  # dir/marker vanished mid-walk: progress elsewhere
        return {"files_removed": files_removed, "dirs_removed": dirs_removed}

    def vacuum_cache(self, name: str | None = None) -> dict:
        """Drop every cached fingerprint that no longer matches its query's
        current input versions is unknowable per-entry (inputs aren't stored
        per fp), so the policy is: keep each query's newest entry by mtime,
        drop the rest — superseded results are never served again anyway."""
        import shutil

        root = os.path.join(self.root, "_cache")
        if not os.path.isdir(root):
            return {"removed": 0}
        removed = 0
        names = [name] if name else os.listdir(root)
        for n in names:
            d = os.path.join(root, n)
            if not os.path.isdir(d):
                continue
            entries = sorted(
                (e for e in os.listdir(d) if not e.startswith(".tmp-")),
                key=lambda e: os.path.getmtime(os.path.join(d, e)),
            )
            for e in entries[:-1]:
                shutil.rmtree(os.path.join(d, e), ignore_errors=True)
                removed += 1
        return {"removed": removed}

    # ---- promoted-meta-key registry (open-world schema, amortized O(1)) ----
    def _promote_registry_path(self) -> str:
        return os.path.join(self.root, "_checkpoints", "promoted_meta_keys.json")

    def known_promote_keys(self) -> list[str]:
        try:
            with open(self._promote_registry_path()) as f:
                return sorted(json.load(f))
        except FileNotFoundError:
            return []

    def register_promote_keys(self, keys: list[str]) -> list[str]:
        """Union new keys into the registry (atomic replace; concurrent epochs
        serialize on the module lock — single-driver process)."""
        with _PROMOTE_LOCK:
            merged = sorted(set(self.known_promote_keys()) | set(keys))
            _atomic_replace_json(self._promote_registry_path(), merged)
            return merged


def project_events(events: DataFrame, route_config: DataFrame) -> DataFrame:
    """Normalize, validate, enrich and route a batch in ONE projection over
    one scan: every row comes out with its destination, or with
    ``destination_table='dead_letter'`` plus its ``error`` and ``stage``
    (see ``routing.route_or_dead_letter``). Enrichment happens after
    validation and only on valid rows (the reference validates raw metadata
    before enriching: RouteIngestedFile.kt:111-146 vs :196-209)."""
    batch = coalesce_routing_keys(normalize_meta_keys(events))
    flagged = with_validation_error(batch).withColumn(
        "meta",
        F.when(F.col(ERROR_COL).isNull(), enriched_meta(__version__)).otherwise(F.col("meta")),
    )
    return route_or_dead_letter(flagged, route_config)


def _staged_columns(promote: list[str]) -> list:
    """The staged write's columns over ``project_events`` output. Live rows
    carry the delta columns, one column per ``promote`` key and, in
    ``OPEN_META_COL``, their other non-standard meta keys (null when none
    is left: always, once the registry knows every key); dead rows carry
    only url, warc_ts, meta and their dead-letter lsn/error/stage, the
    other columns null."""
    live = F.col("error").isNull()
    skip = sorted(STANDARD_META_KEYS | set(promote))
    open_meta = F.map_filter(F.col("meta"), lambda k, _: ~k.isin(*skip))
    return [
        F.col(DEST_COL),
        F.col("url"),
        F.col("warc_ts"),
        F.when(live, F.col("html")).alias("html"),
        F.when(live, F.col("lang")).alias("lang"),
        F.when(live, F.col("lsn")).alias(LSN_COL),
        F.when(live, F.col("op") == "D").alias(DELETED_COL),
        *[F.when(live, F.col("meta").getItem(k)).alias(k) for k in promote],
        F.when(live & (F.size(open_meta) > 0), open_meta).alias(OPEN_META_COL),
        # meta rides along for the dead-letter rows; the fused op nulls it
        # for delta rows
        F.col("meta"),
        F.when(~live, F.col("lsn").cast("long")).alias("lsn"),
        F.col("error"),
        F.col("stage"),
    ]


def _mark_staging_inflight(staging: str) -> None:
    """Exact in-flight signal for ``Warehouse.vacuum_staging``: a sibling
    ``<dir>.inflight`` marker dropped BEFORE any staged byte exists and
    cleared only after the epoch's commits (and lineage) land — a crash in
    between leaves the marker, which the vacuum honors until its crash
    age-out."""
    os.makedirs(os.path.dirname(staging), exist_ok=True)
    with open(staging + ".inflight", "w") as f:
        f.write("")


def _clear_staging_inflight(staging: str) -> None:
    try:
        os.unlink(staging + ".inflight")
    except OSError:
        pass


def _touch_staging_inflight(staging: str) -> None:
    """Refresh the marker's mtime (called again just before commit): the
    vacuum's age gate measures activity as max(marker mtime, staged-file
    mtimes), so a slow stage followed by a slow commit never presents an
    hour-stale marker while the epoch is still alive."""
    try:
        os.utime(staging + ".inflight", None)
    except OSError:
        pass


def apply_epoch(
    wh: Warehouse,
    events: DataFrame,
    epoch_id: int,
    route_config: DataFrame | None = None,
) -> dict:
    """Apply one micro-batch of change events. Idempotent: re-running any
    epoch (crash replay, at-least-once redelivery of the whole batch) is a
    no-op thanks to per-table epoch guards.

    ONE full-batch Spark action per epoch, reading each event once:
      1. one projection (``project_events``) validates, enriches and routes
         every row: a routed row gets its destination (one row per valid
         route), a failing row gets destination 'dead_letter' plus its
         error and stage.
      2. the fused multicast write over that projection: ONE shuffle keyed
         (destination, bucket) -> partition-local sort -> last-writer-wins
         dedup per (destination, url) and text extraction in ONE Arrow pass
         -> staged parquet, dead-letter rows included. Dead letters are NOT
         deduplicated: at-least-once dead-lettering, like the reference.
      3. late meta keys (those the registry lacks, staged in
         ``OPEN_META_COL``) become columns on the driver: only the staged
         files that carry one are rewritten (every live file of a fresh
         warehouse's first epoch, else none unless a key is new), and the
         registry absorbs the keys for later epochs. No Spark job.
      4. per-table manifest commits run CONCURRENTLY, metadata-only (no
         Spark job); lineage rows come from parquet footer stats gathered
         during staging (no extra scan).
    """
    import uuid as _uuid
    from datetime import datetime, timezone

    t0 = time.time()
    if route_config is None:
        route_config = default_route_config(wh.spark)

    promote = wh.known_promote_keys()
    staged_input = project_events(events, route_config).select(*_staged_columns(promote))
    # ONE (dest, bucket) exchange + partition-local sort; dedup and
    # extraction in a single Arrow pass (operators/dedup.py), and the write
    # needs no second repartition
    fused = fused_local_dedup_extract(
        staged_input, wh.n_buckets, dest_col=DEST_COL, bucket_col=BUCKET_COL
    )
    staging = os.path.join(wh.root, "_staging", f"epoch-{epoch_id:08d}-{_uuid.uuid4().hex[:8]}")
    _mark_staging_inflight(staging)
    entries_by_dest = stage_multicast_delta(fused, staging, wh.n_buckets, pre_partitioned=True)
    late = promote_map_keys(
        [e for dest, es in entries_by_dest.items() if dest != DEAD_LETTER_DEST for e in es],
        OPEN_META_COL,
    )
    if late:
        wh.register_promote_keys(late)
    keep = {"url", "warc_ts", "html", "text", "lang", LSN_COL, DELETED_COL, *promote}
    delta_schema = T.StructType(
        [f for f in fused.schema.fields if f.name in keep]
        + [T.StructField(k, T.StringType(), True) for k in late]
    )

    # staging is complete; commits start now — refresh the in-flight
    # marker so the vacuum age gate sees activity even after a
    # longer-than-min_age_s staging write
    _touch_staging_inflight(staging)

    stats: dict = {
        "epoch_id": epoch_id,
        "destinations": {},
        "promoted_columns": sorted(promote + late),
    }

    lineage_rows = []
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    start = datetime.fromtimestamp(t0, timezone.utc).replace(tzinfo=None)

    def commit(name: str, schema: T.StructType, source: str):
        table = wh.table(name)
        entries = [
            dict(e, path=os.path.relpath(e["path"], table.path))
            for e in entries_by_dest.get(name, [])
        ]
        res = table.commit_staged_files(entries, schema, epoch_id=epoch_id, source=source)
        return name, entries, res

    # the target tables are independent — commit them concurrently to cut
    # the epoch's serial driver floor; lineage rows
    # list the destinations in sorted order, then dead_letter
    commits = [(dest, delta_schema, "cdc") for dest in sorted(set(DESTINATION_TABLES))]
    commits.append(("dead_letter", DEAD_LETTER, "dead_letter"))
    with ThreadPoolExecutor(max_workers=len(commits)) as ex:
        results = list(ex.map(lambda c: commit(*c), commits))
    for name, entries, res in results:
        if name != "dead_letter":
            stats["destinations"][name] = res
        for e in entries:
            lineage_rows.append(
                (
                    epoch_id,
                    e["bucket"],
                    name,
                    e["rows"],
                    e["bytes"],
                    datetime.fromisoformat(e["ts_max"]) if e["ts_max"] else None,
                    "FAILURE" if name == "dead_letter" else "SUCCESS",
                    None,
                    start,
                    now,
                )
            )

    # lineage rows are computed on the driver (footer stats): driver-side
    # parquet write + metadata-only commit, zero Spark jobs
    wh.table("lineage_metrics").append_rows(
        lineage_rows, LINEAGE_METRICS, epoch_id=epoch_id, source="lineage"
    )
    _clear_staging_inflight(staging)
    return stats


def replay(
    wh: Warehouse,
    events_dir: str,
    from_epoch: int | None = None,
    stop_after_epoch: int | None = None,
    compact_every: int | None = None,
    max_concurrent_epochs: int = 4,
) -> dict:
    """Bounded replay of a partitioned event log (binlog-segment dirs
    epoch_hint=K/), resuming from the lineage table's epoch guard (see
    ``Warehouse.completed_epochs``). The binlog tail,
    ``stream_ingest(source="binlog")`` (streaming/ingest.py), is this
    call's incremental mode: it applies the oldest ready epochs past the
    guard, a bounded number per call, through the same per-epoch path.
    ``from_epoch`` starts the tail at a given segment — the switchover
    position after a snapshot bootstrap (operators/bootstrap.py).

    Epochs are applied CONCURRENTLY (bounded): last-writer-wins resolution by
    (warc_ts, lsn) makes delta commits order-independent — the final state is
    identical whatever order epochs land in — so one epoch's driver-side
    commit/barrier time overlaps another's executor compute. Exactly-once is
    untouched (per-table per-epoch guards + optimistic commit retry); an
    epoch counts as done once its lineage commit, the last of the epoch,
    has landed. Compaction (when requested) runs at quiesce points.

    Only READY segments are applied, by the binlog stream reader's rule
    (``sources.pyds.ready_epochs``): a root _SUCCESS vouches for every
    segment, otherwise only the contiguous prefix of _SUCCESS-stamped
    segments — so a replay over a live WAL never applies (and marks done) a
    half-copied segment.
    """
    done, todo = _pending_epochs(wh, events_dir, from_epoch, stop_after_epoch)
    applied = _apply_epochs(wh, events_dir, todo, compact_every, max_concurrent_epochs)
    return {"applied_epochs": sorted(applied), "skipped_epochs": sorted(done)}


def _pending_epochs(
    wh: Warehouse,
    events_dir: str,
    from_epoch: int | None = None,
    stop_after_epoch: int | None = None,
) -> tuple[set[int], list[int]]:
    """Replay's bookkeeping, shared with the binlog tail: create missing
    tables, vouch past a truncated prefix, refuse a log truncated past
    unapplied epochs, and list the ready epochs not yet done. Returns
    (done, todo), todo oldest first."""
    from data_exchange_routing_spark.sources.pyds import ready_epochs, truncated_before

    wh.init_tables()
    start = from_epoch if from_epoch is not None else 0
    floor = truncated_before(events_dir)
    # The vouch floor is min(from_epoch, WAL truncation point): a
    # bootstrapped consumer (from_epoch at a truncated position) vouches
    # past the epochs the snapshot import covers, while a typo'd from_epoch
    # over a NON-truncated log vouches nothing — epochs below it stay
    # un-done and a plain re-run heals them.
    wh.vouch(min(start, floor))
    done = wh.completed_epochs()
    missing = [e for e in range(start, floor) if e not in done]
    if missing:
        raise ValueError(
            f"event log truncated before epoch {floor} but this consumer has "
            f"not applied epochs {missing[:5]}{'...' if len(missing) > 5 else ''}; "
            "bootstrap from a table snapshot (operators/bootstrap.py) and "
            f"replay with from_epoch>={floor}. A warehouse bootstrapped "
            "under the older _checkpoints/ progress files lost its vouch "
            f"with them: re-run replay(from_epoch={floor}) once; its "
            "_checkpoints/epoch-*.json and watermark.json are unused and "
            "may be deleted"
        )
    if not os.path.isdir(events_dir):
        raise FileNotFoundError(f"no event log at {events_dir}")
    todo = [
        e
        for e in ready_epochs(events_dir)
        if e not in done
        and (from_epoch is None or e >= from_epoch)
        and (stop_after_epoch is None or e <= stop_after_epoch)
    ]
    return done, todo


def _apply_epochs(
    wh: Warehouse,
    events_dir: str,
    todo: list[int],
    compact_every: int | None = None,
    max_concurrent_epochs: int = 4,
) -> list[int]:
    """Apply the segments ``todo`` lists, concurrently up to
    ``max_concurrent_epochs`` (see ``replay``); returns them."""
    from data_exchange_routing_spark.sources.pyds import segment_schema

    def run_one(e: int) -> int:
        # the schema comes from one footer on the driver: inferring it would
        # cost a Spark job per epoch. A segment with no parquet file (an
        # empty producer batch) reads as an empty epoch of the log schema.
        schema = segment_schema(events_dir, e) or CHANGE_EVENTS
        events = wh.spark.read.schema(schema).parquet(
            os.path.join(events_dir, f"epoch_hint={e}")
        )
        apply_epoch(wh, events, epoch_id=e)
        return e

    applied: list[int] = []
    if compact_every:
        # compaction rewrites whole tables: quiesce between groups
        for i in range(0, len(todo), compact_every):
            group = todo[i : i + compact_every]
            with ThreadPoolExecutor(max_workers=max_concurrent_epochs) as ex:
                applied.extend(ex.map(run_one, group))
            for dest in sorted(set(DESTINATION_TABLES)):
                wh.table(dest).compact()
    else:
        with ThreadPoolExecutor(max_workers=max_concurrent_epochs) as ex:
            applied.extend(ex.map(run_one, todo))
    return applied


def applied_watermark(wh: Warehouse) -> int:
    """The contiguous low watermark of replay progress: the smallest epoch
    NOT yet applied (every epoch below it is durably done or vouched). Read
    straight off the encoded lineage guard: its prefix ``w`` plus one,
    raised to the vouch floor and walked through the out-of-order ids."""
    lineage, vouched = wh._progress()
    n = max(lineage.get("w", -1) + 1, vouched)
    extra = set(lineage.get("extra", []))
    while n in extra:
        n += 1
    return n


def truncate_wal(
    wh: Warehouse, events_dir: str, extra_consumer_positions: tuple = ()
) -> dict:
    """WAL retention for the replay's event log: remove every segment all
    consumers have passed. The floor is the min of this warehouse's applied
    watermark and any ``extra_consumer_positions`` (e.g. a binlog
    ``readStream`` checkpoint's next_epoch, a downstream mirror's cursor) —
    pass every consumer or the lagging one loses data it has not read."""
    from data_exchange_routing_spark.sources.pyds import truncate_binlog

    positions = [int(p) for p in extra_consumer_positions]
    return truncate_binlog(events_dir, min(positions + [applied_watermark(wh)]))


def warehouse_health(wh: Warehouse, events_dir: str | None = None) -> dict:
    """Liveness/sanity probe — the reference's health-check endpoint analog
    (fns-routing/.../HealthCheckFunction.kt:7-23, which reports service
    liveness + dependency status). Metadata-only: reads each table's newest
    snapshot JSON, zero Spark jobs, so it is cheap enough for a poller.

    Returns {"ok": bool, "tables": {name: {version, n_files, rows, last_operation}}}
    with ok=False if any expected table is missing/unreadable. Pass
    ``events_dir`` to include the WAL's state (surviving segments, truncation
    floor, this warehouse's applied watermark and its lag behind the log
    head) — the numbers an ops loop alarms on."""
    expected = sorted(set(DESTINATION_TABLES)) + ["dead_letter", "lineage_metrics"]
    out: dict = {"ok": True, "tables": {}}
    for name in expected:
        try:
            t = wh.table(name)
            snap = t.snapshot()
            out["tables"][name] = {
                "version": snap.version,
                "n_files": len(snap.files),
                "rows": sum(f.get("rows", 0) for f in snap.files),
                "last_operation": snap.summary.get("operation"),
            }
        except Exception as e:  # noqa: BLE001 - a health probe reports, never raises
            out["ok"] = False
            out["tables"][name] = {"error": str(e)}
    if events_dir is not None:
        from data_exchange_routing_spark.sources.pyds import truncated_before

        try:
            segs = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(events_dir)
                if d.startswith("epoch_hint=")
            )
            wm = applied_watermark(wh)
            head = (segs[-1] + 1) if segs else truncated_before(events_dir)
            out["wal"] = {
                "segments": len(segs),
                "truncated_before": truncated_before(events_dir),
                "applied_watermark": wm,
                "lag_epochs": max(0, head - wm),
            }
        except Exception as e:  # noqa: BLE001
            out["ok"] = False
            out["wal"] = {"error": str(e)}
    return out


def reprocess_dead_letters(
    wh: Warehouse,
    events_dir: str,
    epoch_id: int,
    stages: tuple = ("route",),
    route_config: DataFrame | None = None,
) -> dict:
    """Fix-and-resubmit: re-ingest exactly the events that previously
    dead-lettered in the given ``stages``, under a (typically corrected)
    route config — the operational loop after a config gap is fixed.

    Shape: the dead-letter table yields the failed lsn set (a tiny distinct
    over an error table), the original event log is semi-joined down to just
    those events (predicate reaches the parquet scan), and the slice
    re-applies as ONE fresh epoch through the normal ``apply_epoch`` path —
    so exactly-once holds (re-running this call with the same ``epoch_id``
    is a no-op), rows that still fail dead-letter again under the new
    config, and rows that now route merge into their destinations with full
    lineage. Resolution markers (stage='resolved', error=the original
    stage) are appended for the lsns that now succeeded, so error-rate
    dashboards see the drain. Cost is O(failed events), never O(log).
    """
    # early-out on redelivery: the destination epoch guards are the truth
    # (pick any destination — apply_epoch commits the id to all of them)
    probe = wh.table(sorted(set(DESTINATION_TABLES))[0])
    if probe.snapshot().epoch_committed("cdc", epoch_id):
        return {"skipped": True, "epoch_id": epoch_id}
    dl = (
        wh.table("dead_letter")
        .read()
        .filter(F.col("stage").isin(*stages))
        .select("lsn")
        .distinct()
    )
    events = wh.spark.read.parquet(events_dir).join(dl, "lsn", "semi")
    stats = apply_epoch(wh, events, epoch_id, route_config=route_config)
    # which of the retried lsns STILL fail under the new config? The same
    # projection the epoch staged (metadata-only columns, no text work).
    cfg = route_config if route_config is not None else default_route_config(wh.spark)
    still = (
        project_events(events, cfg).filter(F.col("error").isNotNull()).select("lsn").distinct()
    )
    # resolution markers stay DISTRIBUTED end-to-end (VERDICT r03 item 5):
    # the retried-minus-still-failing set is an anti-join appended straight
    # into the error feed — no driver round-trip, so a poison-config epoch
    # with 10^8 failures resolves without materializing lsns on the driver
    resolved_df = (
        dl.join(still, "lsn", "left_anti")
        .select(
            F.lit(None).cast("string").alias("url"),
            F.col("lsn"),
            F.lit(f"reprocessed as epoch {epoch_id}").alias("error"),
            F.lit("resolved").alias("stage"),
            F.current_timestamp().alias("warc_ts"),
            F.lit(None).cast("map<string,string>").alias("meta"),
        )
    )
    res = wh.table("dead_letter").append(
        resolved_df, epoch_id=epoch_id, source="dead_letter_resolution"
    )
    stats["retried_lsns"] = dl.count()
    if res.get("skipped"):
        # epoch-guard no-op (this resolution append was already committed by
        # an earlier delivery): rows_added is absent, but the ORIGINAL
        # delivery did resolve rows — report the true count from the
        # recomputed anti-join rather than 0 (r04 advice)
        stats["resolved_lsns"] = dl.join(still, "lsn", "left_anti").count()
    else:
        stats["resolved_lsns"] = res.get("rows_added", 0)
    return stats


def maintain(
    wh: Warehouse,
    max_buckets_per_table: int = 4,
    min_delta_rows: int = 1,
    expire_keep_last: int | None = None,
    target_rows_per_bucket: int | None = None,
    minor: bool = False,
    retention: dict | None = None,
    wal_events_dir: str | None = None,
    wal_extra_consumer_positions: tuple = (),
    staging_min_age_s: float | None = 3600.0,
) -> dict:
    """One incremental maintenance cycle — the ops loop a 100 TB deployment
    runs between (or concurrently with) epochs. Per destination table: rank
    buckets by delta amplification (manifest-only, no scan), compact only the
    worst ``max_buckets_per_table`` — O(selected buckets), never O(table) —
    and optionally expire old snapshots + vacuum orphaned files. Repeated
    cycles converge every bucket; steady-state per-cycle cost is bounded
    regardless of table size.

    ``minor=True`` first folds every bucket's delta files into one
    (``compact_deltas`` — O(delta rows), base untouched), keeping read
    fan-in and the broadcast-resolve candidate set flat between the
    worst-bucket major compactions.

    ``target_rows_per_bucket`` enables bucket-count auto-growth: when the
    manifest's row total (no scan) exceeds target x n_buckets, the table is
    rebucketed to the next power of two that restores rows/bucket <= target
    — the growth path 16 -> 256 -> 1024 as the table grows. The rebucket
    already rewrites everything resolved, so selective compaction is skipped
    for that table this cycle.

    ``wal_events_dir`` adds WAL retention to the cycle: event-log segments
    below every consumer's position are garbage-collected (see
    ``truncate_wal``; pass other consumers' cursors via
    ``wal_extra_consumer_positions``).

    ``staging_min_age_s`` (default 1 h; ``None`` opts out) runs the
    warehouse staging GC each cycle: unreferenced UNMARKED staging dirs
    (completed redeliveries) reclaim immediately;
    dirs whose ``.inflight`` marker survives (a crashed epoch attempt)
    reclaim only once older than this age — a live epoch's marker clears
    at commit, so the knob only paces crash cleanup.

    ``retention`` = {table_name: (ts_col, cutoff_datetime)} applies
    metadata-only data expiry (``LakeTable.expire_data``) to the named
    APPEND-ONLY tables each cycle — the control-plane tables (lineage,
    dead_letter) grow forever otherwise; whole age-band files drop without a
    read. Keyed destination tables refuse (retention there is delete_where's
    job)."""
    report: dict = {}
    for dest in sorted(set(DESTINATION_TABLES)):
        t = wh.table(dest)
        entry: dict = {"compacted_buckets": []}
        grew = False
        if target_rows_per_bucket:
            snap = t.snapshot()
            # measure LIVE rows from base files only: delta files carry
            # superseded row versions and tombstones, so an update-churn
            # burst would otherwise permanently over-grow the bucket count
            # (n_buckets never shrinks). Only trust the measure while deltas
            # are the minority — a churn-heavy table compacts this cycle and
            # re-evaluates growth on the next one with fresh base files.
            base_rows = sum(f.get("rows", 0) for f in snap.files if f.get("kind") == "base")
            delta_rows = sum(f.get("rows", 0) for f in snap.files if f.get("kind") != "base")
            if delta_rows <= base_rows and base_rows > target_rows_per_bucket * snap.n_buckets:
                new_n = snap.n_buckets
                while base_rows > target_rows_per_bucket * new_n:
                    new_n *= 2
                entry["rebucket"] = t.rebucket(new_n)
                grew = entry["rebucket"].get("skipped") is False
        if not grew:  # rebucket already rewrote everything resolved
            stats = t.bucket_delta_stats()
            worst = [
                b
                for b, s in sorted(stats.items(), key=lambda kv: -kv[1]["delta_rows"])
                if b >= 0 and s["n_delta_files"] > 0 and s["delta_rows"] >= min_delta_rows
            ][:max_buckets_per_table]
            entry["compacted_buckets"] = worst
            if worst:
                entry["compact"] = t.compact(buckets=worst)
            if minor:
                # fold AFTER the major selection and only outside it: a
                # bucket about to be major-compacted would have its delta
                # rows rewritten twice (fold, then immediately into base)
                rest = [
                    b for b in range(t.snapshot().n_buckets) if b not in set(worst)
                ]
                entry["minor"] = t.compact_deltas(buckets=rest)
        if expire_keep_last is not None:
            entry["expire"] = t.expire_snapshots(keep_last=expire_keep_last)
            entry["vacuum"] = t.vacuum_orphans()
        report[dest] = entry
    for name, (col, cutoff) in (retention or {}).items():
        t = wh.table(name)
        report.setdefault(name, {})["retention"] = t.expire_data(col, cutoff)
        if expire_keep_last is not None:
            t.expire_snapshots(keep_last=expire_keep_last)
            t.vacuum_orphans()
    if wal_events_dir is not None:
        # WAL GC rides the same ops cycle: drop segments every consumer has
        # passed (pass every other consumer's cursor or the laggard loses
        # data)
        report["wal"] = truncate_wal(
            wh, wal_events_dir, wal_extra_consumer_positions
        )
    if staging_min_age_s is not None:
        # orphaned staging dirs (crashed attempts + at-least-once epoch
        # REDELIVERIES, which stage a full batch every guard-skipped commit)
        # otherwise accumulate forever; age gate protects in-flight epochs
        report["staging_vacuum"] = wh.vacuum_staging(min_age_s=staging_min_age_s)
    return report
