"""Spark 4 Python Data Source API integrations: `warc` (batch) + `binlog`
(streaming WAL tail).

Two first-class `spark.dataSource.register` sources replace the ad-hoc
edges with catalog-native formats:

- ``spark.read.format("warc").load(dir)`` — Common-Crawl-style WARC files
  as a real batch source: one InputPartition per .warc file (the native
  crawl layout is millions of ~1 GB files, so per-file splits saturate any
  executor count; a CDX/SURT capture index — functions/crawl.py — is the
  documented path to sub-file record-offset splits). Parsing reuses the
  byte-exact framing parser in sources/warc.py; rows come back as pyarrow
  RecordBatches, so no per-row Python materialization happens on the
  executors.

- ``spark.readStream.format("binlog").load(dir)`` — the binlog-segment
  event log (epoch_hint=K/ parquet dirs, the same layout pipeline.replay
  tails) as a REAL Structured Streaming source with offset semantics:
  offsets are {"next_epoch": K}, `latestOffset` advances over fully-written
  segments only, maxEpochsPerBatch bounds the later triggers of a
  continuous query (see `latestOffset`), and partitions() exposes one
  InputPartition per parquet file inside each segment so a micro-batch scan
  parallelizes exactly like the batch path. read() streams pyarrow
  RecordBatches straight off the parquet footers — zero per-row Python.
  Offset/commit durability lives in the normal streaming checkpoint, so a
  restarted query resumes at the committed epoch with no duplicates
  (contract-tested in tests/test_pyds.py).

Reference analog: the reference's queue-triggered consumption
(fns-routing/.../RouteIngestedFile.kt + spikes/.../FnRouter.kt:29-39) is an
event tail with provider-managed offsets; this module is that edge
re-expressed as Spark's own source contract instead of a side-car listener.

Scale shape: segment discovery is an O(#segments) driver listing (cheap:
one dirent per epoch); all data IO happens in executor-side read() over
per-file partitions. A 10^10-event log at ~10^6 events/segment is ~10^4
dirents — trivial. The _SUCCESS-gated visibility rule means a segment being
written concurrently by the producer is never half-read.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

# ---------------------------------------------------------------------------
# WARC batch source
# ---------------------------------------------------------------------------

WARC_DDL = (
    "uri string, rec_type string, warc_date string, record_id string, "
    "content_length bigint, payload binary, warc_path string"
)


class _WarcFilePartition(InputPartition):
    def __init__(self, path: str, start: int = 0, length: int = -1):
        self.path = path
        self.start = start
        self.length = length  # -1 = to end of file


class _WarcReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("warc source requires .load(path)")
        self.path = path
        self.suffix = options.get("suffix", ".warc")
        self.cdx_path = options.get("cdxpath", options.get("cdxPath"))
        self.max_split = int(
            options.get("maxbytespersplit", options.get("maxBytesPerSplit", 128 << 20))
        )

    def _files(self) -> list[str]:
        files = []
        if os.path.isfile(self.path):
            files = [self.path]
        else:
            for root, _dirs, names in os.walk(self.path):
                files.extend(
                    os.path.join(root, n)
                    for n in names
                    if n.endswith((self.suffix, self.suffix + ".gz"))
                    and not n.startswith(("_", "."))
                )
        if not files:
            raise FileNotFoundError(f"no *{self.suffix} files under {self.path}")
        return sorted(files)

    def partitions(self):
        """Driver-side planning. Default: one partition per file (the native
        crawl layout). With ``cdxPath``: ranged partitions of at most
        ``maxBytesPerSplit`` bytes, cut ON RECORD BOUNDARIES from the CDX
        byte-offset index (sources/warc.py:build_warc_cdx) — intra-file
        parallelism for ~1 GB crawl files without re-parsing anything on the
        driver. The CDX is validated against the directory listing and each
        file's on-disk size: a missing/extra file or non-contiguous framing
        (stale index after rewrite/append) fails loudly rather than silently
        dropping records."""
        files = self._files()
        if not self.cdx_path:
            return [_WarcFilePartition(p) for p in files]
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            self.cdx_path, columns=["warc_path", "rec_offset", "rec_bytes"]
        )
        spans: dict[str, list[tuple[int, int]]] = {}
        for p, off, nb in zip(
            tbl.column("warc_path").to_pylist(),
            tbl.column("rec_offset").to_pylist(),
            tbl.column("rec_bytes").to_pylist(),
        ):
            spans.setdefault(p, []).append((off, nb))
        if set(spans) != set(files):
            raise ValueError(
                f"warc cdx/directory mismatch: cdx-only={sorted(set(spans) - set(files))} "
                f"dir-only={sorted(set(files) - set(spans))}"
            )
        parts = []
        for p in files:
            recs = sorted(spans[p])
            pos = 0
            for off, nb in recs:
                if off != pos:
                    raise ValueError(
                        f"stale warc cdx for {p}: record at {off}, expected {pos}"
                    )
                pos = off + nb
            if pos != os.path.getsize(p):
                raise ValueError(
                    f"stale warc cdx for {p}: indexed {pos} bytes, file has "
                    f"{os.path.getsize(p)}"
                )
            start, length = recs[0][0], 0
            for off, nb in recs:
                if length and length + nb > self.max_split:
                    parts.append(_WarcFilePartition(p, start, length))
                    start, length = off, 0
                length += nb
            parts.append(_WarcFilePartition(p, start, length))
        return parts

    def read(self, partition: _WarcFilePartition) -> Iterator:
        # executor-side: parse one file (or one record-aligned byte range),
        # emit arrow batches (no per-row rows)
        import pyarrow as pa

        from data_exchange_routing_spark.sources.warc import (
            maybe_gunzip,
            parse_warc,
            record_columns,
        )

        with open(partition.path, "rb") as f:
            if partition.length >= 0:
                f.seek(partition.start)
                buf = f.read(partition.length)
            else:
                buf = f.read()
        # .warc.gz: member-per-record gzip — a CDX range is whole members, so
        # a ranged slice decompresses standalone (magic-sniffed, not by name)
        buf = maybe_gunzip(buf)
        cols = record_columns(parse_warc(buf))
        n = len(cols["uri"])
        yield pa.RecordBatch.from_pydict(
            {
                "uri": pa.array(cols["uri"], pa.string()),
                "rec_type": pa.array(cols["rec_type"], pa.string()),
                "warc_date": pa.array(cols["warc_date"], pa.string()),
                "record_id": pa.array(cols["record_id"], pa.string()),
                "content_length": pa.array(cols["content_length"], pa.int64()),
                "payload": pa.array(cols["payload"], pa.binary()),
                "warc_path": pa.array([partition.path] * n, pa.string()),
            }
        )


class _WarcCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str, n_records: int):
        self.tmp_path = tmp_path
        self.n_records = n_records


class _WarcWriter(DataSourceWriter):
    """One WARC file per task, two-phase commit: tasks write to hidden
    ``.tmp-*.warc`` names (invisible to the reader's listing), the driver
    renames exactly the SUCCESSFUL tasks' files into ``part-NNNNN.warc`` and
    stamps ``_SUCCESS``. A retried/zombie task attempt leaves only an orphan
    tmp file that commit() sweeps — never a duplicate record."""

    def __init__(self, options: dict, overwrite: bool):
        path = options.get("path")
        if not path:
            raise ValueError("warc sink requires .save(path)")
        self.path = path
        self.overwrite = overwrite
        self.uri_col = options.get("uricol", options.get("uriCol", "uri"))
        self.payload_col = options.get("payloadcol", options.get("payloadCol", "payload"))
        codec = (options.get("compression") or "none").lower()
        if codec not in ("none", "gzip"):
            raise ValueError(f"warc sink compression must be none|gzip, got {codec!r}")
        # gzip = ONE member per record (the Common Crawl wire format): the
        # file stays record-splittable at compressed offsets via the CDX
        self.gz = codec == "gzip"
        self.ext = ".warc.gz" if self.gz else ".warc"

    def write(self, rows) -> _WarcCommit:  # executor-side, one call per task
        import uuid as _uuid

        from data_exchange_routing_spark.sources.warc import (
            build_warc_record,
            build_warc_record_gz,
        )

        rec = build_warc_record_gz if self.gz else build_warc_record
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{_uuid.uuid4().hex}{self.ext}")
        n = 0
        with open(tmp, "wb") as f:
            for row in rows:
                payload = row[self.payload_col]
                f.write(
                    rec(
                        row[self.uri_col],
                        bytes(payload) if payload is not None else b"",
                    )
                )
                n += 1
        return _WarcCommit(tmp, n)

    def commit(self, messages) -> None:  # driver-side
        import json as _json

        os.makedirs(self.path, exist_ok=True)  # zero-task write: empty dir + marker
        # _SUCCESS carries the PUBLISHED part list: a crashed earlier commit
        # (renames done, marker not written) leaves parts outside the
        # manifest, and the retry removes exactly those before publishing —
        # append mode can never double-publish an attempt's records. A
        # legacy empty _SUCCESS (pre-manifest) vouches for all current parts.
        # A MISSING _SUCCESS is ambiguous: it could be this writer's very
        # first commit crashing between rename and marker, OR a directory
        # whose marker was lost (copied without it, cleaned up, or parts
        # written by another tool). Unlinking would destroy foreign data in
        # the second case, so suspected orphans are QUARANTINED (renamed to
        # a dot-prefixed name invisible to readers) instead of deleted:
        # the crash-retry still can't double-publish, and a lost-marker
        # directory keeps its bytes recoverable.
        published: set[str] = set()
        marker = os.path.join(self.path, "_SUCCESS")
        marker_exists = os.path.exists(marker)
        if marker_exists:
            try:
                with open(marker) as fh:
                    published = set(_json.load(fh))
            except (ValueError, OSError):
                published = {
                    n for n in os.listdir(self.path)
                    if n.startswith("part-") and n.endswith((".warc", ".warc.gz"))
                }
        if self.overwrite:
            for name in os.listdir(self.path):
                if name.endswith((".warc", ".warc.gz")) and not name.startswith("."):
                    os.unlink(os.path.join(self.path, name))
            published = set()
        else:
            for name in os.listdir(self.path):  # crashed-attempt orphans
                if (
                    name.startswith("part-")
                    and name.endswith((".warc", ".warc.gz"))
                    and name not in published
                ):
                    full = os.path.join(self.path, name)
                    if marker_exists:
                        # provably this writer's own crashed attempt
                        # (every real commit rewrites the manifest)
                        os.unlink(full)
                    else:
                        # collision-safe quarantine name: a crash-retry can
                        # legitimately quarantine a SECOND part-00000 (its
                        # own crashed rename) — os.replace onto the first
                        # quarantined file would destroy the foreign bytes
                        # this path exists to preserve
                        q = os.path.join(self.path, f".quarantine-{name}")
                        i = 1
                        while os.path.exists(q):
                            q = os.path.join(self.path, f".quarantine-{i}-{name}")
                            i += 1
                        os.replace(full, q)
        # append mode numbers new files after the published max part index so
        # a second write never clobbers a prior commit's files
        existing = [int(n[5:10]) for n in published if n[5:10].isdigit()]
        base = max(existing) + 1 if existing else 0
        i = 0
        for m in sorted((m for m in messages if m), key=lambda m: m.tmp_path):
            if m.n_records == 0:
                os.unlink(m.tmp_path)
                continue
            name = f"part-{base + i:05d}{self.ext}"
            os.rename(m.tmp_path, os.path.join(self.path, name))
            published.add(name)
            i += 1
        for name in os.listdir(self.path):  # sweep zombie-attempt orphans
            if name.startswith(".tmp-"):
                os.unlink(os.path.join(self.path, name))
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(sorted(published), fh)
        os.replace(tmp, marker)

    def abort(self, messages) -> None:
        for m in messages:
            if m and os.path.exists(m.tmp_path):
                os.unlink(m.tmp_path)


class WarcDataSource(DataSource):
    """``spark.read.format("warc")`` / ``df.write.format("warc")`` —
    ISO 28500 WARC files: one read partition per file (or record-aligned
    sub-file ranges via ``cdxPath`` + ``maxBytesPerSplit``), one written
    file per task, byte-exact Content-Length framing (sources/warc.py)."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> str:
        return WARC_DDL

    def reader(self, schema) -> _WarcReader:
        return _WarcReader(self.options)

    def writer(self, schema, overwrite: bool) -> _WarcWriter:
        names = set(schema.fieldNames())
        uri = self.options.get("uricol", self.options.get("uriCol", "uri"))
        payload = self.options.get("payloadcol", self.options.get("payloadCol", "payload"))
        if uri not in names or payload not in names:
            raise ValueError(
                f"warc sink needs columns {uri!r} (string) and {payload!r} "
                f"(binary); got {sorted(names)}"
            )
        return _WarcWriter(self.options, overwrite)


# ---------------------------------------------------------------------------
# Binlog streaming source (WAL tail with epoch offsets)
# ---------------------------------------------------------------------------


def _list_epochs(path: str) -> list[int]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        int(d.split("=", 1)[1]) for d in names if d.startswith("epoch_hint=")
    )


def ready_epochs(path: str) -> list[int]:
    """The WAL segments a consumer may apply, in epoch order — the one
    readiness rule of both consumers (``pipeline.replay`` and the binlog
    stream reader). A segment is ready when its own _SUCCESS marker exists
    (incremental per-segment producer) OR the log root carries one
    (whole-log batch write — Spark's commit protocol writes root _SUCCESS
    last, after every task file is renamed into place; the binlog stream
    WRITER retires the root marker before appending, so a mixed log always
    gates per segment). CONTIGUOUS PREFIX ONLY: an existing-but-unready
    segment dir hides every later epoch — without this, a consumer would
    advance past a mid-commit segment and its rows would be permanently
    skipped once its marker lands below the consumer's position."""
    root_ok = os.path.exists(os.path.join(path, "_SUCCESS"))
    out: list[int] = []
    for e in _list_epochs(path):
        if not (
            root_ok
            or os.path.exists(os.path.join(path, f"epoch_hint={e}", "_SUCCESS"))
        ):
            break
        out.append(e)
    return out


TRUNCATE_MARKER = "_truncated_before"


def truncated_before(path: str) -> int:
    """The WAL's truncation floor: every epoch below it has been removed by
    ``truncate_binlog`` (0 when the log was never truncated)."""
    try:
        with open(os.path.join(path, TRUNCATE_MARKER)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return 0


def truncate_binlog(path: str, before_epoch: int) -> dict:
    """WAL retention (binlog log GC): delete segment dirs with epoch <
    ``before_epoch`` — call it only with a floor every consumer has passed
    (``pipeline.truncate_wal`` derives one from the replay's applied
    watermark, which the lineage table's epoch guard holds).

    Crash-safe ordering: the floor marker is published FIRST (atomic
    tmp+rename), then victim dirs are removed — a crash in between leaves a
    marker above some surviving segments, which readers treat as the
    authoritative floor, so nothing is ever double-read or silently skipped.
    The streaming binlog source needs no marker (a fresh checkpoint starts
    at the first surviving segment and offset ranges skip gaps), but
    ``pipeline.replay`` refuses a fresh/behind warehouse whose missing
    epochs were truncated — those consumers bootstrap from a table snapshot
    (operators/bootstrap.py) instead of reading a hole."""
    import shutil

    floor = max(int(before_epoch), truncated_before(path))
    victims = [e for e in _list_epochs(path) if e < floor]
    tmp = os.path.join(path, f".{TRUNCATE_MARKER}.tmp")
    with open(tmp, "w") as f:
        f.write(str(floor))
    os.replace(tmp, os.path.join(path, TRUNCATE_MARKER))
    for e in victims:
        shutil.rmtree(os.path.join(path, f"epoch_hint={e}"), ignore_errors=True)
    return {"removed_epochs": victims, "truncated_before": floor}


def _segment_files(path: str, epoch: int) -> list[str]:
    d = os.path.join(path, f"epoch_hint={epoch}")
    return sorted(
        os.path.join(d, n)
        for n in os.listdir(d)
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    )


def segment_schema(path: str, epoch: int):
    """The Spark schema of WAL segment ``epoch``, taken on the driver from
    one parquet footer (no Spark job), or None for a segment holding no
    parquet file. The file columns exactly as written: the partition column
    (epoch_hint) is directory metadata and not part of it."""
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import from_arrow_schema

    files = _segment_files(path, epoch)
    return from_arrow_schema(pq.read_schema(files[0])) if files else None


class _BinlogPartition(InputPartition):
    def __init__(self, file: str, epoch: int):
        self.file = file
        self.epoch = epoch


class _BinlogStreamReader(DataSourceStreamReader):
    """Offsets are {"next_epoch": K}: everything below K is committed.

    The producer contract is pipeline.replay's (``ready_epochs``): a
    segment dir epoch_hint=K is visible once its _SUCCESS marker exists
    (Spark's own parquet commit protocol writes it last), so latestOffset
    never exposes a half-written segment."""

    def __init__(self, options: dict, schema):
        path = options.get("path")
        if not path:
            raise ValueError("binlog source requires .load(path)")
        self.path = path
        self.schema = schema
        self.max_epochs = int(options.get("maxepochsperbatch", options.get("maxEpochsPerBatch", 0)) or 0)

    def initialOffset(self) -> dict:
        eps = ready_epochs(self.path)
        return {"next_epoch": eps[0] if eps else 0}

    def latestOffset(self) -> dict:
        """What maxEpochsPerBatch bounds: only triggers after a commit this
        reader has seen. Spark 4.1 runs ``PythonMicroBatchStream`` under
        ``Trigger.AvailableNow`` as ONE batch over everything outstanding
        (it logs that the trigger is unsupported and falls back), and the
        first trigger of any (re)started query reads all outstanding
        segments too; so only the second and later triggers of a
        continuous (processingTime) query are bounded. The warehouse tail,
        ``stream_ingest(source="binlog")``, runs no query and bounds every
        call itself."""
        # monotone: never below the committed offset or the truncation floor
        # (after a full WAL truncation an empty listing must not regress the
        # checkpoint to 0 and grind through bounded empty batches)
        base = max(self._committed or 0, truncated_before(self.path))
        eps = ready_epochs(self.path)
        if not eps:
            return {"next_epoch": base}
        hi = max(eps[-1] + 1, base)
        if self.max_epochs and self._committed is not None:
            # backpressure: bound each micro-batch to maxEpochsPerBatch
            # segments past the last committed offset. Only once a commit
            # has been seen THIS run — after a restart the checkpointed
            # start offset is unknown here, and bounding from the oldest
            # segment could place `end` below `start`; the first trigger
            # after any (re)start therefore reads everything outstanding,
            # and subsequent triggers are bounded.
            hi = min(hi, self._committed + self.max_epochs)
        return {"next_epoch": hi}

    _committed: int | None = None

    def partitions(self, start: dict, end: dict):
        parts = []
        ready = set(ready_epochs(self.path))
        for e in range(start["next_epoch"], end["next_epoch"]):
            if e in ready:
                parts.extend(_BinlogPartition(f, e) for f in _segment_files(self.path, e))
        # an all-gap range still needs >=1 partition (Spark requires it)
        return parts or [_BinlogPartition("", start["next_epoch"])]

    def read(self, partition: _BinlogPartition) -> Iterator:
        if not partition.file:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        # Spark's Arrow ingest wants exactly the types to_arrow_schema maps
        # (timestamp[us, tz=UTC], not parquet's ns) — cast each batch once,
        # columnar, still zero per-row Python
        target = to_arrow_schema(self.schema)
        pf = pq.ParquetFile(partition.file)
        for batch in pf.iter_batches():
            tbl = pa.Table.from_batches([batch]).select(target.names).cast(target)
            yield from tbl.to_batches()

    def commit(self, end: dict) -> None:
        self._committed = end["next_epoch"]


class _BinlogWriteCommit(WriterCommitMessage):
    def __init__(self, file: str, rows: int):
        self.file = file
        self.rows = rows


class _BinlogStreamWriter(DataSourceStreamWriter):
    """The PRODUCER half of the WAL: each micro-batch becomes one
    ``epoch_hint=<batchId>`` parquet segment, published atomically.

    Two-phase commit per batch: tasks write parquet files under a hidden
    ``_wip-<batchId>/`` dir (invisible to _list_epochs), the driver moves
    exactly the successful attempts' files into the segment dir, stamps the
    per-segment ``_SUCCESS`` the reader's visibility rule keys on, and
    sweeps the wip dir (zombie attempts die there, never duplicate). A
    redelivered batchId whose segment already carries ``_SUCCESS`` is a
    metadata no-op — exactly-once end to end when paired with the binlog
    reader's checkpointed offsets."""

    def __init__(self, options: dict, schema):
        path = options.get("path")
        if not path:
            raise ValueError("binlog sink requires .option('path', dir)")
        self.path = path
        self.schema = schema

    def write(self, rows) -> _BinlogWriteCommit:  # executor-side
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        names = self.schema.fieldNames()
        cols: list[list] = [[] for _ in names]
        n = 0
        for row in rows:
            for i in range(len(names)):
                cols[i].append(row[i])
            n += 1
        ctx = _current_batch_dir(self.path)
        os.makedirs(ctx, exist_ok=True)
        file = os.path.join(ctx, f"part-{_uuid.uuid4().hex}.parquet")
        tbl = pa.Table.from_arrays(
            [pa.array(c, type=target.field(i).type) for i, c in enumerate(cols)],
            schema=target,
        )
        pq.write_table(tbl, file)
        return _BinlogWriteCommit(file, n)

    def commit(self, messages, batchId: int) -> None:  # driver-side
        import shutil

        seg = os.path.join(self.path, f"epoch_hint={batchId}")
        wip = os.path.join(self.path, f"_wip-{batchId}")
        if os.path.exists(os.path.join(seg, "_SUCCESS")):
            shutil.rmtree(wip, ignore_errors=True)  # redelivery: no-op
            return
        # a root _SUCCESS (whole-log batch bootstrap) would vouch for every
        # FUTURE segment too; before this producer appends, migrate the log
        # to per-segment gating: stamp each existing segment's own marker,
        # then retire the root one. Readers see either state consistently.
        root = os.path.join(self.path, "_SUCCESS")
        if os.path.exists(root):
            for e in _list_epochs(self.path):
                m = os.path.join(self.path, f"epoch_hint={e}", "_SUCCESS")
                if not os.path.exists(m):
                    with open(m, "w"):
                        pass
            os.unlink(root)
        os.makedirs(seg, exist_ok=True)
        # a segment dir WITHOUT _SUCCESS is a crashed earlier attempt: its
        # renamed files are uncommitted — clear them or the redelivered
        # batch would publish every row twice
        for n in os.listdir(seg):
            if n.endswith(".parquet"):
                os.unlink(os.path.join(seg, n))
        for m in messages:
            if m and m.rows > 0:
                os.rename(m.file, os.path.join(seg, os.path.basename(m.file)))
        with open(os.path.join(seg, "_SUCCESS"), "w"):
            pass
        shutil.rmtree(wip, ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.path, f"_wip-{batchId}"), ignore_errors=True)


def _current_batch_dir(path: str) -> str:
    """Wip dir for the batch this task belongs to. The task context exposes
    the streaming batch id via the TaskContext local property Spark sets for
    every micro-batch ('streaming.sql.batchId')."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    bid = ctx.getLocalProperty("streaming.sql.batchId") if ctx else None
    if bid is None:
        raise RuntimeError("binlog sink: no streaming batch id on task context")
    return os.path.join(path, f"_wip-{bid}")


class BinlogDataSource(DataSource):
    """``spark.readStream.format("binlog")`` — tail an epoch-segmented
    parquet event log with real offset semantics. The schema is inferred
    once on the driver from the first ready segment's parquet footer."""

    @classmethod
    def name(cls) -> str:
        return "binlog"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("binlog source requires .load(path)")
        eps = _list_epochs(path)
        if not eps:
            raise FileNotFoundError(f"no epoch_hint=K segments under {path}")
        # prefer a READY segment (same gate as the reader): a dir mid-commit
        # may transiently hold no parquet files and must not fail the query;
        # then fall back to any segment with files (legacy logs)
        for e in ready_epochs(path) + eps:
            schema = segment_schema(path, e)
            if schema is not None:
                return schema
        raise FileNotFoundError(
            f"no committed segment with parquet files under {path}"
        )

    def streamReader(self, schema) -> _BinlogStreamReader:
        return _BinlogStreamReader(self.options, schema)

    def streamWriter(self, schema, overwrite: bool) -> _BinlogStreamWriter:
        return _BinlogStreamWriter(self.options, schema)


def register_sources(spark) -> None:
    """Idempotently register both sources on a session."""
    spark.dataSource.register(WarcDataSource)
    spark.dataSource.register(BinlogDataSource)
