"""Spark 4 Python Data Source API edges (sources/pyds.py): the `warc` batch
source and the `binlog` streaming WAL tail.

Contracts:
- warc DS == the existing binaryFile+mapInPandas path, byte-identically;
- one InputPartition per WARC file (the crawl-native split);
- malformed WARC fails loudly (no silent truncation);
- binlog stream drain == batch parquet read of the same segments, value-equal;
- offsets live in the streaming checkpoint: a restarted query picks up ONLY
  segments committed after the first run, no duplicates, no gaps;
- per-segment _SUCCESS gating: an un-marked (in-flight) segment is invisible.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_exchange_routing_spark.sources.pyds import register_sources
from data_exchange_routing_spark.sources.warc import build_warc_record, scan_warc


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_sources(spark)
    register_sources(spark)  # idempotent re-register must not break


def _write_warcs(root: str, n_files: int = 3, recs_per_file: int = 5) -> None:
    os.makedirs(root, exist_ok=True)
    for i in range(n_files):
        with open(os.path.join(root, f"crawl-{i}.warc"), "wb") as f:
            f.write(
                b"".join(
                    build_warc_record(
                        f"https://s{i}.example/p/{j}", f"body {i}/{j} é".encode()
                    )
                    for j in range(recs_per_file)
                )
            )


def test_warc_pyds_matches_mapinpandas_path(spark, tmp_path):
    root = str(tmp_path / "warcs")
    _write_warcs(root)
    ds = spark.read.format("warc").load(root)
    legacy = scan_warc(spark, root)

    def canon(df):
        return sorted(
            tuple(r)
            for r in df.select(
                "uri", "rec_type", "warc_date", "record_id",
                "content_length", F.md5(F.col("payload")).alias("m"),
            ).collect()
        )

    a, b = canon(ds), canon(legacy)
    assert len(a) == 15
    assert a == b


def test_warc_pyds_one_partition_per_file(spark, tmp_path):
    root = str(tmp_path / "warcs")
    _write_warcs(root, n_files=4)
    ds = spark.read.format("warc").load(root)
    assert ds.rdd.getNumPartitions() == 4
    # provenance column maps every record to its source file
    per_file = {r["warc_path"]: r["n"] for r in ds.groupBy("warc_path").agg(F.count("*").alias("n")).collect()}
    assert len(per_file) == 4 and all(n == 5 for n in per_file.values())


def test_warc_pyds_malformed_fails_loudly(spark, tmp_path):
    root = str(tmp_path / "bad")
    os.makedirs(root)
    with open(os.path.join(root, "x.warc"), "wb") as f:
        f.write(b"NOT A WARC AT ALL")
    with pytest.raises(Exception, match="WARC"):
        spark.read.format("warc").load(root).count()


def _canon_events(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "lsn", "op", "url",
            F.col("warc_ts").cast("string").alias("ts"),
            F.md5(F.col("html")).alias("h"),
            "lang", "content_type",
            F.to_json(F.col("meta")).alias("m"),
        ).collect()
    )


def test_binlog_stream_drain_equals_batch(spark, tmp_path):
    from data_exchange_routing_spark.sources.datagen import write_change_events

    ev = str(tmp_path / "events")
    write_change_events(spark, ev, 1200, 120, n_epochs=3)
    sdf = spark.readStream.format("binlog").load(ev)
    q = (
        sdf.writeStream.format("memory").queryName("binlog_drain")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from binlog_drain")
    want = spark.read.parquet(ev).drop("epoch_hint")
    assert _canon_events(got) == _canon_events(want)


def _emit_segment(spark, log_dir: str, epoch: int, n: int, seed_lo: int) -> None:
    """Incremental producer: one segment written aside, renamed into place —
    the per-segment _SUCCESS (written by Spark's commit protocol) rides along."""
    df = spark.range(seed_lo, seed_lo + n).select(
        F.col("id").alias("lsn"),
        F.lit("U").alias("op"),
        F.concat(F.lit("https://x.example/p/"), F.col("id").cast("string")).alias("url"),
    )
    tmp = os.path.join(log_dir, f"_tmp-{epoch}")
    df.coalesce(2).write.mode("overwrite").parquet(tmp)
    os.rename(tmp, os.path.join(log_dir, f"epoch_hint={epoch}"))


def test_binlog_resume_from_checkpoint_no_dupes_no_gaps(spark, tmp_path):
    log = str(tmp_path / "log")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(log)
    _emit_segment(spark, log, 0, 50, 0)
    _emit_segment(spark, log, 1, 50, 50)

    def drain(name):
        q = (
            spark.readStream.format("binlog").load(log)
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    drain("first")
    n1 = spark.read.parquet(sink).count()
    assert n1 == 100
    # two more segments arrive; a restarted query must read ONLY those
    _emit_segment(spark, log, 2, 50, 100)
    _emit_segment(spark, log, 3, 50, 150)
    drain("second")
    out = spark.read.parquet(sink)
    assert out.count() == 200
    lsns = sorted(r["lsn"] for r in out.select("lsn").collect())
    assert lsns == list(range(200))  # no dupes, no gaps


def test_binlog_success_gating_hides_inflight_segment(spark, tmp_path):
    log = str(tmp_path / "log2")
    os.makedirs(log)
    _emit_segment(spark, log, 0, 30, 0)
    # an in-flight segment: parquet present, _SUCCESS removed
    _emit_segment(spark, log, 1, 30, 30)
    os.unlink(os.path.join(log, "epoch_hint=1", "_SUCCESS"))
    q = (
        spark.readStream.format("binlog").load(log)
        .writeStream.format("memory").queryName("binlog_gate")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = sorted(r["lsn"] for r in spark.sql("select lsn from binlog_gate").collect())
    assert got == list(range(30))  # epoch 1 invisible until marked


def test_binlog_source_foreach_batch_matches_batch_replay(spark, tmp_path):
    """The WAL-tail-as-source form: spark.readStream.format('binlog') with
    foreachBatch(apply_epoch) drives the full pipeline (validate -> route ->
    dedup -> extract -> merge commit) from the Python Data Source and
    converges to the same final table state as bounded batch replay of the
    same log."""
    from data_exchange_routing_spark.pipeline import Warehouse, apply_epoch, replay

    from data_exchange_routing_spark.sources.datagen import write_change_events

    ev = str(tmp_path / "events")
    write_change_events(spark, ev, 1500, 150, n_epochs=3)

    wh_b = Warehouse(spark, str(tmp_path / "wh_batch"), n_buckets=8)
    replay(wh_b, ev)

    wh_s = Warehouse(spark, str(tmp_path / "wh_stream"), n_buckets=8)
    wh_s.init_tables()
    q = (
        spark.readStream.format("binlog").load(ev)
        .writeStream.foreachBatch(lambda df, bid: apply_epoch(wh_s, df, epoch_id=int(bid)))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    assert q.exception() is None

    def state(wh):
        df = wh.table("web_pages").read(with_internal=True)
        return sorted(
            tuple(r)
            for r in df.select(
                "url",
                F.col("warc_ts").cast("string").alias("ts"),
                F.md5(F.col("html")).alias("h"),
                "text", "lang", F.col("_lsn").alias("lsn"),
            ).collect()
        )

    a, b = state(wh_b), state(wh_s)
    assert len(a) > 0
    assert a == b


# ---------------------------------------------------------------------------
# warc batch SINK (df.write.format("warc"))
# ---------------------------------------------------------------------------


def _canon_warc(df, uri="uri", payload="payload"):
    return sorted((r[0], bytes(r[1])) for r in df.select(uri, payload).collect())


def test_warc_sink_roundtrip_byte_exact(spark, tmp_path):
    out = str(tmp_path / "out_warc")
    df = spark.range(0, 37).select(
        F.concat(F.lit("https://w.example/p/"), F.col("id").cast("string")).alias("uri"),
        F.encode(F.concat(F.lit("payload é "), F.col("id").cast("string")), "utf-8").alias("payload"),
    )
    df.repartition(4).write.format("warc").mode("overwrite").save(out)
    # commit hygiene: _SUCCESS stamped, no .tmp- orphans survive
    names = os.listdir(out)
    assert "_SUCCESS" in names
    assert not [n for n in names if n.startswith(".tmp-")]
    back = spark.read.format("warc").load(out)
    assert _canon_warc(back) == _canon_warc(df)


def test_warc_sink_overwrite_and_append(spark, tmp_path):
    out = str(tmp_path / "out_warc2")

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("u://"), F.col("id").cast("string")).alias("uri"),
            F.encode(F.col("id").cast("string"), "utf-8").alias("payload"),
        )

    mk(0, 10).write.format("warc").mode("overwrite").save(out)
    mk(10, 15).write.format("warc").mode("append").save(out)
    assert spark.read.format("warc").load(out).count() == 15
    mk(100, 103).write.format("warc").mode("overwrite").save(out)
    back = spark.read.format("warc").load(out)
    assert _canon_warc(back) == _canon_warc(mk(100, 103))


def test_warc_sink_custom_columns_and_validation(spark, tmp_path):
    out = str(tmp_path / "out_warc3")
    df = spark.range(0, 5).select(
        F.concat(F.lit("c://"), F.col("id").cast("string")).alias("u"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("body"),
    )
    (
        df.write.format("warc").option("uriCol", "u").option("payloadCol", "body")
        .mode("overwrite").save(out)
    )
    back = spark.read.format("warc").load(out)
    assert _canon_warc(back) == _canon_warc(df, uri="u", payload="body")
    # missing payload column fails on the driver before any task runs
    with pytest.raises(Exception, match="warc sink"):
        df.select("u").write.format("warc").mode("append").save(str(tmp_path / "nope"))


# ---------------------------------------------------------------------------
# binlog streaming SINK (writeStream.format("binlog")) — the producer half
# ---------------------------------------------------------------------------


def test_binlog_sink_relay_roundtrip(spark, tmp_path):
    """WAL relay: binlog source -> binlog sink reproduces the log value-exactly,
    one _SUCCESS-gated segment per micro-batch, and the relayed log is itself
    a valid binlog source."""
    from data_exchange_routing_spark.sources.datagen import write_change_events

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_change_events(spark, src, 1200, 120, n_epochs=3)
    q = (
        spark.readStream.format("binlog").load(src)
        .writeStream.format("binlog").option("path", dst)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    names = os.listdir(dst)
    assert not [n for n in names if n.startswith("_wip-")]
    segs = [n for n in names if n.startswith("epoch_hint=")]
    # availableNow falls back to single-batch execution for Python streaming
    # sources, so this drain is one micro-batch -> one segment; the restart
    # test below exercises the multi-segment (multi-batchId) path.
    assert len(segs) >= 1
    assert all(os.path.exists(os.path.join(dst, s, "_SUCCESS")) for s in segs)
    got = spark.read.parquet(dst).drop("epoch_hint")
    want = spark.read.parquet(src).drop("epoch_hint")
    assert _canon_events(got) == _canon_events(want)
    # the relay output is itself tailable by the binlog source
    q2 = (
        spark.readStream.format("binlog").load(dst)
        .writeStream.format("memory").queryName("relay_drain")
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(180)
    assert spark.sql("select * from relay_drain").count() == want.count()


def test_binlog_sink_restart_exactly_once(spark, tmp_path):
    """Restarted relay resumes at the checkpointed offset: new source segments
    land exactly once, already-relayed ones are not re-emitted."""
    log, dst = str(tmp_path / "log"), str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(log)
    _emit_segment(spark, log, 0, 40, 0)
    _emit_segment(spark, log, 1, 40, 40)

    def relay():
        q = (
            spark.readStream.format("binlog").load(log)
            .writeStream.format("binlog").option("path", dst)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    relay()
    assert spark.read.parquet(dst).count() == 80
    _emit_segment(spark, log, 2, 40, 80)
    relay()
    out = spark.read.parquet(dst)
    assert sorted(r["lsn"] for r in out.select("lsn").collect()) == list(range(120))


def test_binlog_sink_redelivered_batch_is_noop(tmp_path):
    """A batchId whose segment already carries _SUCCESS commits as a metadata
    no-op: the published segment is untouched and the wip dir is swept."""
    from data_exchange_routing_spark.sources.pyds import (
        _BinlogStreamWriter,
        _BinlogWriteCommit,
    )

    root = str(tmp_path / "log")
    seg = os.path.join(root, "epoch_hint=7")
    os.makedirs(seg)
    with open(os.path.join(seg, "keep.parquet"), "wb") as f:
        f.write(b"original")
    open(os.path.join(seg, "_SUCCESS"), "w").close()
    wip = os.path.join(root, "_wip-7")
    os.makedirs(wip)
    dup = os.path.join(wip, "dup.parquet")
    with open(dup, "wb") as f:
        f.write(b"duplicate attempt")
    w = _BinlogStreamWriter({"path": root}, None)
    w.commit([_BinlogWriteCommit(dup, 3)], 7)
    assert sorted(os.listdir(seg)) == ["_SUCCESS", "keep.parquet"]
    with open(os.path.join(seg, "keep.parquet"), "rb") as f:
        assert f.read() == b"original"
    assert not os.path.exists(wip)


def test_binlog_sink_abort_sweeps_wip(tmp_path):
    from data_exchange_routing_spark.sources.pyds import (
        _BinlogStreamWriter,
        _BinlogWriteCommit,
    )

    root = str(tmp_path / "log")
    wip = os.path.join(root, "_wip-3")
    os.makedirs(wip)
    f1 = os.path.join(wip, "a.parquet")
    open(f1, "wb").close()
    w = _BinlogStreamWriter({"path": root}, None)
    w.abort([_BinlogWriteCommit(f1, 1)], 3)
    assert not os.path.exists(wip)
    assert not os.path.exists(os.path.join(root, "epoch_hint=3"))


# ---------------------------------------------------------------------------
# CDX-driven sub-file splits (warc source option cdxPath)
# ---------------------------------------------------------------------------


def test_warc_cdx_ranged_scan_matches_full_scan(spark, tmp_path):
    """With a CDX byte-offset index, the warc source plans record-aligned
    ranged partitions (intra-file parallelism for ~1 GB crawl files) and the
    result is byte-identical to the per-file scan."""
    from data_exchange_routing_spark.sources.warc import build_warc_cdx

    root = str(tmp_path / "warcs")
    _write_warcs(root, n_files=2, recs_per_file=40)
    cdx = str(tmp_path / "cdx")
    build_warc_cdx(spark, root, cdx)
    plain = spark.read.format("warc").load(root)
    ranged = (
        spark.read.format("warc")
        .option("cdxPath", cdx).option("maxBytesPerSplit", 300)
        .load(root)
    )
    assert plain.rdd.getNumPartitions() == 2
    assert ranged.rdd.getNumPartitions() > 8  # many splits per file

    def canon(df):
        return sorted(
            (r["uri"], r["warc_path"], bytes(r["payload"]))
            for r in df.select("uri", "warc_path", "payload").collect()
        )

    assert canon(ranged) == canon(plain)


def test_warc_cdx_stale_index_fails_loudly(spark, tmp_path):
    from data_exchange_routing_spark.sources.warc import build_warc_cdx, build_warc_record

    root = str(tmp_path / "warcs")
    _write_warcs(root, n_files=1, recs_per_file=5)
    cdx = str(tmp_path / "cdx")
    build_warc_cdx(spark, root, cdx)
    # a record appended AFTER indexing: reading via the stale CDX would
    # silently drop it — must raise instead
    with open(os.path.join(root, "crawl-0.warc"), "ab") as f:
        f.write(build_warc_record("https://late.example/x", b"appended"))
    with pytest.raises(Exception, match="stale warc cdx"):
        spark.read.format("warc").option("cdxPath", cdx).load(root).count()


def test_warc_cdx_directory_mismatch_fails_loudly(spark, tmp_path):
    from data_exchange_routing_spark.sources.warc import build_warc_cdx

    root = str(tmp_path / "warcs")
    _write_warcs(root, n_files=2, recs_per_file=3)
    cdx = str(tmp_path / "cdx")
    build_warc_cdx(spark, root, cdx)
    _write_warcs(str(tmp_path / "warcs"), n_files=3, recs_per_file=3)  # new file arrives
    with pytest.raises(Exception, match="cdx/directory mismatch"):
        spark.read.format("warc").option("cdxPath", cdx).load(root).count()


def test_warc_gz_sink_roundtrip_and_cdx_splits(spark, tmp_path):
    """.warc.gz (Common Crawl wire format, one gzip member per record):
    write with compression=gzip, read back transparently, and split WITHIN
    the compressed file at CDX member offsets — byte-identical payloads."""
    from data_exchange_routing_spark.sources.warc import build_warc_cdx

    out = str(tmp_path / "gz")
    df = spark.range(0, 60).select(
        F.concat(F.lit("gz://"), F.col("id").cast("string")).alias("uri"),
        F.encode(F.concat(F.lit("payload "), F.col("id").cast("string")), "utf-8").alias("payload"),
    )
    (
        df.repartition(2).write.format("warc")
        .option("compression", "gzip").mode("overwrite").save(out)
    )
    assert [n for n in os.listdir(out) if n.endswith(".warc.gz")]
    back = spark.read.format("warc").load(out)
    assert _canon_warc(back) == _canon_warc(df)
    cdx = str(tmp_path / "cdx")
    build_warc_cdx(spark, out, cdx)
    ranged = (
        spark.read.format("warc")
        .option("cdxPath", cdx).option("maxBytesPerSplit", 400)
        .load(out)
    )
    assert ranged.rdd.getNumPartitions() > 4  # sub-file splits of 2 gz files
    assert _canon_warc(ranged) == _canon_warc(df)


def test_binlog_sink_crashed_attempt_files_cleared_on_redelivery(tmp_path):
    """A driver crash AFTER some renames but BEFORE _SUCCESS leaves
    uncommitted files in the segment; the redelivered batch must clear them
    or every row of the crashed attempt publishes twice."""
    from data_exchange_routing_spark.sources.pyds import (
        _BinlogStreamWriter,
        _BinlogWriteCommit,
    )

    root = str(tmp_path / "log")
    seg = os.path.join(root, "epoch_hint=3")
    os.makedirs(seg)
    with open(os.path.join(seg, "stale-attempt.parquet"), "wb") as f:
        f.write(b"crashed attempt rows")  # no _SUCCESS: uncommitted
    wip = os.path.join(root, "_wip-3")
    os.makedirs(wip)
    fresh = os.path.join(wip, "retry.parquet")
    with open(fresh, "wb") as f:
        f.write(b"retry rows")
    _BinlogStreamWriter({"path": root}, None).commit([_BinlogWriteCommit(fresh, 2)], 3)
    assert sorted(os.listdir(seg)) == ["_SUCCESS", "retry.parquet"]


def test_binlog_sink_retires_root_success_marker(tmp_path):
    """Appending to a batch-bootstrapped log (root _SUCCESS): the producer
    stamps per-segment markers on every existing segment and retires the
    root marker, so later half-committed appends can never ride the root
    marker into visibility."""
    from data_exchange_routing_spark.sources.pyds import (
        _BinlogStreamWriter,
        _BinlogWriteCommit,
        ready_epochs,
    )

    root = str(tmp_path / "log")
    for e in (0, 1):
        os.makedirs(os.path.join(root, f"epoch_hint={e}"))
        with open(os.path.join(root, f"epoch_hint={e}", "d.parquet"), "wb") as f:
            f.write(b"x")
    open(os.path.join(root, "_SUCCESS"), "w").close()  # bootstrap root marker
    wip = os.path.join(root, "_wip-2")
    os.makedirs(wip)
    nf = os.path.join(wip, "n.parquet")
    with open(nf, "wb") as f:
        f.write(b"y")
    _BinlogStreamWriter({"path": root}, None).commit([_BinlogWriteCommit(nf, 1)], 2)
    assert not os.path.exists(os.path.join(root, "_SUCCESS"))
    assert ready_epochs(root) == [0, 1, 2]  # all gated per segment now


def test_binlog_reader_contiguous_prefix_and_monotone_offsets(tmp_path):
    """An existing-but-unready segment hides every later epoch (no silent
    gap skip), and latestOffset never regresses below the committed offset
    even when the listing goes empty (post-truncation)."""
    from data_exchange_routing_spark.sources.pyds import (
        _BinlogStreamReader,
        ready_epochs,
        truncate_binlog,
    )

    root = str(tmp_path / "log")
    for e in (0, 1, 2):
        os.makedirs(os.path.join(root, f"epoch_hint={e}"))
        with open(os.path.join(root, f"epoch_hint={e}", "d.parquet"), "wb") as f:
            f.write(b"x")
        if e != 1:  # epoch 1 mid-commit: no marker yet
            open(os.path.join(root, f"epoch_hint={e}", "_SUCCESS"), "w").close()
    r = _BinlogStreamReader({"path": root}, None)
    assert ready_epochs(root) == [0]
    assert r.latestOffset() == {"next_epoch": 1}
    open(os.path.join(root, "epoch_hint=1", "_SUCCESS"), "w").close()
    assert ready_epochs(root) == [0, 1, 2]
    assert r.latestOffset() == {"next_epoch": 3}
    # committed past everything; WAL truncated away entirely
    r.commit({"next_epoch": 3})
    truncate_binlog(root, 3)
    assert r.latestOffset() == {"next_epoch": 3}  # no regression to 0


def test_warc_sink_append_crash_orphans_removed(spark, tmp_path):
    """_SUCCESS is a manifest of published parts: parts outside it (a
    crashed append attempt's renames) are removed by the next commit, so
    append mode never double-publishes an attempt's records."""
    out = str(tmp_path / "sink")
    df1 = spark.createDataFrame(
        [(f"u://{i}", f"r{i}".encode()) for i in range(4)], "uri string, payload binary"
    ).coalesce(1)
    df1.write.format("warc").mode("overwrite").save(out)
    # simulate a crashed append attempt: a part file NOT in the manifest
    with open(os.path.join(out, "part-00099.warc"), "wb") as f:
        f.write(b"garbage from crashed attempt")
    df2 = spark.createDataFrame(
        [("u://new", b"new")], "uri string, payload binary"
    ).coalesce(1)
    df2.write.format("warc").mode("append").save(out)
    got = spark.read.format("warc").load(out)
    assert got.count() == 5  # 4 + 1, crashed attempt contributed nothing
    assert not os.path.exists(os.path.join(out, "part-00099.warc"))


def test_warc_sink_append_missing_manifest_quarantines_not_deletes(spark, tmp_path):
    """Regression (round-3 ADVICE): appending into a directory whose
    _SUCCESS was lost (copied without the marker / produced by another
    tool) must NOT silently destroy the pre-existing parts. They are
    quarantined to dot-prefixed names — invisible to readers (so a crashed
    first-commit retry still can't double-publish) but recoverable on
    disk."""
    out = str(tmp_path / "foreign")
    os.makedirs(out)
    # a foreign/marker-less part file with real bytes
    from data_exchange_routing_spark.sources.warc import build_warc_record
    foreign = build_warc_record("u://foreign", b"precious")
    with open(os.path.join(out, "part-00000.warc"), "wb") as f:
        f.write(foreign)
    df = spark.createDataFrame(
        [("u://new", b"new")], "uri string, payload binary"
    ).coalesce(1)
    df.write.format("warc").mode("append").save(out)
    got = spark.read.format("warc").load(out)
    # reader sees only the committed write (exactly-once preserved) ...
    assert [r.uri for r in got.collect()] == ["u://new"]
    # ... but the foreign bytes survive, quarantined
    qname = os.path.join(out, ".quarantine-part-00000.warc")
    assert os.path.exists(qname)
    with open(qname, "rb") as f:
        assert f.read() == foreign

    # crash-retry collision: lose the marker again (as a crash between
    # rename and _SUCCESS would) and append once more — the SECOND
    # quarantined part-00000 must get a fresh name, never os.replace onto
    # the first (which would destroy the foreign bytes)
    committed = os.path.join(out, "part-00000.warc")
    with open(committed, "rb") as f:
        committed_bytes = f.read()
    os.unlink(os.path.join(out, "_SUCCESS"))
    df2 = spark.createDataFrame(
        [("u://retry", b"retry")], "uri string, payload binary"
    ).coalesce(1)
    df2.write.format("warc").mode("append").save(out)
    with open(qname, "rb") as f:
        assert f.read() == foreign  # first quarantine untouched
    q2 = os.path.join(out, ".quarantine-1-part-00000.warc")
    assert os.path.exists(q2)
    with open(q2, "rb") as f:
        assert f.read() == committed_bytes
    assert [r.uri for r in spark.read.format("warc").load(out).collect()] == ["u://retry"]


def test_warc_sink_empty_dataframe_fresh_path(spark, tmp_path):
    """Zero write tasks: commit still produces the dir + marker instead of
    FileNotFoundError."""
    out = str(tmp_path / "empty_sink")
    spark.createDataFrame([], "uri string, payload binary").repartition(1).write.format(
        "warc"
    ).mode("overwrite").save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not [n for n in os.listdir(out) if n.startswith("part-")]
    # (the reader stays loud on empty globs by design — no read-back)


def test_stream_ingest_backpressure_knobs_are_loud(spark, tmp_path):
    """The WAL tail has one source and one bound: any other source, and a
    bound that would apply nothing, raise instead of being ignored."""
    from data_exchange_routing_spark.pipeline import Warehouse
    from data_exchange_routing_spark.streaming.ingest import stream_ingest

    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    with pytest.raises(ValueError, match="replay"):
        stream_ingest(spark, str(tmp_path / "ev"), wh, str(tmp_path / "ck"), source="files")
    with pytest.raises(ValueError, match="max_epochs_per_batch"):
        stream_ingest(spark, str(tmp_path / "ev"), wh, str(tmp_path / "ck2"),
                      source="binlog", max_epochs_per_batch=0)
