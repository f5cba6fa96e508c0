"""expire_data (metadata-only retention) and clone_to (zero-copy clone)."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_exchange_routing_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ]
)


def _mk(spark, path, days=("2024-01-01", "2024-01-02", "2024-01-03")):
    t = LakeTable.create(spark, path, SCHEMA)
    for k, day in enumerate(days):
        t.append(
            spark.range(k * 100, (k + 1) * 100).select(
                F.col("id").alias("event_id"),
                F.to_timestamp(F.lit(f"{day} 12:00:00")).alias("ts"),
                F.col("id").alias("v"),
            ),
            epoch_id=k,
        )
    return t


def test_expire_drops_whole_files_metadata_only(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    res = t.expire_data("ts", datetime(2024, 1, 3))
    # days 1 and 2 are wholly below the cutoff; day 3 wholly above
    assert res["files_dropped"] == 2 and res["files_rewritten"] == 0
    assert t.read().count() == 100
    assert t.read().agg(F.min("ts")).collect()[0][0] == datetime(2024, 1, 3, 12)
    # time travel still sees the pre-retention state
    assert t.read(version=res["version"] - 1).count() == 300


def test_expire_rewrites_only_straddling_files(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    # one file straddles the cutoff (rows on both sides), one is wholly newer
    t.append(
        spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 6), 1), (2, datetime(2024, 1, 2, 6), 2),
             (3, None, 3)],
            SCHEMA,
        ),
        epoch_id=0,
    )
    t.append(
        spark.createDataFrame([(4, datetime(2024, 1, 5), 4)], SCHEMA), epoch_id=1
    )
    res = t.expire_data("ts", datetime(2024, 1, 2))
    assert res["files_rewritten"] == 1 and res["files_dropped"] == 0
    got = sorted(r["event_id"] for r in t.read().collect())
    assert got == [2, 3, 4]  # row 1 expired; NULL-ts row kept by default
    t2 = _mk(spark, str(tmp_path / "t2"), days=("2024-01-01",))
    t2.append(
        spark.createDataFrame([(999, None, 9)], SCHEMA), epoch_id=10
    )
    res2 = t2.expire_data("ts", datetime(2024, 1, 9), keep_nulls=False)
    assert t2.read().count() == 0 and res2["files_dropped"] >= 1


def test_expire_keyed_refuses(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "k"),
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("warc_ts", T.TimestampType())]),
        key="url",
    )
    with pytest.raises(ValueError, match="append-only"):
        t.expire_data("warc_ts", datetime(2024, 1, 1))


def test_clone_is_zero_copy_and_independent(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "src"))
    c = t.clone_to(str(tmp_path / "dst"))
    assert c.read().count() == 300
    # zero-copy: every clone data file shares its inode with a source file
    src_inodes = set()
    for f in t.snapshot().files:
        src_inodes.add(os.stat(os.path.join(t.path, f["path"])).st_ino)
    for f in c.snapshot().files:
        st = os.stat(os.path.join(c.path, f["path"]))
        assert st.st_nlink >= 2 and st.st_ino in src_inodes
    # divergence: writes to one side never show on the other
    c.append(spark.createDataFrame([(999, datetime(2024, 2, 1), 9)], SCHEMA), epoch_id=99)
    assert c.read().count() == 301 and t.read().count() == 300
    t.expire_data("ts", datetime(2024, 1, 3))
    assert t.read().count() == 100 and c.read().count() == 301
    # epoch guards carried over: re-delivering a source epoch is a no-op
    assert c.committed_epochs()  # inherited
    with pytest.raises(ValueError, match="already has a lake table"):
        t.clone_to(str(tmp_path / "dst"))


def test_clone_then_source_vacuum_keeps_clone_readable(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "src"))
    c = t.clone_to(str(tmp_path / "dst"))
    # source rewrites everything then expires+vacuums its old files
    t.expire_data("ts", datetime(2024, 1, 2))
    t.expire_snapshots(keep_last=1)
    t.vacuum_orphans()
    # the clone's hardlinked names keep the shared inodes alive
    assert c.read().count() == 300


def test_maintain_applies_control_plane_retention(spark, tmp_path):
    from datetime import datetime, timedelta

    from data_exchange_routing_spark.pipeline import Warehouse, maintain, replay
    from data_exchange_routing_spark.sources.datagen import write_change_events

    events = str(tmp_path / "events")
    write_change_events(spark, events, 300, 50, n_epochs=2)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=8)
    replay(wh, events)
    assert wh.table("lineage_metrics").read().count() > 0
    pages_before = wh.table("web_pages").read().count()
    future = datetime.now() + timedelta(days=1)
    rep = maintain(wh, retention={"lineage_metrics": ("end_ts", future)})
    assert rep["lineage_metrics"]["retention"]["skipped"] is False
    assert wh.table("lineage_metrics").read().count() == 0  # all aged out
    assert wh.table("web_pages").read().count() == pages_before  # untouched
    assert wh.table("dead_letter").read().count() > 0  # not configured


def test_expire_never_metadata_drops_null_bearing_files(spark, tmp_path):
    """A file whose non-null range is wholly expired but which carries NULL-ts
    rows must be REWRITTEN (keeping the NULLs), never metadata-dropped."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(
        spark.createDataFrame(
            [(1, datetime(2024, 1, 1), 1), (2, None, 2)], SCHEMA
        ),
        epoch_id=0,
    )
    res = t.expire_data("ts", datetime(2024, 6, 1))  # range wholly expired
    assert res["files_dropped"] == 0 and res["files_rewritten"] == 1
    assert [r["event_id"] for r in t.read().collect()] == [2]  # NULL kept
    # driver-local append_rows records the same stats: all-non-null old file
    # IS metadata-dropped
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), SCHEMA)
    t2.append_rows([(1, datetime(2024, 1, 1), 1)], SCHEMA, epoch_id=0)
    t2.append_rows([(2, datetime(2024, 9, 1), 2)], SCHEMA, epoch_id=1)
    res2 = t2.expire_data("ts", datetime(2024, 6, 1))
    assert res2["files_dropped"] == 1 and res2["files_rewritten"] == 0
    assert [r["event_id"] for r in t2.read().collect()] == [2]


def test_expire_compares_instants_not_iso_strings(spark, tmp_path):
    """The drop/keep test compares instants: a cutoff of 04:00+01:00 is
    03:00 UTC, so a file of rows at 03:10 and 03:30 UTC lies wholly inside
    the window, though its max's ISO string sorts below the cutoff's."""
    from datetime import timedelta, timezone

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(
        spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 3, 10), 1), (2, datetime(2024, 1, 1, 3, 30), 2)], SCHEMA
        ),
        epoch_id=0,
    )
    cutoff = datetime(2024, 1, 1, 4, tzinfo=timezone(timedelta(hours=1)))
    res = t.expire_data("ts", cutoff)
    assert res["files_dropped"] == 0 and res["files_kept"] == 1
    assert sorted(r["event_id"] for r in t.read().collect()) == [1, 2]


def test_expire_boundaries_at_the_cutoff(spark, tmp_path):
    """A file whose max is the cutoff minus 1 us is dropped, one whose min
    equals the cutoff is kept; both for footer stats (append, "+00:00"
    strings) and driver-written ones (append_rows, naive strings)."""
    from datetime import timedelta

    cutoff = datetime(2024, 1, 2, 12)
    just_before = cutoff - timedelta(microseconds=1)
    for writer in ("append", "append_rows"):
        t = LakeTable.create(spark, str(tmp_path / writer), SCHEMA)
        for k, ts in enumerate([just_before, cutoff]):
            if writer == "append":
                t.append(spark.createDataFrame([(k, ts, k)], SCHEMA), epoch_id=k)
            else:
                t.append_rows([(k, ts, k)], SCHEMA, epoch_id=k)
        res = t.expire_data("ts", cutoff)
        assert (res["files_dropped"], res["files_rewritten"], res["files_kept"]) == (1, 0, 1), writer
        assert [r["event_id"] for r in t.read().collect()] == [1], writer
