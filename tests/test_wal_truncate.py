"""WAL retention (sources/pyds.py:truncate_binlog + pipeline.truncate_wal):
fully-consumed binlog segments are garbage-collected; consumers behind the
floor are refused instead of reading a hole; the streaming binlog source
starts fresh checkpoints at the first surviving segment."""

from __future__ import annotations

import os

import pytest

from data_exchange_routing_spark.pipeline import (
    Warehouse,
    applied_watermark,
    replay,
    truncate_wal,
)
from data_exchange_routing_spark.sources.datagen import write_change_events
from data_exchange_routing_spark.sources.pyds import (
    TRUNCATE_MARKER,
    truncate_binlog,
    truncated_before,
)


@pytest.fixture()
def replayed(spark, tmpdir_path):
    events = f"{tmpdir_path}/events"
    write_change_events(spark, events, 600, 60, n_epochs=4)
    wh = Warehouse(spark, f"{tmpdir_path}/wh", n_buckets=4)
    replay(wh, events)
    return wh, events


def test_truncate_removes_consumed_segments(spark, tmpdir_path, replayed):
    wh, events = replayed
    assert applied_watermark(wh) == 4
    before = {t: wh.table(t).read().count() for t in ("web_pages",)}
    res = truncate_wal(wh, events)
    assert res["removed_epochs"] == [0, 1, 2, 3]
    assert truncated_before(events) == 4
    assert not [d for d in os.listdir(events) if d.startswith("epoch_hint=")]
    # the SAME warehouse replays fine (its checkpoint covers the hole):
    # nothing to do, state unchanged
    out = replay(wh, events)
    assert out["applied_epochs"] == []
    assert wh.table("web_pages").read().count() == before["web_pages"]


def test_fresh_consumer_is_refused_after_truncation(spark, tmpdir_path, replayed):
    wh, events = replayed
    truncate_wal(wh, events)
    fresh = Warehouse(spark, f"{tmpdir_path}/wh2", n_buckets=4)
    with pytest.raises(ValueError, match="truncated"):
        replay(fresh, events)
    # the documented recovery: bootstrap + replay from the floor
    out = replay(fresh, events, from_epoch=truncated_before(events))
    assert out["applied_epochs"] == []


def test_lagging_consumer_position_bounds_the_floor(spark, tmpdir_path, replayed):
    wh, events = replayed
    # a second consumer (e.g. a streaming checkpoint) has only reached epoch 2
    res = truncate_wal(wh, events, extra_consumer_positions=(2,))
    assert res["removed_epochs"] == [0, 1]
    assert truncated_before(events) == 2
    left = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(events)
        if d.startswith("epoch_hint=")
    )
    assert left == [2, 3]
    # new epochs append and replay past the floor normally
    write_change_events(spark, events, 600, 60, n_epochs=6)
    out = replay(wh, events)
    assert out["applied_epochs"] == [4, 5]


def test_floor_is_monotone_and_marker_crash_safe(spark, tmpdir_path, replayed):
    wh, events = replayed
    truncate_binlog(events, 2)
    # a lower request never lowers the floor
    res = truncate_binlog(events, 1)
    assert res["truncated_before"] == 2 and res["removed_epochs"] == []
    # marker present and authoritative even if victims were already gone
    assert os.path.exists(os.path.join(events, TRUNCATE_MARKER))
    assert truncated_before(events) == 2


def test_binlog_stream_reader_starts_at_surviving_floor(spark, tmpdir_path, replayed):
    from data_exchange_routing_spark.schemas import CHANGE_EVENTS
    from data_exchange_routing_spark.sources.pyds import _BinlogStreamReader

    wh, events = replayed
    truncate_wal(wh, events, extra_consumer_positions=(2,))
    r = _BinlogStreamReader({"path": events}, CHANGE_EVENTS)
    assert r.initialOffset() == {"next_epoch": 2}
    assert r.latestOffset() == {"next_epoch": 4}


def test_health_reports_wal_lag(spark, tmpdir_path, replayed):
    from data_exchange_routing_spark.pipeline import warehouse_health

    wh, events = replayed
    h = warehouse_health(wh, events_dir=events)
    assert h["ok"] and h["wal"] == {
        "segments": 4, "truncated_before": 0,
        "applied_watermark": 4, "lag_epochs": 0,
    }
    # new unapplied segments show as lag; truncation shows as floor
    write_change_events(spark, events, 600, 60, n_epochs=5)
    truncate_wal(wh, events)
    h = warehouse_health(wh, events_dir=events)
    assert h["wal"] == {
        "segments": 1, "truncated_before": 4,
        "applied_watermark": 4, "lag_epochs": 1,
    }


def test_maintain_cycle_truncates_wal(spark, tmpdir_path, replayed):
    from data_exchange_routing_spark.pipeline import maintain

    wh, events = replayed
    rep = maintain(wh, wal_events_dir=events)
    assert rep["wal"]["removed_epochs"] == [0, 1, 2, 3]
    assert truncated_before(events) == 4

