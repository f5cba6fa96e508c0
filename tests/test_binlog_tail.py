"""The binlog tail as replay's incremental mode
(``stream_ingest(source="binlog")``): each call applies the oldest ready WAL
segments past the lineage guard, at most ``max_epochs_per_batch`` of them,
each under its own WAL epoch id. A tail-fed warehouse is therefore a replay
warehouse: replay, WAL truncation and the health probe read its guard as WAL
positions. The files stream's batch ids never mix with WAL epochs."""

from __future__ import annotations

import os
import shutil

import pytest

from data_exchange_routing_spark.pipeline import (
    Warehouse,
    replay,
    truncate_wal,
    warehouse_health,
)
from data_exchange_routing_spark.sources.datagen import write_change_events
from data_exchange_routing_spark.streaming.ingest import stream_ingest


@pytest.fixture(scope="module")
def log(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tail_log"))
    write_change_events(spark, d, 600, 60, n_epochs=3)
    return d


def _wal(tmp_path, log, epochs=(0, 1, 2)) -> str:
    """A WAL of ready segments: each copied, then stamped with _SUCCESS."""
    wal = str(tmp_path / "wal")
    for e in epochs:
        seg = os.path.join(wal, f"epoch_hint={e}")
        shutil.copytree(os.path.join(log, f"epoch_hint={e}"), seg, ignore=shutil.ignore_patterns("_*", ".*"))
        open(os.path.join(seg, "_SUCCESS"), "w").close()
    return wal


def _tail(spark, wal, wh, tmp_path, bound=None):
    q = stream_ingest(spark, wal, wh, str(tmp_path / "ckpt"), source="binlog", max_epochs_per_batch=bound)
    assert q.awaitTermination(300)
    assert q.exception() is None
    return q


def _lineage_epochs(wh) -> set[int]:
    return {r["epoch_id"] for r in wh.table("lineage_metrics").read().select("epoch_id").collect()}


def _lsns(df, col: str = "lsn") -> set[int]:
    return {r[0] for r in df.select(col).collect()}


def test_bounded_tail_commits_one_wal_epoch_per_call(spark, tmp_path, log):
    wal = _wal(tmp_path, log)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    seen: set[int] = set()
    for k in range(3):
        q = _tail(spark, wal, wh, tmp_path, bound=1)
        seen |= _lsns(spark.read.parquet(os.path.join(log, f"epoch_hint={k}")))
        # the call applied segment k and nothing past it
        got = _lsns(wh.table("web_pages").read(with_internal=True), "_lsn")
        assert got <= seen
        assert wh.completed_epochs() == set(range(k + 1))
        assert _lineage_epochs(wh) == set(range(k + 1))
        assert q.applied_epochs == [k]
    assert _tail(spark, wal, wh, tmp_path, bound=1).applied_epochs == []
    assert not wh.stream_fed()


def test_replay_of_a_tail_fed_warehouse_applies_nothing(spark, tmp_path, log):
    wal = _wal(tmp_path, log)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    q = _tail(spark, wal, wh, tmp_path)
    rows = wh.table("web_pages").read().count()
    assert replay(wh, wal)["applied_epochs"] == []
    assert wh.table("web_pages").read().count() == rows
    assert q.applied_epochs == [0, 1, 2]
    # an empty producer batch (a stamped segment with no parquet file) is
    # applied as an empty epoch
    os.makedirs(os.path.join(wal, "epoch_hint=3"))
    open(os.path.join(wal, "epoch_hint=3", "_SUCCESS"), "w").close()
    assert _tail(spark, wal, wh, tmp_path).applied_epochs == [3]
    assert wh.table("web_pages").read().count() == rows


def test_truncate_and_health_need_no_cursor_on_a_tail_fed_warehouse(spark, tmp_path, log):
    wal = _wal(tmp_path, log)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    _tail(spark, wal, wh, tmp_path, bound=1)
    _tail(spark, wal, wh, tmp_path, bound=1)
    assert warehouse_health(wh, events_dir=wal)["wal"] == {
        "segments": 3, "truncated_before": 0, "applied_watermark": 2, "lag_epochs": 1,
    }
    assert truncate_wal(wh, wal)["removed_epochs"] == [0, 1]
    assert sorted(os.listdir(wal)) == ["_truncated_before", "epoch_hint=2"]
    assert warehouse_health(wh, events_dir=wal)["wal"] == {
        "segments": 1, "truncated_before": 2, "applied_watermark": 2, "lag_epochs": 1,
    }
    assert _tail(spark, wal, wh, tmp_path, bound=1).applied_epochs == [2]


def test_binlog_tail_refuses_a_stream_fed_warehouse(spark, tmp_path, log):
    """A files stream's guard holds batch ids; reading them as WAL epochs
    would skip real segments."""
    wal = _wal(tmp_path, log, epochs=(0,))
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    wh.init_tables()
    wh.mark_stream_fed()
    with pytest.raises(ValueError, match="stream-fed.*replay\\(from_epoch="):
        stream_ingest(spark, wal, wh, str(tmp_path / "ckpt"), source="binlog")
    assert wh.completed_epochs() == set()


def test_files_stream_refuses_a_warehouse_holding_wal_epochs(spark, tmp_path, log):
    """A files stream after a replay would commit batch ids that collide with
    the applied epochs, and silently skip those batches."""
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    replay(wh, log, stop_after_epoch=0)
    with pytest.raises(ValueError, match="WAL epochs"):
        stream_ingest(spark, log, wh, str(tmp_path / "ckpt"))
    assert not wh.stream_fed()
