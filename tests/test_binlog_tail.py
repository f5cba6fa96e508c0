"""The binlog tail as replay's incremental mode
(``stream_ingest(source="binlog")``): each call applies the oldest ready WAL
segments past the lineage guard, at most ``max_epochs_per_batch`` of them,
each under its own WAL epoch id. A tail-fed warehouse is therefore a replay
warehouse: replay, WAL truncation and the health probe read its guard as WAL
positions. A warehouse whose guard holds Structured Streaming batch ids (the
"stream" mark of the retired files source) is refused before any write."""

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
from data_exchange_routing_spark.sources.pyds import truncate_binlog
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


def _guards(wh) -> dict:
    return wh.table("lineage_metrics").snapshot().committed_epochs


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
    assert "stream" not in _guards(wh)


def test_tail_does_its_bookkeeping_once_per_call(spark, tmp_path, log, monkeypatch):
    """A tail call creates missing tables, reads the lineage guard and lists
    the WAL once each, whether it applies an epoch or finds nothing to do."""
    from collections import Counter

    from data_exchange_routing_spark.sources import pyds
    from data_exchange_routing_spark.streaming import ingest

    calls: Counter = Counter()

    def counting(name, fn):
        def inner(*a, **k):
            calls[name] += 1
            return fn(*a, **k)

        return inner

    monkeypatch.setattr(Warehouse, "init_tables", counting("init_tables", Warehouse.init_tables))
    monkeypatch.setattr(
        Warehouse, "completed_epochs", counting("completed_epochs", Warehouse.completed_epochs)
    )
    listing = counting("ready_epochs", pyds.ready_epochs)
    monkeypatch.setattr(pyds, "ready_epochs", listing)
    # counted too wherever the tail module binds the WAL listing itself
    monkeypatch.setattr(ingest, "ready_epochs", listing, raising=False)
    wal = _wal(tmp_path, log, epochs=(0,))
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    for applied in ([0], []):
        calls.clear()
        assert _tail(spark, wal, wh, tmp_path, bound=1).applied_epochs == applied
        assert calls == {"init_tables": 1, "completed_epochs": 1, "ready_epochs": 1}


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


def test_every_progress_reader_refuses_a_batch_id_guard_before_writing(spark, tmp_path, log):
    """A warehouse fed by the retired files stream source carries the
    "stream" mark: its guard holds batch ids, and reading them as WAL epochs
    would skip real segments. Replay, the tail and truncation refuse it
    without committing anything or deleting a segment; the health probe
    reports the error."""
    wal = _wal(tmp_path, log)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    wh.init_tables()
    lm = wh.table("lineage_metrics")
    # the mark as the files source committed it
    lm.commit_staged_files([], lm.snapshot().schema(), epoch_id=0, source="stream", epoch_monotonic=True)
    version = lm.current_version()
    segments = sorted(os.listdir(wal))
    with pytest.raises(ValueError, match="bootstrap"):
        replay(wh, wal)
    with pytest.raises(ValueError, match="bootstrap"):
        stream_ingest(spark, wal, wh, str(tmp_path / "ckpt"), source="binlog")
    with pytest.raises(ValueError, match="bootstrap"):
        truncate_wal(wh, wal)
    assert lm.current_version() == version
    assert sorted(os.listdir(wal)) == segments
    # past a truncation replay would first vouch for the epochs below the
    # floor; the refusal comes before that commit too
    truncate_binlog(wal, 1)
    with pytest.raises(ValueError, match="bootstrap"):
        replay(wh, wal, from_epoch=1)
    assert lm.current_version() == version
    health = warehouse_health(wh, events_dir=wal)
    assert health["ok"] is False
    assert "bootstrap" in health["wal"]["error"]
