"""Warehouse-level consistent cuts: cross-table snapshot isolation."""

import pytest

from data_exchange_routing_spark.pipeline import Warehouse, applied_watermark, replay
from data_exchange_routing_spark.schemas import WEB_PAGES
from data_exchange_routing_spark.sources.configs import DESTINATION_TABLES
from data_exchange_routing_spark.sources.datagen import write_change_events


def _mk_wh(spark, tmp_path, n_epochs=3):
    events = str(tmp_path / "events")
    write_change_events(spark, events, 400, 60, n_epochs=n_epochs)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=8)
    return wh, events


def _norm(df):
    return sorted(tuple(r) for r in df.collect())


def test_consistent_snapshot_and_fresh_cut_reads(spark, tmp_path):
    wh, events = _mk_wh(spark, tmp_path)
    replay(wh, events)
    pins = wh.consistent_snapshot()
    assert set(DESTINATION_TABLES) <= set(pins)
    views = wh.read_consistent()
    assert _norm(views["web_pages"]) == _norm(wh.table("web_pages").read())
    assert views["dead_letter"].count() == wh.table("dead_letter").read().count()


def test_published_tag_pins_prefix_state_across_later_epochs(spark, tmp_path):
    wh, events = _mk_wh(spark, tmp_path, n_epochs=3)
    replay(wh, events, stop_after_epoch=0, max_concurrent_epochs=1)
    want_pages = _norm(wh.table("web_pages").read())
    want_dead = wh.table("dead_letter").read().count()
    wh.publish_snapshot("after_epoch0")
    replay(wh, events, max_concurrent_epochs=1)  # epochs 1..2 land
    assert _norm(wh.table("web_pages").read()) != want_pages  # state moved on
    views = wh.read_consistent("after_epoch0")
    assert _norm(views["web_pages"]) == want_pages
    assert views["dead_letter"].count() == want_dead


def test_torn_epoch_is_detected_then_heals(spark, tmp_path):
    wh, events = _mk_wh(spark, tmp_path)
    replay(wh, events)
    pipeline_tables = sorted(set(DESTINATION_TABLES))
    # half-committed epoch: the guard lands on ONE destination table only
    wh.table(pipeline_tables[0]).commit_staged_files(
        [], WEB_PAGES, epoch_id=99, source="cdc"
    )
    with pytest.raises(RuntimeError, match="torn epoch"):
        wh.consistent_snapshot(max_attempts=2)
    for name in pipeline_tables[1:]:
        wh.table(name).commit_staged_files([], WEB_PAGES, epoch_id=99, source="cdc")
    wh.table("dead_letter").commit_staged_files(
        [], wh.table("dead_letter").snapshot().schema(), epoch_id=99, source="dead_letter"
    )
    wh.table("lineage_metrics").commit_staged_files(
        [], wh.table("lineage_metrics").snapshot().schema(), epoch_id=99, source="lineage"
    )
    pins = wh.consistent_snapshot()
    assert pins["web_pages"] >= 1


def test_duplicate_tag_and_missing_tag_raise(spark, tmp_path):
    wh, events = _mk_wh(spark, tmp_path, n_epochs=2)
    replay(wh, events)
    wh.publish_snapshot("v1")
    with pytest.raises(ValueError, match="already exists"):
        wh.publish_snapshot("v1")
    with pytest.raises(FileNotFoundError, match="no snapshot tag"):
        wh.read_consistent("nope")
    with pytest.raises(ValueError, match="invalid tag"):
        wh.publish_snapshot("../escape")


def test_rollback_to_tag_then_replay_reconverges(spark, tmp_path):
    wh, events = _mk_wh(spark, tmp_path, n_epochs=3)
    replay(wh, events, stop_after_epoch=0, max_concurrent_epochs=1)
    wh.publish_snapshot("good")
    want_cut = _norm(wh.table("web_pages").read())
    replay(wh, events, max_concurrent_epochs=1)
    want_full = _norm(wh.table("web_pages").read())
    assert want_full != want_cut

    res = wh.rollback_to("good")
    assert res["undone_epochs"] == [1, 2]
    assert _norm(wh.table("web_pages").read()) == want_cut
    # guards rewound on every pipeline table — the cut's epoch set only
    assert wh.table("dead_letter").snapshot().epochs("dead_letter") == {0}
    assert wh.table("web_pages").snapshot().epochs("cdc") == {0}

    # the undone epochs redeliver and the warehouse reconverges exactly
    replay(wh, events, max_concurrent_epochs=1)
    assert _norm(wh.table("web_pages").read()) == want_full


def test_rollback_to_cut_taken_before_lineage_existed(spark, tmp_path):
    """A cut published right after bootstrapping the destinations, before
    replay created lineage_metrics, holds no applied epoch: rollback_to
    rewinds replay progress with the destinations, so the tail epochs
    redeliver and the warehouse reconverges."""
    from data_exchange_routing_spark.lake.table import LakeTable
    from data_exchange_routing_spark.operators.bootstrap import bootstrap_destination

    wh, events = _mk_wh(spark, tmp_path, n_epochs=3)
    src = Warehouse(spark, str(tmp_path / "src"), n_buckets=8)
    replay(src, events, stop_after_epoch=0, max_concurrent_epochs=1)
    for dest in sorted(set(DESTINATION_TABLES)):
        t = LakeTable.create(spark, wh.table_path(dest), WEB_PAGES, key="url", n_buckets=8)
        snap = src.table(dest).read(with_internal=True, include_tombstones=True)
        bootstrap_destination(t, snap)
    assert "lineage_metrics" not in wh.publish_snapshot("boot")
    want_cut = _norm(wh.table("web_pages").read())
    out = replay(wh, events, from_epoch=1, max_concurrent_epochs=1)
    assert out["applied_epochs"] == [1, 2]
    want_full = _norm(wh.table("web_pages").read())
    assert want_full != want_cut

    res = wh.rollback_to("boot")
    assert res["undone_epochs"] == [1, 2]
    assert wh.completed_epochs() == set()
    assert _norm(wh.table("web_pages").read()) == want_cut
    out = replay(wh, events, from_epoch=1, max_concurrent_epochs=1)
    assert out["applied_epochs"] == [1, 2]
    assert _norm(wh.table("web_pages").read()) == want_full


def test_cached_result_hits_until_input_commits(spark, tmp_path):
    wh, events = _mk_wh(spark, tmp_path, n_epochs=2)
    replay(wh, events, stop_after_epoch=0, max_concurrent_epochs=1)
    calls = {"n": 0}

    def q():
        calls["n"] += 1
        return (
            wh.table("web_pages").read().groupBy("lang").count()
        )

    df1, info1 = wh.cached_result("lang_counts", q, tables=["web_pages"])
    want = sorted(map(tuple, df1.collect()))
    assert info1["hit"] is False and calls["n"] == 1
    df2, info2 = wh.cached_result("lang_counts", q, tables=["web_pages"])
    assert info2["hit"] is True and calls["n"] == 1  # served, not recomputed
    assert sorted(map(tuple, df2.collect())) == want

    replay(wh, events, max_concurrent_epochs=1)  # epoch 1 commits -> invalidate
    df3, info3 = wh.cached_result("lang_counts", q, tables=["web_pages"])
    assert info3["hit"] is False and calls["n"] == 2
    assert info3["fingerprint"] != info1["fingerprint"]
    assert sorted(map(tuple, df3.collect())) == sorted(
        map(tuple, wh.table("web_pages").read().groupBy("lang").count().collect())
    )
    # vacuum keeps the newest fingerprint only; the hit still serves
    assert wh.vacuum_cache()["removed"] == 1
    _, info4 = wh.cached_result("lang_counts", q, tables=["web_pages"])
    assert info4["hit"] is True and calls["n"] == 2


def test_checkpoint_compaction_watermark_and_rollback_below_it(spark, tmp_path):
    """Replay progress is the lineage guard, stored as its contiguous
    prefix {w, extra}: resume skips the prefix, and a rollback to a cut
    BELOW it rewinds the guard, so the undone epochs redeliver and the
    warehouse reconverges exactly."""
    import os

    wh, events = _mk_wh(spark, tmp_path, n_epochs=3)
    replay(wh, events, stop_after_epoch=0, max_concurrent_epochs=1)
    wh.publish_snapshot("good")
    want_cut = _norm(wh.table("web_pages").read())

    out = replay(wh, events, max_concurrent_epochs=1)
    assert out["applied_epochs"] == [1, 2] and out["skipped_epochs"] == [0]
    want_full = _norm(wh.table("web_pages").read())
    assert want_full != want_cut
    lineage = wh.table("lineage_metrics").snapshot().committed_epochs["lineage"]
    assert lineage == {"w": 2, "extra": []}
    assert wh.completed_epochs() == {0, 1, 2} and applied_watermark(wh) == 3
    d = os.path.join(wh.root, "_checkpoints")
    assert os.listdir(d) == ["promoted_meta_keys.json"]

    # rollback to a cut entirely below the prefix: the guard rewinds to
    # the cut and the undone epochs redeliver exactly
    res = wh.rollback_to("good")
    assert res["undone_epochs"] == [1, 2]
    assert applied_watermark(wh) == 1
    assert wh.completed_epochs() == {0}
    assert _norm(wh.table("web_pages").read()) == want_cut
    replay(wh, events, max_concurrent_epochs=1)
    assert _norm(wh.table("web_pages").read()) == want_full
    assert wh.completed_epochs() == {0, 1, 2}
    assert os.listdir(d) == ["promoted_meta_keys.json"]


def test_checkpoint_compaction_floor_for_bootstrapped_consumers(spark, tmp_path):
    """A consumer bootstrapped past a TRUNCATED WAL prefix never applies
    epoch 0, so its progress needs a vouch floor. The floor is
    min(from_epoch, truncation point) and rides in the lineage snapshot's
    "vouched" guard: over a truncated log it starts at the switchover and
    survives rollback; over a NON-truncated log a typo'd from_epoch
    vouches NOTHING and a plain re-run heals the skipped epochs."""
    from data_exchange_routing_spark.sources.pyds import truncate_binlog

    # --- typo'd from_epoch over a non-truncated log: recoverable ---------
    wh0, events0 = _mk_wh(spark, tmp_path / "typo", n_epochs=3)
    replay(wh0, events0, from_epoch=1, max_concurrent_epochs=1)
    assert wh0.checkpoint_vouched_floor() == 0  # nothing vouched
    healed = replay(wh0, events0, max_concurrent_epochs=1)
    assert healed["applied_epochs"] == [0]  # plain re-run applies epoch 0

    # --- genuine bootstrap: WAL truncated below the switchover -----------
    wh, events = _mk_wh(spark, tmp_path / "boot", n_epochs=3)
    truncate_binlog(events, 1)  # epoch 0 segment GC'd
    replay(wh, events, from_epoch=1, max_concurrent_epochs=1)
    assert wh.checkpoint_vouched_floor() == 1
    assert wh.completed_epochs() == {0, 1, 2}
    assert applied_watermark(wh) == 3
    # plain replay (no from_epoch): bootstrapped-over epoch 0 stays vouched,
    # and a start whose floor does not rise commits nothing
    lineage_version = wh.table("lineage_metrics").current_version()
    out = replay(wh, events, max_concurrent_epochs=1)
    assert out["applied_epochs"] == [] and out["skipped_epochs"] == [0, 1, 2]
    replay(wh, events, from_epoch=1, max_concurrent_epochs=1)
    assert wh.table("lineage_metrics").current_version() == lineage_version

    # --- rollback after bootstrap keeps the vouching ----------------------
    wh.publish_snapshot("cut12")
    # (no later epochs to undo — the point is the vouch floor survives and
    # plain replay keeps working instead of demanding truncated epochs)
    wh.rollback_to("cut12")
    assert wh.checkpoint_vouched_floor() == 1
    out2 = replay(wh, events, max_concurrent_epochs=1)
    assert out2["applied_epochs"] == []


def test_checkpoint_watermark_algebra_random_interleavings():
    """Property of the guards replay progress is read from: under ANY
    interleaving of out-of-order ``_enc_add`` epochs (the "lineage" guard)
    and monotonic ``_enc_add_monotonic`` vouches (the "vouched" guard), the
    decoded epochs plus the vouched prefix equal the reference set,
    ``_enc_contains`` agrees, the lineage ``w`` stops exactly at the first
    gap, and ``applied_watermark`` is the first gap of the union. No Spark
    session."""
    import random

    from data_exchange_routing_spark.lake.table import (
        _dec_epochs,
        _enc_add,
        _enc_add_monotonic,
        _enc_contains,
    )

    class _Progress:  # the one Warehouse method applied_watermark reads
        def __init__(self, lineage, vouched):
            self.guards = lineage, vouched

        def _progress(self):
            return self.guards

    rng = random.Random(17)
    for trial in range(200):
        lineage: dict = {"w": -1, "extra": []}
        vouched: object = []  # a fresh table's guard
        reference: set[int] = set()
        floor = 0
        for _ in range(30):
            if rng.random() < 0.8:
                e = rng.randrange(0, 40)
                lineage = _enc_add(lineage, e)
                reference.add(e)
            else:
                f = rng.randrange(0, 20)
                vouched = _enc_add_monotonic(vouched, f - 1)
                floor = max(floor, f)
            assert _dec_epochs(lineage) == reference, trial
            assert vouched == [] or vouched == {"w": floor - 1, "extra": []}
            for e in range(45):
                assert _enc_contains(lineage, e) == (e in reference), (trial, e)
            w = lineage["w"]
            assert set(range(w + 1)) <= reference
            assert w + 1 not in reference  # the prefix stops at the first gap
            assert lineage["extra"] == sorted(x for x in reference if x > w)
            done = reference | set(range(floor))
            gap = min(set(range(len(done) + 1)) - done)
            assert applied_watermark(_Progress(lineage, floor)) == gap, trial
