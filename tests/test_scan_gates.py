"""Scan gates for the epoch plan: every change event is read once per epoch.

Like tests/test_plan_audit.py these assert record counts, not times, so host
noise cannot move them: the input records the binlog tail reads for a
segment, the input records and Spark jobs of one ``apply_epoch`` (a fresh
warehouse's first one included), and the jobs of one replayed epoch. A plan
that reads the batch once per outcome branch (routed / validate dead
letters / route dead letters) reads every event three times and fails both
record gates.

The job count is pinned under the test session's fixed parallelism
(cores=8, shuffle_partitions=8, tests/conftest.py).
"""

from __future__ import annotations

import os
import shutil

import pytest

from cdcbench.trace import fetch_jobs_and_stages
from data_exchange_routing_spark.pipeline import Warehouse, apply_epoch
from data_exchange_routing_spark.sources.datagen import write_change_events

# Spark jobs of one warm-registry epoch (AQE submits each query stage as its
# own job): collecting the route config for its broadcast, the scan ->
# projection -> (dest, bucket) shuffle map stage, and the Arrow
# dedup/extract -> staged parquet write
EPOCH_JOBS = 3


@pytest.fixture()
def log(spark, tmp_path):
    src = str(tmp_path / "log")
    write_change_events(spark, src, 1200, 200, n_epochs=2)
    return src


def _skip_without_ui(spark):
    if spark.sparkContext.uiWebUrl is None:
        pytest.skip("spark.ui disabled in this session; the gate needs the REST API")


def _gated_apply_epoch(spark, wh, log, epoch: int) -> dict:
    """apply_epoch of one segment, asserting that it reads each event once
    in EPOCH_JOBS jobs; returns its stats."""
    events = spark.read.parquet(os.path.join(log, f"epoch_hint={epoch}"))
    n_events = events.count()
    jobs, stages = fetch_jobs_and_stages(spark.sparkContext)
    job0 = max((j["jobId"] for j in jobs), default=-1)
    stage0 = max(stages, default=-1)
    stats = apply_epoch(wh, events, epoch_id=epoch)

    jobs, stages = fetch_jobs_and_stages(spark.sparkContext)
    jobs = [j for j in jobs if j["jobId"] > job0]
    input_records = sum(st["inputRecords"] for sid, st in stages.items() if sid > stage0)
    assert input_records == n_events, f"scan read {input_records} records for {n_events} events"
    assert len(jobs) == EPOCH_JOBS, [j["name"] for j in jobs]
    return stats


def test_apply_epoch_reads_each_event_once(spark, tmp_path, log):
    _skip_without_ui(spark)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=8)
    wh.init_tables()
    # epoch 0 seeds the promoted-key registry (its late-key rewrite)
    apply_epoch(wh, spark.read.parquet(os.path.join(log, "epoch_hint=0")), epoch_id=0)
    assert wh.known_promote_keys() != []
    stats = _gated_apply_epoch(spark, wh, log, 1)
    assert stats["promoted_columns"] == wh.known_promote_keys()


def test_fresh_warehouse_first_epoch_reads_each_event_once(spark, tmp_path, log):
    """A fresh warehouse's registry knows no meta key, yet its first epoch
    stages once like any other: the keys it finds are promoted on the
    driver from the staged files, with no second read of the batch."""
    _skip_without_ui(spark)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=8)
    wh.init_tables()
    assert wh.known_promote_keys() == []
    stats = _gated_apply_epoch(spark, wh, log, 0)
    assert stats["promoted_columns"] == wh.known_promote_keys() != []


def test_replay_epoch_runs_only_the_apply_epoch_jobs(spark, tmp_path, log):
    """replay reads each segment with a schema taken from one footer on the
    driver: an epoch runs the apply_epoch jobs and no schema-inference job."""
    from data_exchange_routing_spark.pipeline import replay

    _skip_without_ui(spark)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=8)
    replay(wh, log, stop_after_epoch=0)  # seeds the promoted-key registry
    assert wh.known_promote_keys() != []
    jobs, _ = fetch_jobs_and_stages(spark.sparkContext)
    job0 = max((j["jobId"] for j in jobs), default=-1)
    assert replay(wh, log)["applied_epochs"] == [1]
    jobs, _ = fetch_jobs_and_stages(spark.sparkContext)
    jobs = [j for j in jobs if j["jobId"] > job0]
    assert len(jobs) == EPOCH_JOBS, [j["name"] for j in jobs]


def test_binlog_tail_hands_each_event_to_the_epoch_once(spark, tmp_path, log):
    from data_exchange_routing_spark.streaming.ingest import stream_ingest

    _skip_without_ui(spark)
    wal = str(tmp_path / "wal")
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    def drain(epoch: int):
        seg = os.path.join(wal, f"epoch_hint={epoch}")
        shutil.copytree(
            os.path.join(log, f"epoch_hint={epoch}"), seg, ignore=shutil.ignore_patterns("_*", ".*")
        )
        open(os.path.join(seg, "_SUCCESS"), "w").close()
        q = stream_ingest(spark, wal, wh, ckpt, source="binlog", max_epochs_per_batch=1)
        assert q.awaitTermination(180)
        assert q.exception() is None

    drain(0)  # cold warehouse: seeds the promoted-key registry
    n_segment = spark.read.parquet(os.path.join(log, "epoch_hint=1")).count()
    _, stages = fetch_jobs_and_stages(spark.sparkContext)
    stage0 = max(stages, default=-1)
    drain(1)
    _, stages = fetch_jobs_and_stages(spark.sparkContext)
    read = sum(st["inputRecords"] for sid, st in stages.items() if sid > stage0)
    assert read == n_segment, f"source read {read} rows for a {n_segment}-row segment"
