"""The WAL tail (``stream_ingest``): drain-to-parity with the oracle, one
segment per bounded call, restart safety, and per-epoch lineage."""

from __future__ import annotations

import os

import pytest

from data_exchange_routing_spark.pipeline import Warehouse
from data_exchange_routing_spark.sources.datagen import write_change_events
from data_exchange_routing_spark.streaming.ingest import stream_ingest
from tests.oracle import oracle_final_states


@pytest.fixture(scope="module")
def stream_events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_events"))
    write_change_events(spark, d, 3000, 300, n_epochs=4)
    return d


def _tail(spark, events_dir, wh, cp):
    q = stream_ingest(spark, events_dir, wh, cp, source="binlog", max_epochs_per_batch=1)
    assert q.awaitTermination(300)
    assert q.exception() is None
    return q.applied_epochs


def test_stream_drain_matches_oracle(spark, stream_events_dir, tmpdir_path):
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=8)
    cp = os.path.join(tmpdir_path, "cp")
    # each bounded call applies the next segment (the call after the last
    # one, below, applies nothing)
    calls = [_tail(spark, stream_events_dir, wh, cp) for _ in range(4)]
    assert calls == [[0], [1], [2], [3]]

    events_pdf = spark.read.parquet(stream_events_dir).toPandas()
    expected = oracle_final_states(events_pdf)["web_pages"]
    got = wh.table("web_pages").read().toPandas()
    assert len(got) == len(expected)
    g = got.sort_values("url").reset_index(drop=True)
    e = expected.sort_values("url").reset_index(drop=True)
    assert list(g["url"]) == list(e["url"])
    assert list(g["text"]) == list(e["text"])  # byte-identical extraction

    # lineage rows carry exactly the applied WAL epochs
    lm = wh.table("lineage_metrics").read().toPandas()
    assert set(lm["epoch_id"]) == {0, 1, 2, 3}

    # a re-run has nothing left to apply -> no state change
    v_before = wh.table("web_pages").current_version()
    assert _tail(spark, stream_events_dir, wh, cp) == []
    assert wh.table("web_pages").current_version() == v_before
