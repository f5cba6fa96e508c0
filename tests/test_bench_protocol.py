"""Scaling-protocol bookkeeping in bench.py (no Spark): a failed child slot
stays a None placeholder, so pairs never mix interleave rounds, and a level
with no successful run yields a partial report instead of a crash."""

from __future__ import annotations

import json

import pytest

import bench


def _run(sec: float, eps: float) -> dict:
    return {
        "sec": sec,
        "events_per_sec": eps,
        "all_secs": [sec],
        "host_mem_gbps_before": 5.0,
        "host_mem_gbps_after": 5.0,
    }


def test_pair_analysis_drops_pairs_with_a_skipped_slot():
    all_runs = {
        2: [_run(10.0, 100.0), None, _run(11.0, 90.0)],
        8: [_run(4.0, 250.0), _run(5.0, 200.0), _run(4.5, 220.0)],
    }
    rows, best = bench._pair_analysis(all_runs, 2, 8)
    # round 1 lost its 2-core run: that pair is dropped, round 2 still
    # pairs its own back-to-back runs
    assert [r["pair"] for r in rows] == [0, 2]
    assert (rows[1]["sec_n"], rows[1]["sec_4n"]) == (11.0, 4.5)
    assert rows[1]["eff"] == round((220.0 / 8) / (90.0 / 2), 3)
    assert best["pair"] == 0


def test_level_without_a_successful_run_reports_partial(capsys):
    ok = {2: [None, _run(11.0, 90.0)], 8: [_run(4.0, 250.0), _run(5.0, 200.0)]}
    best = bench._best_per_level(ok)
    assert best[2]["sec"] == 11.0 and best[2]["all_secs"] == [11.0]
    assert best[8]["sec"] == 4.0 and best[8]["all_secs"] == [4.0, 5.0]

    failed = {2: [None, None], 8: [_run(4.0, 250.0), None]}
    assert bench._best_per_level(failed) is None
    with pytest.raises(SystemExit) as exc:
        bench._exit_partial("scaling", failed)
    assert exc.value.code == 1
    report = json.loads(capsys.readouterr().out)
    assert report["partial"] is True and report["error"].endswith("level(s) 2")
    assert report["runs"]["8"][0]["sec"] == 4.0
