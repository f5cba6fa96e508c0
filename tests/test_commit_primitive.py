"""The lake's single commit primitive: every snapshot is derived with
``Snapshot.successor()`` (or copied with ``dataclasses.replace``) and every
retrying commit goes through ``LakeTable._commit_retry``.

Covers the cost of an uncontended commit (snapshot reads), a mixed-kind
commit race on one append-only table, and an ``ast`` guard that keeps
hand-built snapshots and copied retry loops from growing back."""

from __future__ import annotations

import ast
import os
import pathlib
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

import data_exchange_routing_spark.lake as lake_pkg
from data_exchange_routing_spark.lake.table import DELETED_COL, LSN_COL, LakeTable
from data_exchange_routing_spark.schemas import WEB_PAGES

SCHEMA = T.StructType(
    [T.StructField("url", T.StringType()), T.StructField("v", T.LongType())]
)


def _count_snapshot_reads(monkeypatch) -> list:
    calls: list = []
    orig = LakeTable.snapshot

    def counted(self, version=None):
        calls.append(version)
        return orig(self, version)

    monkeypatch.setattr(LakeTable, "snapshot", counted)
    return calls


def _driver_file(t: LakeTable, rows: list[tuple]) -> dict:
    """One parquet file written next to the table, as a manifest entry."""
    rel = f"data/ext-{len(os.listdir(os.path.join(t.path, 'data')))}.parquet"
    pq.write_table(
        pa.table({"url": [r[0] for r in rows], "v": [r[1] for r in rows]}),
        os.path.join(t.path, rel),
    )
    return {"path": rel, "bucket": -1, "rows": len(rows),
            "bytes": os.path.getsize(os.path.join(t.path, rel))}


def test_uncontended_commit_reads_the_snapshot_once(spark, tmpdir_path, monkeypatch):
    keyed = LakeTable.create(
        spark, os.path.join(tmpdir_path, "k"), WEB_PAGES, key="url", n_buckets=4
    )
    plain = LakeTable.create(spark, os.path.join(tmpdir_path, "p"), SCHEMA)
    entry = _driver_file(plain, [("a", 1), ("b", 2)])
    delta = T.StructType(
        WEB_PAGES.fields
        + [T.StructField(LSN_COL, T.LongType()), T.StructField(DELETED_COL, T.BooleanType())]
    )
    calls = _count_snapshot_reads(monkeypatch)

    keyed.commit_staged_files([], delta, epoch_id=0)
    assert len(calls) == 1, calls
    calls.clear()
    plain.commit_staged_files([entry], SCHEMA, epoch_id=0)
    assert len(calls) == 1, calls
    calls.clear()
    # append_rows: its keyed-table refusal check, then the commit
    plain.append_rows([("c", 3)], SCHEMA, epoch_id=1)
    assert len(calls) == 2, calls

    monkeypatch.undo()
    # the carried-forward state is intact: ids continue, deletes stay empty
    snap = plain.snapshot()
    assert snap.next_row_id == 3 and snap.delete_files == []
    assert sorted(r.v for r in plain.read().collect()) == [1, 2, 3]


def test_mixed_kind_commits_all_land(spark, tmpdir_path):
    """append_rows, add_column and delete_eq_mor race on one append-only
    table: each loser rebuilds on the winner's snapshot, so no commit is
    lost, the schema change and the delete survive later appends, and the
    row-id watermark never moves backwards."""
    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"), SCHEMA)
    t.append_rows([("a", 0), ("b", 0)], SCHEMA, epoch_id=0, source="seed")
    n_appends = 4
    go = threading.Barrier(n_appends + 2)
    errs: list = []

    def run(fn):
        try:
            go.wait(timeout=60)
            fn()
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    jobs = [
        (lambda i=i: t.append_rows(
            [(f"w{i}-{j}", i) for j in range(3)], SCHEMA, epoch_id=i, source=f"s{i}"
        ))
        for i in range(n_appends)
    ]
    jobs.append(lambda: t.add_column("extra", "long"))
    jobs.append(lambda: t.delete_eq_mor("url", "a"))
    threads = [threading.Thread(target=run, args=(fn,)) for fn in jobs]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the racers' read-build-create steps
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)

    assert not any(th.is_alive() for th in threads)
    assert not errs, errs
    assert t.current_version() == 1 + 1 + len(jobs)  # create + seed + racers
    assert "extra" in t.snapshot().schema().fieldNames()
    rows = t.read(with_row_ids=True).collect()
    urls = sorted(r.url for r in rows)
    assert urls == sorted(["b"] + [f"w{i}-{j}" for i in range(n_appends) for j in range(3)])
    assert len({r._row_id for r in rows}) == len(rows)
    marks = [t.snapshot(v).next_row_id for v in range(1, t.current_version() + 1)]
    assert marks == sorted(marks), marks
    assert marks[-1] == 2 + 3 * n_appends


def _lake_sources() -> dict[str, ast.Module]:
    d = pathlib.Path(lake_pkg.__file__).parent
    return {f.name: ast.parse(f.read_text()) for f in sorted(d.glob("*.py"))}


def _calls_with_scope(tree: ast.Module):
    """(call node, enclosing 'Class.func' path) for every call in ``tree``."""
    out = []

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, scope + [child.name])
            else:
                if isinstance(child, ast.Call):
                    out.append((child, ".".join(scope)))
                walk(child, scope)

    walk(tree, [])
    return out


def test_snapshot_construction_and_retry_loop_live_in_one_place():
    built_in: list[str] = []
    retry_loops: list[str] = []
    for fname, tree in _lake_sources().items():
        for call, scope in _calls_with_scope(tree):
            fn = call.func
            name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
            if name == "Snapshot":
                built_in.append(f"{fname}:{scope}")
            if (
                name == "range"
                and len(call.args) == 1
                and isinstance(call.args[0], ast.Constant)
                and call.args[0].value == 50
            ):
                retry_loops.append(f"{fname}:{scope}")
    assert sorted(built_in) == ["table.py:LakeTable.create", "table.py:LakeTable.snapshot"], (
        "derive new snapshots with Snapshot.successor(), not Snapshot(...)"
    )
    assert retry_loops == ["table.py:LakeTable._commit_retry"], (
        "retrying commits go through LakeTable._commit_retry"
    )
