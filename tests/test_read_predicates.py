"""read()'s pushed predicates on append-only tables: every keyword prunes
through the one manifest file evaluator, keywords combine as a conjunction
(files AND rows), and a timestamp ``range_filter`` prunes by the same
``ts_stats`` evidence as ``ts_filter``."""

import os
from datetime import datetime

from pyspark.sql import types as T

from data_exchange_routing_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("n", T.LongType()),
        T.StructField("tag", T.StringType()),
    ]
)


def _rows(e: int) -> list[tuple]:
    # commit e: day e+1, hours 0..5, hosts alternating a/b, one tag per
    # (commit, host) so the tag's col_stats bounds name exactly one file
    out = []
    for i in range(6):
        host = "ab"[i % 2]
        out.append((host, datetime(2024, 1, e + 1, i), e * 100 + i, f"t{e}{host}"))
    return out


def _read_paths(t: LakeTable, df) -> set[str]:
    return {os.path.relpath(p.replace("file:", ""), t.path) for p in df.inputFiles()}


def test_pushed_predicates_combine_on_files_and_rows(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, bloom_cols=["tag"])
    t.set_partition_spec([{"name": "h", "col": "host", "transform": "identity"}])
    rows = []
    for e in range(4):
        rows += _rows(e)
        t.append(spark.createDataFrame(_rows(e), SCHEMA), epoch_id=e)
    files = t.snapshot().files
    assert len(files) == 8  # one file per (commit, host partition)
    props = t._props()

    def part_a(f):
        return f["partition"]["h"] == "a"

    def ts_day2(f):
        lo, hi = f["ts_stats"]["ts"]
        return lo <= datetime(2024, 1, 2, 23).isoformat() and hi >= datetime(2024, 1, 2).isoformat()

    def bloom_t1a(f):
        return t._bloom_probe(f["bloom"]["tag"], "t1a", props["bloom_bits"], props["bloom_hashes"])

    def n_upto_102(f):
        return f["col_stats"]["n"][0] <= 102

    # part_eq + ts_filter: host a, day 2 only
    got = t.read(part_eq=("host", "a"), ts_filter=("ts", datetime(2024, 1, 2), datetime(2024, 1, 2, 23)))
    assert sorted(r.n for r in got.collect()) == sorted(
        r[2] for r in rows if r[0] == "a" and r[1].day == 2
    ) == [100, 102, 104]
    want = {f["path"] for f in files if part_a(f) and ts_day2(f)}
    assert len(want) == 1 and _read_paths(t, got) == want

    # bloom_eq + range_filter: the range cuts inside the file holding the
    # tag. A commit's Bloom bitmap covers the whole commit (both host
    # files); the tag's own col_stats bounds drop the other host's file.
    got = t.read(bloom_eq=("tag", "t1a"), range_filter=("n", 0, 102))
    assert sorted(r.n for r in got.collect()) == [100, 102]
    want = {f["path"] for f in files if bloom_t1a(f) and n_upto_102(f)}
    assert len(want) == 2
    paths = _read_paths(t, got)
    assert len(paths) == 1 and paths <= want

    # three keywords at once; an empty intersection opens no file
    got = t.read(part_range=("host", "b", "b"), ts_filter=("ts", datetime(2024, 1, 3), None),
                 range_filter=("n", None, 201))
    assert sorted(r.n for r in got.collect()) == [201]
    assert len(_read_paths(t, got)) == 1
    got = t.read(part_eq=("host", "a"), bloom_eq=("tag", "t1b"))
    assert got.count() == 0 and _read_paths(t, got) == set()


def test_timestamp_range_filter_prunes_by_ts_stats(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for e in range(3):
        t.append(spark.createDataFrame(_rows(e), SCHEMA), epoch_id=e)
    files = t.snapshot().files
    assert len(files) == 3 and all("ts" not in (f.get("col_stats") or {}) for f in files)
    lo, hi = datetime(2024, 1, 2, 1), datetime(2024, 1, 2, 3)
    got = t.read(range_filter=("ts", lo, hi))
    assert sorted(r.n for r in got.collect()) == [101, 102, 103]
    # the rows are the ts_filter read's and the plain filter's
    assert sorted(got.collect()) == sorted(t.read(ts_filter=("ts", lo, hi)).collect())
    assert sorted(got.collect()) == sorted(
        r for r in t.read().collect() if r.ts is not None and lo <= r.ts <= hi
    )
    day2 = {f["path"] for f in files if f["ts_stats"]["ts"][0].startswith("2024-01-02")}
    assert len(day2) == 1 and _read_paths(t, got) == day2
    # a bound exactly at a file's recorded min keeps that file's row (the
    # footer bound carries a UTC offset the naive probe lacks)
    at_min = datetime(2024, 1, 2)
    for kw in ("ts_filter", "range_filter"):
        assert [r.n for r in t.read(**{kw: ("ts", at_min, at_min)}).collect()] == [100]
