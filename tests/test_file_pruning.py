"""Spark-free unit test of the one manifest file evaluator,
``LakeTable._file_may_match``, over hand-built manifest entries: every kind
of evidence an entry can carry, each alone and combined, and the cases that
must KEEP a file (missing evidence, NULL probe, NULL partition value,
unbucketed file, probe not comparable with the evidence)."""

import base64
from datetime import datetime

import numpy as np
from pyspark.sql import types as T

from data_exchange_routing_spark.functions.novelty import _h1h2_py
from data_exchange_routing_spark.lake.table import LakeTable

BITS, HASHES = 256, 3
PROPS = {"bloom_cols": ["host", "v"], "bloom_bits": BITS, "bloom_hashes": HASHES}
SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("url", T.StringType()),
    ]
)
SPECS = {"1": [{"name": "d", "col": "ts", "transform": "days"}]}


def _bloom(*values) -> str:
    """A packed bitmap built with the same hashing as the write path."""
    bitmap = np.zeros(BITS, dtype=bool)
    for v in values:
        h1, h2 = _h1h2_py(str(v))
        for i in range(HASHES):
            bitmap[(h1 + i * h2) % BITS] = True
    return base64.b64encode(np.packbits(bitmap).tobytes()).decode("ascii")


def _may(f, *preds, key=None):
    return LakeTable._file_may_match(
        f, list(preds), specs=SPECS, props=PROPS, schema=SCHEMA, key=key
    )


def test_partition_values_through_the_files_own_spec():
    f = {"bucket": -1, "spec_id": 1, "partition": {"d": "2024-03-01"}}
    assert _may(f, ("eq", "ts", datetime(2024, 3, 1, 5)))
    assert not _may(f, ("eq", "ts", datetime(2024, 3, 2, 5)))
    assert _may(f, ("range", "ts", datetime(2024, 2, 28), datetime(2024, 3, 1)))
    assert not _may(f, ("range", "ts", datetime(2024, 3, 2), None))
    # a NULL partition value (hive default dir) can hold any row
    assert _may({**f, "partition": {"d": None}}, ("eq", "ts", datetime(2024, 3, 2)))
    # a spec id the table does not know cannot answer: keep
    assert _may({**f, "spec_id": 9}, ("eq", "ts", datetime(2024, 3, 2)))


def test_bloom_hit_and_miss_eq_only():
    f = {"bucket": -1, "bloom": {"host": _bloom("h1", "h2"), "v": _bloom(4.0)}}
    assert _may(f, ("eq", "host", "h1"))
    assert not _may(f, ("eq", "host", "nope"))
    # the probe is normalized to the column type first: 4 on a double
    # column hashes as the stored "4.0"
    assert _may(f, ("eq", "v", 4))
    # a Bloom bitmap never prunes a range predicate
    assert _may(f, ("range", "host", "nope", "nope"))
    # a bitmap for a column outside bloom_cols is not trusted
    assert _may({"bucket": -1, "bloom": {"url": _bloom("a")}}, ("eq", "url", "b"))


def test_col_stats_then_ts_stats_bounds():
    f = {"bucket": -1, "col_stats": {"url": ["b", "d"], "v": [1.0, 5.0]}}
    assert _may(f, ("eq", "url", "c"))
    assert not _may(f, ("eq", "url", "e"))
    assert _may(f, ("range", "v", 5.0, None))
    assert not _may(f, ("range", "v", None, 0.5))
    assert not _may(f, ("range", "v", 6, 9))
    # timestamp columns carry ts_stats (ISO strings with the UTC offset the
    # parquet footer reports); range and eq use them
    g = {"bucket": -1, "ts_stats": {"ts": ["2024-01-10T00:00:00+00:00", "2024-01-10T05:00:00+00:00"]}}
    assert _may(g, ("range", "ts", datetime(2024, 1, 9), datetime(2024, 1, 11)))
    assert not _may(g, ("range", "ts", datetime(2024, 1, 11), None))
    assert not _may(g, ("eq", "ts", datetime(2024, 1, 1)))
    # a bound exactly at the file's min or max keeps it (compared as
    # instants, not as strings of different shapes)
    assert _may(g, ("range", "ts", None, datetime(2024, 1, 10)))
    assert _may(g, ("eq", "ts", datetime(2024, 1, 10)))
    assert _may(g, ("range", "ts", datetime(2024, 1, 10, 5), None))
    # string bounds read as timestamps, as the row predicate casts them
    assert _may(g, ("range", "ts", None, "2024-01-10 03:00:00"))
    assert not _may(g, ("range", "ts", "2024-01-10 05:00:01", None))


def test_key_range_only_for_the_merge_key():
    f = {"bucket": 3, "key_min": "k03000", "key_max": "k03049"}
    assert _may(f, ("eq", "url", "k03007"), key="url")
    assert not _may(f, ("eq", "url", "k04007"), key="url")
    # without a merge key the key range is no evidence for the column
    assert _may(f, ("eq", "url", "k04007"))


def test_bucket_field_as_range_and_unbucketed_files():
    assert _may({"bucket": 3}, ("bucket", (3,)))
    assert _may({"bucket": 3}, ("bucket", (1, 3)))
    assert not _may({"bucket": 3}, ("bucket", (1, 2)))
    assert _may({"bucket": -1}, ("bucket", (1, 2)))


def test_missing_evidence_null_probe_and_incomparable_probe_keep():
    bare = {"bucket": -1}
    assert _may(bare, ("eq", "host", "x"), ("range", "v", 0, 1), ("eq", "ts", datetime(2024, 1, 1)))
    f = {
        "bucket": -1,
        "col_stats": {"url": ["b", "d"]},
        "bloom": {"host": _bloom("h1")},
        "spec_id": 1,
        "partition": {"d": "2024-03-01"},
    }
    assert _may(f, ("eq", "url", None))
    assert _may(f, ("eq", "host", None))
    assert _may(f, ("eq", "ts", None))
    # a string probe on a days-partitioned timestamp, an int probe on a
    # string range: the evidence cannot answer, so the file stays
    assert _may(f, ("range", "ts", "2024-05-01", None))
    assert _may(f, ("eq", "url", 7))


def test_predicates_combine_as_a_conjunction():
    f = {
        "bucket": -1,
        "spec_id": 1,
        "partition": {"d": "2024-03-01"},
        "col_stats": {"v": [1.0, 5.0]},
        "bloom": {"host": _bloom("h1")},
    }
    day = ("eq", "ts", datetime(2024, 3, 1, 12))
    assert _may(f, day, ("range", "v", 2, 3), ("eq", "host", "h1"))
    # each predicate alone can drop the file, whichever evidence answers it
    assert not _may(f, day, ("range", "v", 6, 7))
    assert not _may(f, day, ("eq", "host", "zz"))
    assert not _may(f, ("eq", "ts", datetime(2024, 3, 5)), ("range", "v", 2, 3))
    assert _may(f)  # no predicate keeps every file
