"""Property-based tests (hypothesis): the CDC resolution invariant and the
as-of join semantics hold for arbitrary generated inputs, not just the
fixture shapes. Example counts kept small — each example runs real Spark
jobs — but shrinking still produces minimal counterexamples on failure."""

from __future__ import annotations

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from data_exchange_routing_spark.operators.asof import asof_join
from data_exchange_routing_spark.operators.dedup import dedup_last_writer

_BASE = dt.datetime(2024, 1, 1)

# --- CDC last-writer-wins resolution ---------------------------------------

_events = st.lists(
    st.tuples(
        st.integers(0, 5),          # url id
        st.integers(0, 50),         # warc_ts offset (seconds)  [ties across events OK]
        st.sampled_from(["I", "U", "D"]),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_events)
def test_dedup_last_writer_matches_python_fold(spark, raw):
    """The dedup operator picks exactly the max-(warc_ts, lsn) event per
    url, for arbitrary event orders including duplicate timestamps (lsn
    breaks ties) and duplicate deliveries."""
    rows = [
        (i, op, f"u{u}", _BASE + dt.timedelta(seconds=ts))
        for i, (u, ts, op) in enumerate(raw)
    ]
    # duplicate delivery of every 3rd event (at-least-once)
    rows += [r for i, r in enumerate(rows) if i % 3 == 0]
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)

    expected = {}
    for lsn, op, url, ts in rows:
        cur = expected.get(url)
        if cur is None or (ts, lsn) > (cur[0], cur[1]):
            expected[url] = (ts, lsn, op)

    got = {
        r["url"]: (r["warc_ts"], r["lsn"], r["op"])
        for r in dedup_last_writer(df, key=["url"]).collect()
    }
    assert got == expected


# --- as-of join vs pandas merge_asof ---------------------------------------

_asof_case = st.tuples(
    st.lists(  # left: (key, ts)
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1,
        max_size=25,
    ),
    st.lists(  # right: (key, ts) — deduped below so payload is deterministic
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=0,
        max_size=25,
    ),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_asof_case)
def test_asof_join_matches_pandas_merge_asof(spark, case):
    left_raw, right_raw = case
    right_raw = sorted(set(right_raw))  # unique (key, ts): deterministic match
    left = spark.createDataFrame(
        [(i, f"k{k}", _BASE + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left_raw)],
        ["id", "key", "ts"],
    )
    right = spark.createDataFrame(
        [(f"k{k}", _BASE + dt.timedelta(seconds=s), f"p{k}_{s}") for (k, s) in right_raw],
        ["key", "rts", "tag"],
    ) if right_raw else spark.createDataFrame([], "key string, rts timestamp, tag string")

    got = {
        r["id"]: (r["rts_right"], r["tag_right"])
        for r in asof_join(
            left, right, on=["key"], left_ts="ts", right_ts="rts", payload_cols=["tag"]
        ).collect()
    }

    lpd = pd.DataFrame(
        [(i, f"k{k}", _BASE + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left_raw)],
        columns=["id", "key", "ts"],
    ).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(
        [(f"k{k}", _BASE + dt.timedelta(seconds=s), f"p{k}_{s}") for (k, s) in right_raw],
        columns=["key", "rts", "tag"],
    ).sort_values("rts", kind="stable")
    if len(rpd):
        exp_df = pd.merge_asof(
            lpd, rpd, left_on="ts", right_on="rts", by="key",
            direction="backward", allow_exact_matches=True,
        )
        expected = {
            int(r.id): ((None if pd.isna(r.rts) else r.rts.to_pydatetime()),
                        (None if pd.isna(r.rts) else r.tag))
            for r in exp_df.itertuples(index=False)
        }
    else:
        expected = {int(i): (None, None) for i in lpd["id"]}
    assert got == expected


def test_dedup_empty_batch(spark):
    schema = "lsn long, op string, url string, warc_ts timestamp"
    df = spark.createDataFrame([], schema)
    assert dedup_last_writer(df, key=["url"]).count() == 0
