"""Unit tests for parse / validate / dedup / routing operators, mirroring the
reference's exact-assertion style (Unit_FnDecompressor.kt, FunctionTest.kt)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from data_exchange_routing_spark.operators.dedup import dedup_last_writer
from data_exchange_routing_spark.operators.parse import (
    decompose_url,
    folders_to_path,
    iso8601,
    normalize_meta_keys,
    coalesce_routing_keys,
)
from data_exchange_routing_spark.operators.routing import annotate_routes, split_routed
from data_exchange_routing_spark.operators.validate import split_valid
from data_exchange_routing_spark.schemas import (
    CHANGE_EVENTS,
    ERR_EMPTY_META,
    ERR_INVALID_ROUTE,
    ERR_MISSING_STREAM_ID,
    ERR_MISSING_STREAM_ROUTE,
    ERR_NO_ROUTE,
)
from data_exchange_routing_spark.sources.configs import default_route_config


def _events(spark, rows):
    return spark.createDataFrame(rows, CHANGE_EVENTS)


def _e(lsn, url="https://h.example/a/b.html", meta=None, op="I", ct="text/html", ts=None):
    return (
        lsn,
        op,
        url,
        ts or datetime(2024, 1, 1, 12, 30, 45),
        b"<html>x</html>",
        "en",
        ct,
        {"data_stream_id": "s", "data_stream_route": "r"} if meta is None else meta,
        0,
    )


def test_decompose_url(spark):
    # reference asserts exact (account, container, path) decomposition
    # (FunctionTest.kt:49-61); ours: scheme/host/path/file/folder
    df = _events(spark, [_e(1, url="https://host.example/folder/sub/file.html")])
    r = decompose_url(df).first()
    assert r["url_scheme"] == "https"
    assert r["url_host"] == "host.example"
    assert r["url_path"] == "/folder/sub/file.html"
    assert r["url_file"] == "file.html"
    assert r["url_folder"] == "/folder/sub"


def test_meta_key_normalization_and_coalesce(spark):
    df = _events(
        spark,
        [_e(1, meta={"Data_Stream_ID": "sid", "META_EXT_EVENT": "rt", "Upload_ID": "u1"})],
    )
    out = coalesce_routing_keys(normalize_meta_keys(df)).first()
    assert out["data_stream_id"] == "sid"  # lowered key found
    assert out["data_stream_route"] == "rt"  # fallback meta_ext_event
    assert out["upload_id"] == "u1"
    assert out["ingest_ts"] == datetime(2024, 1, 1, 12, 30, 45)  # fallback to warc_ts


def test_folders_to_path_date_tokens(spark):
    # Common.kt:231-250 token semantics
    df = spark.createDataFrame(
        [("x/:y/:m/:d/", datetime(2024, 3, 7, 9, 5, 6))], "tpl string, ts timestamp"
    )
    r = df.select(
        folders_to_path(F.col("tpl"), F.col("ts")).alias("p"),
        iso8601(F.col("ts")).alias("iso"),
    ).first()
    assert r["p"] == "x/2024/03/07"
    assert r["iso"] == "2024-03-07T09:05:06.000Z"


def test_validation_exact_errors(spark):
    df = _events(
        spark,
        [
            _e(1, meta={}),
            _e(2, meta={"data_stream_route": "r"}),
            _e(3, meta={"data_stream_id": "s"}),
            _e(4),
        ],
    )
    valid, dead = split_valid(df)
    errs = {r["lsn"]: r["error"] for r in dead.collect()}
    assert errs == {
        1: ERR_EMPTY_META,
        2: ERR_MISSING_STREAM_ID,
        3: ERR_MISSING_STREAM_ROUTE,
    }
    assert [r["lsn"] for r in valid.collect()] == [4]
    assert {r["stage"] for r in dead.collect()} == {"validate"}


def test_routing_split_and_errors(spark):
    df = _events(
        spark,
        [
            _e(1, ct="text/html"),
            _e(2, ct="application/octet-stream"),  # no route
            _e(3, ct="application/xml"),  # invalid route
        ],
    )
    routed, dead = split_routed(annotate_routes(df, default_route_config(spark)))
    assert {r["lsn"]: r["destination_table"] for r in routed.collect()} == {1: "web_pages"}
    errs = {r["lsn"]: r["error"] for r in dead.collect()}
    assert errs == {2: ERR_NO_ROUTE, 3: ERR_INVALID_ROUTE}
    # per-route static metadata merged (RouteIngestedFile.kt:205-209)
    assert routed.first()["meta"]["tier"] == "hot"


def test_routing_default_fallback(spark):
    # deprecated C# fallback route (RouteIngestedFile.cs:39-45)
    df = _events(spark, [_e(1, ct="application/octet-stream")])
    annotated = annotate_routes(df, default_route_config(spark), default_route_key="text/html")
    routed, dead = split_routed(annotated)
    assert routed.count() == 1 and dead.count() == 0
    assert routed.first()["destination_table"] == "web_pages"


def test_routing_join_is_broadcast(spark):
    """The config join must plan as a broadcast hash join — no shuffle of the
    event stream for routing (SURVEY §2.5 J1)."""
    df = _events(spark, [_e(1)])
    annotated = annotate_routes(df, default_route_config(spark))
    plan = annotated._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dedup_strategies_agree_and_pick_latest(spark):
    rows = [
        _e(1, url="u", ts=datetime(2024, 1, 1, 0, 0, 5)),
        _e(2, url="u", ts=datetime(2024, 1, 1, 0, 0, 9)),  # winner: latest ts
        _e(3, url="u", ts=datetime(2024, 1, 1, 0, 0, 9)),  # same ts, higher lsn wins
        _e(4, url="v", ts=datetime(2024, 1, 1, 0, 0, 1)),
        _e(4, url="v", ts=datetime(2024, 1, 1, 0, 0, 1)),  # exact duplicate delivery
    ]
    df = _events(spark, rows)
    got = {r["url"]: r["lsn"] for r in dedup_last_writer(df, "url").collect()}
    assert got == {"u": 3, "v": 4}


def test_parquet_filter_pushdown(spark):
    """Predicate + projection reach the parquet scan (PushedFilters)."""
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = df.select("l_orderkey").filter(F.col("l_orderkey") == 42)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]" in plan
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_empty_epoch_is_safe(spark, tmpdir_path):
    """An empty micro-batch (quiet binlog window) must commit cleanly and be
    epoch-guarded like any other (streaming triggers fire on empty windows)."""
    from data_exchange_routing_spark.pipeline import Warehouse, apply_epoch
    from data_exchange_routing_spark.schemas import CHANGE_EVENTS

    wh = Warehouse(spark, tmpdir_path, n_buckets=4)
    wh.init_tables()
    empty = spark.createDataFrame([], CHANGE_EVENTS)
    stats = apply_epoch(wh, empty, epoch_id=0)
    assert set(stats["destinations"]) and wh.table("web_pages").read().count() == 0
    # re-apply is a guard no-op
    again = apply_epoch(wh, empty, epoch_id=0)
    assert all(v.get("skipped") for v in again["destinations"].values())


def test_native_session_window_agrees_with_lag_sessionize(spark):
    """Spark's built-in session_window must assign the same session spans as
    the explicit lag/cumsum sessionization the oracle checks (30 min gap)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    native = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("session_start"), "n")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        (F.col("prev_ts").isNull())
        | (F.expr("timestampdiff(SECOND, prev_ts, ts)") >= 1800),
    )
    manual = (
        lagged.withColumn(
            "session_id",
            F.sum(F.col("new_session").cast("int")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n"))
        .select("user_id", "session_start", "n")
    )
    got = sorted(map(tuple, native.collect()))
    exp = sorted(map(tuple, manual.collect()))
    assert got == exp


def test_dedup_agg_combines_map_side(spark):
    """The dedup aggregation must plan a partial (map-side) max_by BEFORE the
    exchange — the property that pre-reduces Zipf-hot urls so no reduce task
    ever receives a hot key's full duplicate stream (SCALE.md §3)."""
    df = _events(spark, [_e(1, url="u"), _e(2, url="u")])
    plan = dedup_last_writer(df, "url")._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan and "Exchange hashpartitioning(url" in plan


def test_dedup_extreme_hot_key(spark):
    """One url carrying 100k duplicate events resolves to exactly its max
    (warc_ts, lsn) row."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    hot = spark.range(100000).selectExpr(
        "id AS lsn",
        "'U' AS op",
        "'https://hot.example/page' AS url",
        f"timestamp'{base}' + make_interval(0,0,0,0,0,0, id % 1000) AS warc_ts",
    )
    cold = spark.range(500).selectExpr(
        "id + 1000000 AS lsn",
        "'U' AS op",
        "concat('https://cold.example/', id) AS url",
        f"timestamp'{base}' AS warc_ts",
    )
    df = hot.unionByName(cold)
    out = dedup_last_writer(df, "url")
    assert out.count() == 501
    winner = out.filter("url = 'https://hot.example/page'").collect()[0]
    # max warc_ts is base+999s; among those, max lsn = 99999
    assert winner["warc_ts"] == base + timedelta(seconds=999)
    assert winner["lsn"] == 99999


def test_canonicalize_url_edges(spark):
    """Canonicalization: fragment stripped, scheme+host lowercased (path
    case kept), default ports dropped (https:443 too, but not :8080),
    tracking params removed, query sorted, empty query leaves no '?'."""
    from data_exchange_routing_spark.operators.parse import canonicalize_url

    cases = [
        ("HTTPS://A.Com:443/P?utm_campaign=c", "https://a.com/P"),
        ("https://a.com:8443/x", "https://a.com:8443/x"),
        ("http://A.COM:8080/x?b=1&a=2", "http://a.com:8080/x?a=2&b=1"),
        ("http://a.com/x#only-frag", "http://a.com/x"),
        ("http://a.com/CaseKept/Path", "http://a.com/CaseKept/Path"),
        ("http://a.com/x?gclid=1&fbclid=2&utm_x=3", "http://a.com/x"),
        ("http://a.com/x?", "http://a.com/x"),
        ("http://a.com:80/", "http://a.com/"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], ["i", "url"])
    got = {r.i: r.url_canonical for r in canonicalize_url(df).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, f"{u}: {got[i]} != {want}"


def test_extract_links_edge_cases(spark):
    """Double-quoted hrefs only; canonicalization applied per target; pages
    with no links vanish; non-UTF8-safe plumbing is out of scope (binary in,
    decoded once)."""
    from data_exchange_routing_spark.operators.parse import extract_links, host_of

    rows = [
        (1, b'<a href="HTTP://A.COM:80/x?utm_source=1&b=2">t</a> <a href=\'http://skip.me\'>s</a>'),
        (2, b"<p>no links at all</p>"),
        (3, b'<a href="https://B.com:443/y#frag">u</a><a href="rel/path">v</a>'),
        (4, b'<a href="http://user:pw@C.com:8080/z">w</a><a href="http://bob@D.com/q">x</a>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html binary")
    got = {
        (r["doc_id"], r["href"], r["dst_url"])
        for r in extract_links(df, html_col="html", id_cols=("doc_id",)).collect()
    }
    assert got == {
        (1, "HTTP://A.COM:80/x?utm_source=1&b=2", "http://a.com/x?b=2"),
        (3, "https://B.com:443/y#frag", "https://b.com/y"),
        (3, "rel/path", "rel/path"),
        (4, "http://user:pw@C.com:8080/z", "http://user:pw@c.com:8080/z"),
        (4, "http://bob@D.com/q", "http://bob@d.com/q"),
    }
    hosts = {
        r["h"]
        for r in extract_links(df, html_col="html", id_cols=("doc_id",))
        .select(host_of(F.col("dst_url")).alias("h"))
        .collect()
    }
    # userinfo is skipped (not mistaken for the host); port excluded;
    # schemeless target has no host
    assert hosts == {"a.com", "b.com", "c.com", "d.com", ""}


def test_fused_arrow_engine_matches_pandas_engine(spark):
    """r05 bytes-per-event work: the mapInArrow fused dedup+extract must be
    row-identical to the pandas engine — including cross-batch boundary
    dedup (tiny Arrow batches force it), dead-letter at-least-once
    exemption, meta nulling for delta rows, null urls, and null html."""
    from datetime import datetime

    from data_exchange_routing_spark.operators.dedup import fused_local_dedup_extract

    rows = []
    for i in range(40):
        url = None if i % 13 == 0 else f"https://s/{i % 7}"
        rows.append(
            (
                "web_pages" if i % 5 else "dead_letter",
                url,
                datetime(2024, 1, 1, 0, 0, i % 9),
                None if i % 11 == 0 else f"<p>page &amp; {i}</p>".encode(),
                "en",
                i,
                i % 17 == 0,
                {"k": str(i)},
            )
        )
    df = spark.createDataFrame(
        rows,
        "destination_table string, url string, warc_ts timestamp, html binary,"
        " lang string, _lsn long, _deleted boolean, meta map<string,string>",
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        # 4-row batches: every partition crosses several batch boundaries
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        a = fused_local_dedup_extract(df, n_buckets=4, engine="arrow").collect()
        p = fused_local_dedup_extract(df, n_buckets=4, engine="pandas").collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    key = lambda r: (r["destination_table"], str(r["url"]), str(r["warc_ts"]), r["_lsn"])
    assert sorted(map(tuple, a), key=lambda t: str(t)) == sorted(
        map(tuple, p), key=lambda t: str(t)
    )
    assert len(a) == len(p) and len(a) > 0
    # dead letters kept at-least-once (every dl input row survives)
    n_dl = sum(1 for r in a if r["destination_table"] == "dead_letter")
    assert n_dl == sum(1 for r in rows if r[0] == "dead_letter")
    # meta nulled on delta rows, kept on dead letters
    assert all(
        (r["meta"] is None) == (r["destination_table"] != "dead_letter") for r in a
    )
