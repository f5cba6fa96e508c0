"""The exact dead_letter rows of one epoch: which events dead-letter, at which
stage, with which error and which meta — not only per-stage counts.

One epoch carries a validation failure, a no-route event, an invalid-route
event, and a route config in which ``text/html`` has two rows (one valid,
one ``is_valid=false``), so a valid html event both routes and
dead-letters, while an html event that failed validation must dead-letter
exactly once (the 1->N multicast must not multiply it).
"""

from __future__ import annotations

from datetime import datetime

from data_exchange_routing_spark import __version__
from data_exchange_routing_spark.pipeline import Warehouse, apply_epoch
from data_exchange_routing_spark.schemas import (
    CHANGE_EVENTS,
    ERR_INVALID_ROUTE,
    ERR_MISSING_STREAM_ID,
    ERR_NO_ROUTE,
    ROUTE_CONFIG,
)
from data_exchange_routing_spark.sources.configs import DEFAULT_ROUTES

TS = datetime(2024, 3, 7, 9, 5, 6)
META = {"Data_Stream_ID": "s", "DATA_STREAM_ROUTE": "r", "Source": "crawl"}
NORMALIZED = {"data_stream_id": "s", "data_stream_route": "r", "source": "crawl"}
ENRICHED = {
    **NORMALIZED,
    "system_provider": "DEX-SPARK",
    "engine_version": __version__,
    "dex_ingest_datetime": "2024-03-07T09:05:06.000Z",
}


def _event(lsn: int, ct: str, meta: dict) -> tuple:
    return (lsn, "I", f"https://h.example/p/{lsn}", TS, b"<p>x</p>", "en", ct, meta, 0)


def _route_config(spark):
    routes = list(DEFAULT_ROUTES) + [
        ("text/html", "web_pages_xml", ":y/:m/:d", {"tier": "mirror"}, False)
    ]
    rows = [
        {"route_key": k, "destination_table": t, "destination_partition": p, "extra_meta": m, "is_valid": v}
        for (k, t, p, m, v) in routes
    ]
    return spark.createDataFrame(rows, ROUTE_CONFIG)


def test_dead_letter_rows_are_exact(spark, tmp_path):
    events = spark.createDataFrame(
        [
            _event(1, "text/html", {"DATA_STREAM_ROUTE": "r", "Source": "crawl"}),  # fails validation
            _event(2, "application/octet-stream", META),  # no route
            _event(3, "application/xml", META),  # invalid route
            _event(4, "text/html", META),  # routes AND hits the invalid twin row
            _event(5, "application/pdf", META),  # routes only
        ],
        CHANGE_EVENTS,
    )
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    wh.init_tables()
    apply_epoch(wh, events, epoch_id=0, route_config=_route_config(spark))

    got = sorted(
        (r["url"], r["lsn"], r["error"], r["stage"], r["warc_ts"], dict(r["meta"]))
        for r in wh.table("dead_letter").read().collect()
    )
    url = "https://h.example/p/{}".format
    assert got == [
        # validate rows keep the normalized, un-enriched meta
        (url(1), 1, ERR_MISSING_STREAM_ID, "validate", TS, {"data_stream_route": "r", "source": "crawl"}),
        # route rows carry the enriched meta, without the route's extra_meta
        (url(2), 2, ERR_NO_ROUTE, "route", TS, ENRICHED),
        (url(3), 3, ERR_INVALID_ROUTE, "route", TS, ENRICHED),
        (url(4), 4, ERR_INVALID_ROUTE, "route", TS, ENRICHED),
    ]

    routed = {
        dest: sorted(r["url"] for r in wh.table(dest).read().collect())
        for dest in ("web_pages", "web_pages_pdf")
    }
    assert routed == {"web_pages": [url(4)], "web_pages_pdf": [url(5)]}
