"""Envelope parsing & projection operators (SURVEY.md §2.3 P1-P7).

All pure built-in column expressions — JVM-side, whole-stage-codegen'd; no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_exchange_routing_spark.schemas import CHANGE_EVENTS


def parse_envelope(df: DataFrame, json_col: str = "value") -> DataFrame:
    """P1: JSON change-event envelope -> typed columns.

    Reference: gson.fromJson(message, EventSchema) — Common.kt:211-214; unknown
    fields ignored (tolerant parse, dtos/AzureBlobCreateEventMesage.kt:3) —
    from_json with an explicit schema has exactly that behavior.
    """
    parsed = df.withColumn("_e", F.from_json(F.col(json_col), CHANGE_EVENTS))
    return parsed.select("_e.*").withColumn("html", F.unbase64(F.col("html").cast("string")))


def decompose_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """P2: url -> (scheme, host, path, file_name, folder).

    Reference: substringAfterLast/Before + URI — Common.kt:216-227.
    """
    c = F.col(url_col)
    return (
        df.withColumn("url_scheme", F.parse_url(c, F.lit("PROTOCOL")))
        .withColumn("url_host", F.parse_url(c, F.lit("HOST")))
        .withColumn("url_path", F.parse_url(c, F.lit("PATH")))
        .withColumn("url_file", F.substring_index(F.parse_url(c, F.lit("PATH")), "/", -1))
        .withColumn(
            "url_folder",
            F.regexp_replace(F.parse_url(c, F.lit("PATH")), "/[^/]*$", ""),
        )
    )


TRACKING_PARAM_RE = "^(utm_[A-Za-z0-9_]*|gclid|fbclid)="


def canonicalize_url(
    df: DataFrame, url_col: str = "url", out_col: str = "url_canonical"
) -> DataFrame:
    """Web-page URL canonicalization — the key-normalization prestep for
    url-keyed dedup/merge (two crawls of ``HTTP://X.COM:80/a?b=2&a=1`` and
    ``http://x.com/a?a=1&b=2`` must land on the same CDC merge key):

    1. strip the fragment,
    2. lowercase scheme+authority (path/query case is preserved),
    3. drop default ports (``:80`` http, ``:443`` https),
    4. remove tracking params (``utm_*``/``gclid``/``fbclid``) and sort the
       survivors byte-wise,
    5. drop an empty trailing ``?``.

    Pure narrow map built from regexp/array built-ins (no parse_url — the
    same regex steps run verbatim in the DuckDB oracle) — codegen-friendly,
    shuffle-free, so it composes with the CDC pipeline at scan speed.
    """
    c = F.col(url_col)
    base = F.regexp_replace(c, "#.*$", "")
    prefix = F.regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    rest = base.substr(F.length(prefix) + 1, F.length(base))
    auth = F.regexp_replace(
        F.regexp_replace(F.lower(prefix), "^(http://.*):80$", "$1"),
        "^(https://.*):443$",
        "$1",
    )
    path = F.regexp_extract(rest, "^([^?]*)", 1)
    query = F.regexp_extract(rest, "\\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&", -1),
            lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
        )
    )
    q2 = F.array_join(kept, "&")
    return df.withColumn(
        out_col,
        F.concat(auth, path, F.when(q2 != "", F.concat(F.lit("?"), q2)).otherwise(F.lit(""))),
    )


# double-quoted href attributes; the Java∩RE2 subset so the DuckDB oracle
# runs the identical pattern
HREF_RE = 'href="([^"]+)"'
# host component of a canonicalized URL (scheme lowercased): skip optional
# userinfo (user[:pw]@), stop before port/path/query — without the userinfo
# step, 'http://user:pw@h.com/x' would yield 'user'
HOST_RE = "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:@]+)"


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    id_cols: tuple[str, ...] = ("url",),
    out_col: str = "dst_url",
) -> DataFrame:
    """Outbound links per page: decode the html bytes, pull every
    double-quoted ``href`` target (one codegen'd regexp pass — no UDF, no
    shuffle), explode, and canonicalize each target with the same
    ``canonicalize_url`` steps the CDC merge key uses, so the link graph and
    the page table share one key space. Output: id_cols + (href, dst_url).

    The scan->regexp->explode pipeline is embarrassingly parallel; at 100 TB
    the only downstream shuffle is whatever aggregation the caller adds
    (e.g. host degrees). Extraction breadth matches the reference-style
    tolerant parse: unquoted/single-quoted hrefs are out of scope, like the
    text extractor's documented tag subset."""
    html_str = F.decode(F.col(html_col), "UTF-8")
    links = F.regexp_extract_all(html_str, F.lit(HREF_RE), 1)
    out = df.select(*[F.col(c) for c in id_cols], F.explode(links).alias("href"))
    return canonicalize_url(out, url_col="href", out_col=out_col)


def host_of(col) -> "F.Column":
    """Host of a CANONICALIZED url (lowercased scheme guaranteed)."""
    return F.regexp_extract(col, HOST_RE, 1)


def normalize_meta_keys(df: DataFrame, meta_col: str = "meta") -> DataFrame:
    """P3: lowercase all metadata keys (RouteIngestedFile.kt:116)."""
    return df.withColumn(
        meta_col,
        F.transform_keys(F.col(meta_col), lambda k, _v: F.lower(k)),
    )


def coalesce_routing_keys(df: DataFrame) -> DataFrame:
    """P4: fallback coalescing of routing keys (RouteIngestedFile.kt:122-140).

    data_stream_id <- meta['data_stream_id'] else meta['meta_destination_id'];
    data_stream_route <- meta['data_stream_route'] else meta['meta_ext_event'];
    ingest_ts <- meta['dex_ingest_datetime'] else event time;
    upload_id <- meta['upload_id'] else deterministic uuid.
    """
    m = F.col("meta")
    return (
        df.withColumn(
            "data_stream_id",
            F.coalesce(m.getItem("data_stream_id"), m.getItem("meta_destination_id")),
        )
        .withColumn(
            "data_stream_route",
            F.coalesce(m.getItem("data_stream_route"), m.getItem("meta_ext_event")),
        )
        .withColumn(
            "ingest_ts",
            F.coalesce(m.getItem("dex_ingest_datetime").cast("timestamp"), F.col("warc_ts")),
        )
        .withColumn("upload_id", F.coalesce(m.getItem("upload_id"), F.sha2(F.concat_ws("|", F.col("url"), F.col("lsn")), 256)))
    )


def folders_to_path(template_col: Column, ts_col: Column) -> Column:
    """P5: date-token path templating (Common.kt:231-250; README.md:17-19).

    Tokens :y :m :d :h :mm :f are replaced from the ingest timestamp; empty
    segments collapse. Physically our tables partition by bucket/date instead;
    this scalar survives for destination_partition strings.
    """
    out = template_col
    for token, fmt in [(":y", "yyyy"), (":mm", "mm"), (":m", "MM"), (":d", "dd"), (":h", "HH"), (":f", "SSS")]:
        out = F.replace(out, F.lit(token), F.date_format(ts_col, fmt))
    return F.regexp_replace(F.regexp_replace(out, "/+", "/"), "^/|/$", "")


def iso8601(ts_col: Column) -> Column:
    """P7: ISO-8601 formatting (Util.kt:11-17)."""
    return F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")


def enriched_meta(engine_version: str) -> Column:
    """P6: the enriched metadata map (RouteIngestedFile.kt:196-209).

    Adds system_provider / upload_id / data_stream_* / ingest timestamp into
    the open metadata map.
    """
    return F.map_concat(
        F.col("meta"),
        F.create_map(
            F.lit("system_provider"), F.lit("DEX-SPARK"),
            F.lit("engine_version"), F.lit(engine_version),
            F.lit("dex_ingest_datetime"), iso8601(F.col("ingest_ts")),
        ),
    )


def enrich_meta(df: DataFrame, engine_version: str) -> DataFrame:
    """P6: metadata enrichment projection over every row."""
    return df.withColumn("meta", enriched_meta(engine_version))
