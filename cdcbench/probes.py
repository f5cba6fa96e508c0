"""Layer probes for the traced run: one epoch of the workload's own input
pushed through growing prefixes of the apply_epoch pipeline, each into
Spark's ``noop`` sink, so the increment each layer adds can be timed alone.

  route prefix  scan -> normalize -> validate -> enrich -> route
  + dedup       fused_local_dedup_extract (dedup + text extraction, one shuffle)
  + staging     stage_multicast_delta (the staged parquet write)
  extract       extract_text alone over the surviving rows' html
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_probes(spark, tracer, events_path: str, promote: list[str], n_buckets: int, scratch: str) -> dict:
    from data_exchange_routing_spark import __version__
    from data_exchange_routing_spark.functions.extract import extract_text
    from data_exchange_routing_spark.lake.staging import DEST_COL, stage_multicast_delta
    from data_exchange_routing_spark.lake.table import BUCKET_COL, DELETED_COL, LSN_COL
    from data_exchange_routing_spark.operators.dedup import fused_local_dedup_extract
    from data_exchange_routing_spark.operators.parse import coalesce_routing_keys, enrich_meta, normalize_meta_keys
    from data_exchange_routing_spark.operators.routing import annotate_routes, split_routed
    from data_exchange_routing_spark.operators.validate import split_valid
    from data_exchange_routing_spark.sources.configs import default_route_config

    events = spark.read.parquet(events_path)
    batch = coalesce_routing_keys(normalize_meta_keys(events))
    valid, dead_validate = split_valid(batch)
    routed, dead_route = split_routed(annotate_routes(enrich_meta(valid, __version__), default_route_config(spark)))
    dead_all = (
        dead_validate.unionAll(dead_route)
        .withColumn(DEST_COL, F.lit("dead_letter"))
        .withColumn("lsn", F.col("lsn").cast("long"))
    )
    cols = [
        F.col(DEST_COL),
        F.col("url"),
        F.col("warc_ts"),
        F.col("html"),
        F.col("lang"),
        F.col("lsn").alias(LSN_COL),
        (F.col("op") == "D").alias(DELETED_COL),
        *[F.col("meta").getItem(k).alias(k) for k in promote],
        F.col("meta"),
    ]
    staged_input = routed.select(*cols).unionByName(dead_all, allowMissingColumns=True)
    fused = fused_local_dedup_extract(staged_input, n_buckets, dest_col=DEST_COL, bucket_col=BUCKET_COL)

    out: dict = {}
    with tracer.span("operators.route_prefix", "operators"):
        out["route_s"] = _timed(lambda: _noop(routed))
    with tracer.span("operators.fused_local_dedup_extract", "operators"):
        fused_s = _timed(lambda: _noop(fused))
    staging = os.path.join(scratch, "probe-staging")

    def stage():
        shutil.rmtree(staging, ignore_errors=True)
        out["entries"] = stage_multicast_delta(fused, staging, n_buckets, pre_partitioned=True)

    with tracer.span("lake.stage_multicast_delta.probe", "lake"):
        staged_s = _timed(stage)
    out["dedup_extract_s"] = fused_s - out["route_s"]
    out["staging_s"] = staged_s - fused_s

    # inputs to the extract probe, materialized outside its timing
    n_events = events.count()
    n_routed = routed.count()
    n_dead = dead_all.count()
    survivors_path = os.path.join(scratch, "probe-survivors")
    survivors = fused.filter(F.col(DEST_COL) != "dead_letter").select("html")
    survivors.write.mode("overwrite").parquet(survivors_path)
    html = spark.read.parquet(survivors_path)
    n_survivors, html_bytes = html.agg(F.count("*"), F.sum(F.length("html"))).collect()[0]
    with tracer.span("functions.extract_text", "functions"):
        out["extract_s"] = _timed(lambda: _noop(html.select(extract_text(F.col("html")).alias("text"))))
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(survivors_path, ignore_errors=True)

    staged_bytes = sum(e["bytes"] for entries in out.pop("entries").values() for e in entries)
    out.update(
        n_events=n_events,
        dead_letter_frac=n_dead / n_events,
        dedup_keep_ratio=n_survivors / n_routed,
        extract_mb_per_s=(html_bytes or 0) / 1e6 / out["extract_s"],
        staged_bytes_per_event=staged_bytes / n_events,
    )
    return out
