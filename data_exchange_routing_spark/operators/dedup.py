"""Per-key last-writer-wins CDC dedup (SURVEY.md §2.6 A-dedup).

Ordering key is (warc_ts, lsn) — event time, ties broken by log sequence —
mirroring the reference's ordered chunk commit (RouteIngestedFile.kt:543-545)
and the HL7 `sequencer` field (HL7Message.kt:25). At-least-once delivery means
exact duplicates (same lsn) and out-of-order arrivals are expected
(RouteIngestedFile.kt:100-103; CHANGELOG 0.0.41).

Two operators, one per caller:

- ``fused_local_dedup_extract``: the epoch plan (pipeline.apply_epoch). ONE
  (dest, bucket) shuffle, a partition-local sort, then adjacency dedup and
  text extraction together in one ``mapInArrow`` pass whose output is
  written straight to its partitioned staging layout.

- ``dedup_last_writer``: a standalone DataFrame operator,
  groupBy(key).agg(max_by(row, (warc_ts, lsn))), used by the snapshot
  bootstrap (operators/bootstrap.py). Catalyst plans it as partial hash
  aggregation, so every map task pre-reduces its own slice of a hot url to
  ONE row before the shuffle — Zipf-skewed keys never concentrate on a
  single reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORDER_COLS = ("warc_ts", "lsn")


def dedup_last_writer(df: DataFrame, key: str | list[str] = "url") -> DataFrame:
    """Keep the max-(warc_ts, lsn) row per key (map-side-combined max_by)."""
    keys = [key] if isinstance(key, str) else list(key)
    cols = df.columns
    row = F.struct(*[F.col(c) for c in cols])
    order = F.struct(*[F.col(c) for c in ORDER_COLS])
    out = df.groupBy(*keys).agg(F.max_by(row, order).alias("_row"))
    return out.select(*[F.col(f"_row.{c}").alias(c) for c in cols])


def fused_local_dedup_extract(
    staged_input: DataFrame,
    n_buckets: int,
    dest_col: str = "destination_table",
    bucket_col: str = "_b",
    no_dedup_dest: str = "dead_letter",
    engine: str = "arrow",
):
    """The epoch's dedup + extraction: ONE shuffle for the whole epoch.

    bucket = hash(url) % n determines url's partition, so a single
    (dest, bucket) shuffle co-locates every revision of a url; after a
    partition-local sort (dest, bucket, url, warc_ts DESC, lsn DESC),
    last-writer-wins dedup is adjacency filtering — C-level vector compare in
    the SAME Arrow pass that text extraction already pays. A separate
    (dest, url) dedup aggregation would shuffle the full ~KB rows a second
    time and add an Arrow round trip.

    Rows with dest == ``no_dedup_dest`` (dead letters) are never deduplicated
    (at-least-once dead-lettering, like the reference) and keep their meta
    map; delta rows get meta nulled (the destination schema has no meta
    column, so the staged files carry no payload for it).

    Returns a DataFrame shaped like ``staged_input`` + a ``text`` column
    after ``html``, physically partitioned by (dest, bucket) and url-sorted —
    ready for a direct partitionBy write (pass pre_partitioned=True to
    stage_multicast_delta).

    ``engine="arrow"`` (default, the one the pipeline runs) runs the pass
    via ``mapInArrow``: adjacency keys compare as C-level Arrow kernels
    instead of numpy str concatenation, non-survivors are dropped by an Arrow
    ``filter`` WITHOUT ever becoming Python objects, and survivors' ``html``
    buffers pass straight back to the JVM — only the survivor payloads cross
    into Python (one ``as_py`` each, for extraction). ``engine="pandas"`` is
    the reference implementation the arrow engine is gated against
    (tests/test_operators.py).
    """
    import numpy as np
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    from data_exchange_routing_spark.functions.extract import extract_text_py

    bucketed = staged_input.withColumn(
        bucket_col, F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )
    arranged = bucketed.repartition(F.col(dest_col), F.col(bucket_col)).sortWithinPartitions(
        F.col(dest_col),
        F.col(bucket_col),
        F.col("url"),
        F.desc(ORDER_COLS[0]),
        F.desc("_lsn"),
    )

    fields = []
    for f in arranged.schema.fields:
        fields.append(f)
        if f.name == "html":
            fields.append(T.StructField("text", T.StringType(), True))
    out_schema = T.StructType(fields)
    out_names = [f.name for f in out_schema.fields]

    def op(batches):
        last_key = None  # (dest \x00 url) of the previous batch's final row
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dests = pdf[dest_col].to_numpy()
            keys = np.char.add(
                np.char.add(dests.astype(str), "\x00"), pdf["url"].to_numpy().astype(str)
            )
            keep = np.ones(len(pdf), dtype=bool)
            keep[1:] = keys[1:] != keys[:-1]
            if last_key is not None and keys[0] == last_key:
                keep[0] = False
            # dead letters are exempt from dedup: at-least-once, keep all
            keep |= dests == no_dedup_dest
            last_key = keys[-1]
            surv = pdf.loc[keep].copy()
            surv["text"] = surv["html"].map(extract_text_py)
            if "meta" in surv.columns:
                is_dl = surv[dest_col] == no_dedup_dest
                surv["meta"] = surv["meta"].where(is_dl, None)
            yield surv[out_names]

    def op_arrow(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        last_key = None  # (dest, url) of the previous batch's final row
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            dest = rb.column(names.index(dest_col))
            # null urls compare EQUAL here (pandas-engine parity: numpy
            # astype(str) renders None as 'None'); dest is never null
            url = pc.fill_null(rb.column(names.index("url")), "None")
            # adjacency dedup: row i survives unless (dest, url) equals row
            # i-1's — C-level equality on the sliced arrays, no Python
            # objects, no string concatenation
            keep = np.ones(n, dtype=bool)
            if n > 1:
                same = pc.and_(
                    pc.equal(dest.slice(1), dest.slice(0, n - 1)),
                    pc.equal(url.slice(1), url.slice(0, n - 1)),
                )
                keep[1:] = np.invert(same.to_numpy(zero_copy_only=False))
            if last_key is not None and (dest[0].as_py(), url[0].as_py()) == last_key:
                keep[0] = False
            is_dl = pc.equal(dest, no_dedup_dest).to_numpy(zero_copy_only=False)
            keep |= is_dl  # dead letters exempt: at-least-once, keep all
            last_key = (dest[n - 1].as_py(), url[n - 1].as_py())
            surv = rb.filter(pa.array(keep))
            cols = {name: surv.column(i) for i, name in enumerate(surv.schema.names)}
            # only the SURVIVORS' html payloads become Python bytes (one
            # as_py each) — dropped duplicates never cross the boundary
            html = cols["html"]
            cols["text"] = pa.array(
                [extract_text_py(v.as_py()) for v in html], type=pa.string()
            )
            if "meta" in cols:
                # delta rows ship meta as null; only the (rare) dead-letter
                # rows keep theirs. The common all-delta batch emits nulls
                # without touching a single Python object.
                meta = cols["meta"]
                dl_surv = is_dl[keep]
                if not dl_surv.any():
                    cols["meta"] = pa.nulls(len(meta), type=meta.type)
                else:
                    cols["meta"] = pa.array(
                        [
                            meta[i].as_py() if dl_surv[i] else None
                            for i in range(len(meta))
                        ],
                        type=meta.type,
                    )
            yield pa.RecordBatch.from_arrays(
                [cols[name] for name in out_names],
                schema=pa.schema(
                    [
                        (
                            pa.field(name, cols[name].type)
                            if name in ("text", "meta")
                            else surv.schema.field(name)
                        )
                        for name in out_names
                    ]
                ),
            )

    if engine == "arrow":
        return arranged.mapInArrow(op_arrow, out_schema)
    if engine == "pandas":
        return arranged.mapInPandas(op, out_schema)
    raise ValueError(f"unknown fused engine {engine!r} (arrow|pandas)")
