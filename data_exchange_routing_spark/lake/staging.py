"""Multicast staging: ONE Spark write feeding N destination tables.

The routed+deduped+extracted delta for ALL destinations is written once,
directory-partitioned by (destination_table, bucket); each destination table
then gets a metadata-only manifest commit referencing its slice of the staged
files. Per-file stats (rows, bytes, warc_ts min/max) come straight from the
parquet footers — the Iceberg manifest-stats pattern — so lineage/metrics
costs zero extra Spark jobs.

This collapses the reference's per-route copy loop (RouteIngestedFile.kt:193)
into a single shuffle + single write at any number of routes.
``promote_map_keys`` then turns open-world metadata keys into columns
(RouteIngestedFile.kt:196-209), rewriting only the staged files that carry one.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_exchange_routing_spark.lake.table import BUCKET_COL

DEST_COL = "destination_table"
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def stage_multicast_delta(
    delta: DataFrame,
    staging_dir: str,
    n_buckets: int,
    ts_col: str = "warc_ts",
    key_col: str = "url",
    pre_partitioned: bool = False,
) -> dict[str, list[dict]]:
    """Write the combined delta partitioned by (destination, bucket); return
    {destination: [manifest entries with absolute paths + footer stats]}.

    The repartition keys on (destination, bucket) so each write task owns one
    output directory -> file count is O(destinations x buckets) per epoch,
    independent of shuffle width.

    ``pre_partitioned``: the caller already holds the data hash-distributed
    by (destination, bucket) and url-sorted (fused_local_dedup_extract) —
    write directly; each (destination, bucket) group still lives wholly in
    one task, so the one-file-per-group property is preserved without a
    second shuffle.
    """
    if pre_partitioned:
        out = delta
    else:
        out = delta.withColumn(
            BUCKET_COL, F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
        )
        # shuffle keyed on (destination, bucket); partition COUNT is left to
        # spark.sql.shuffle.partitions + AQE coalescing so task sizes track
        # the batch volume. partitionBy still yields exactly one file per
        # (destination, bucket) per writing task -> file count stays
        # O(destinations x buckets), not O(tasks x buckets).
        out = out.repartition(F.col(DEST_COL), F.col(BUCKET_COL))
        # cluster by url inside each (destination, bucket) file: a
        # partition-local sort (no extra shuffle) that tightens parquet
        # row-group min/max on the key -> point reads skip row groups
        out = out.sortWithinPartitions(DEST_COL, BUCKET_COL, "url")
    (
        out.write.mode("overwrite")
        .partitionBy(DEST_COL, BUCKET_COL)
        .parquet(staging_dir)
    )

    work: list[tuple[str, int, str]] = []
    for root, _dirs, names in os.walk(staging_dir):
        # note: the bucket partition dir is `_b=K` — do NOT filter out
        # underscore-prefixed components here (doing so silently recorded
        # bucket=-1 for every staged file, defeating manifest bucket pruning)
        parts = dict(p.split("=", 1) for p in root.split(os.sep) if "=" in p)
        dest = parts.get(DEST_COL)
        bucket = int(parts.get(BUCKET_COL, -1))
        for name in names:
            if name.endswith(".parquet"):
                work.append((dest, bucket, os.path.join(root, name)))

    def stat_one(item: tuple[str, int, str]) -> tuple[str, dict]:
        dest, bucket, full = item
        md = pq.ParquetFile(full).metadata
        tmin = tmax = kmin = kmax = None
        # column stats from row-group footers: ts watermark for lineage plus
        # the merge-key range for manifest-level file pruning (point reads
        # skip files whose [key_min, key_max] cannot contain the key)
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.statistics is None or not col.statistics.has_min_max:
                    continue
                s = col.statistics
                if col.path_in_schema == ts_col:
                    tmin = s.min if tmin is None else min(tmin, s.min)
                    tmax = s.max if tmax is None else max(tmax, s.max)
                elif col.path_in_schema == key_col:
                    lo = s.min.decode("utf-8", "replace") if isinstance(s.min, bytes) else s.min
                    hi = s.max.decode("utf-8", "replace") if isinstance(s.max, bytes) else s.max
                    kmin = lo if kmin is None else min(kmin, lo)
                    kmax = hi if kmax is None else max(kmax, hi)
        return dest, {
            "path": full,
            "bucket": bucket,
            "kind": "delta",
            "rows": md.num_rows,
            "bytes": os.path.getsize(full),
            "ts_min": tmin.isoformat() if tmin is not None else None,
            "ts_max": tmax.isoformat() if tmax is not None else None,
            "key_min": kmin,
            "key_max": kmax,
        }

    entries: dict[str, list[dict]] = {}
    with ThreadPoolExecutor(max_workers=16) as ex:
        for dest, entry in ex.map(stat_one, work):
            entries.setdefault(dest, []).append(entry)
    return entries


def promote_map_keys(entries: list[dict], map_col: str) -> list[str]:
    """Turn the keys in the staged files' ``map_col`` into nullable string
    columns, on the driver with pyarrow; returns them sorted. Only the files
    where ``map_col`` holds a key are rewritten, in place: one column per key
    found in ANY file takes ``map_col``'s place; codec, row order, column
    types, rows and ts/key bounds are kept, and the entry's ``bytes`` is
    updated. Cost: one column read per file plus O(rewritten bytes)."""

    def keys_of(e: dict) -> set[str]:
        with pq.ParquetFile(e["path"]) as f:
            col = f.read(columns=[map_col]).column(0)
        return {k for chunk in col.chunks for k in pc.unique(chunk.keys).to_pylist()}

    def rewrite(e: dict) -> None:
        path = e["path"]
        with pq.ParquetFile(path) as f:
            codec = f.metadata.row_group(0).column(0).compression
            t = f.read()
        i = t.schema.get_field_index(map_col)
        m = t.column(i)
        t = t.remove_column(i)
        for j, k in enumerate(keys):
            t = t.add_column(i + j, pa.field(k, pa.string()), pc.map_lookup(m, k, "first"))
        # Spark's copy of the schema in the footer still names map_col:
        # without it Spark infers the schema from the parquet one
        md = {k: v for k, v in (t.schema.metadata or {}).items() if k != _SPARK_SCHEMA_KEY}
        tmp = os.path.join(os.path.dirname(path), f".promote-{os.path.basename(path)}")
        pq.write_table(
            t.replace_schema_metadata(md), tmp,
            compression="NONE" if codec == "UNCOMPRESSED" else codec,
        )
        # the Hadoop local filesystem verifies a file against its .crc
        # sibling: the old checksum would fail every read of the new bytes
        try:
            os.unlink(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))
        except FileNotFoundError:
            pass
        os.replace(tmp, path)
        e["bytes"] = os.path.getsize(path)

    # one small column per file: read in turn, faster than through a pool
    found = [keys_of(e) for e in entries]
    keys = sorted(set().union(*found))
    with ThreadPoolExecutor(max_workers=16) as ex:
        list(ex.map(rewrite, [e for e, ks in zip(entries, found) if ks]))
    return keys
