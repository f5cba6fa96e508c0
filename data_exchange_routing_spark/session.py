"""SparkSession factory with scale-aware defaults.

Local testing runs one JVM (local[N]); the config below is nevertheless written
for a multi-executor cluster: AQE on (runtime coalesce + skew-join splitting),
Arrow enabled for every pandas UDF, UTC session time zone so results compare
bit-stable against external oracles, and shuffle partitions sized to cores
rather than the legacy default of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "data_exchange_routing_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism; ``shuffle_partitions`` defaults to
    2x cores (enough waves for AQE to coalesce, not so many that task launch
    overhead dominates at small SF; on a real cluster this would be
    ~2-3x total executor cores).
    """
    cores = cores or default_parallelism()
    shuffle = shuffle_partitions or max(cores * 2, 8)
    # SPARK_GRAFT_MASTER overrides the default local[N] — used by the
    # multi-executor scaling evidence (local-cluster[N,C,M]: separate
    # executor JVMs, real serialization + shuffle fetch across them) and by
    # real cluster deploys (spark://... / yarn), where `cores` then only
    # sizes shuffle parallelism defaults.
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batch bytes with multi-KB binary payloads
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # codecs are env-tunable per deployment; defaults chosen by the
        # replay-bytes A/B measurement (see BENCH/CODEC_AB.md)
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        # INT64-micros timestamps carry parquet min/max statistics (INT96,
        # the legacy default, has none) — required for the lake's manifest
        # ts_stats pruning; readers handle old INT96 files side by side
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # pre-size the heap: with the default tiny -Xms, the first minutes of
        # a replay run GC-thrash while the heap grows toward -Xmx (measured
        # 3x wall-clock on repeated replays at local[16]); real clusters set
        # executor memory = a fixed heap, which this mirrors
        # SPARK_GRAFT_JAVA_OPTS appends extras (e.g. -XX:+AlwaysPreTouch so
        # heap page faults land at JVM start instead of inside timed runs —
        # this sandbox's hypervisor intermittently degrades fresh-page
        # faults ~1000x, see BENCH/BASELINE.md host-noise section)
        .config(
            "spark.driver.defaultJavaOptions",
            f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_XMS', '16g')} -XX:+UseG1GC "
            + os.environ.get("SPARK_GRAFT_JAVA_OPTS", ""),
        )
        # partition-size policy: split size is FIXED (identical at every
        # parallelism level — the scaling protocol's "same partitioning
        # rules"), sized so local-SF inputs produce >= cores splits. On a
        # 100 TB cluster the right value is the 128 MiB default; here the
        # inputs are ~1 GiB, so 16 MiB yields ~64+ splits. Env-overridable.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
