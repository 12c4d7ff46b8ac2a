"""SparkSession factory tuned for this pipeline.

Local mode for tests/bench; the same confs are what we'd pass to
spark-submit on a real cluster (AQE on, skew-join on, Arrow on, zstd
parquet, UTC timezone pinned for oracle comparison).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """A quarter of physical RAM, capped at 48g: a driver heap sized past
    what the host can commit gets the JVM killed at start-up."""
    try:
        with open("/proc/meminfo") as f:
            total_mb = next(
                int(line.split()[1]) // 1024
                for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return "48g"
    return f"{min(48 * 1024, max(512, total_mb // 4))}m"


def get_spark(
    app_name: str = "clp_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: the byte-level vectorized tokenizer
        # (parse/npscan.py) amortizes its per-batch numpy setup over the
        # batch, measured ~17% faster at 64k than 10k rows; batches stay
        # ~5-10 MB so executor memory is unaffected
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # commit algorithm v2: task outputs move straight to the final
        # location at task commit instead of a second serial driver-side
        # rename pass at job commit — the rename pass is the serial
        # residue that capped the route stage's N→4N scaling
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
