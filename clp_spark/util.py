"""Small shared utilities.

`spread` fixes Spark's small-file parallelism trap: a table that is one
0.5 MB parquet file reads as ONE input split, so every narrow per-row
stage downstream (tokenize, shingle, hash) runs on one core no matter
how many the cluster has. At production scale (TBs → thousands of
splits) the guard is a no-op; it only repartitions when the scan
delivers fewer splits than the cluster has cores, so it never adds a
shuffle to a job that is already parallel.

`forget_zip_importers` removes a per-task cost of PySpark's Python
worker. Before every task, `pyspark/worker_util.py::setup_spark_files`
calls `importlib.invalidate_caches()`, and on CPython 3.11 every
`zipimporter` in `sys.path_importer_cache` then re-reads its archive's
whole central directory (`lib/python3.11/zipimport.py:329-333`). A warm
worker holds a dozen entries into `pyspark.zip` and two into the Spark
core jar, about 0.24 s of re-reading per task on a reused worker.
Dropping those entries is safe: the next import that needs the path
rebuilds its importer through `sys.path_hooks`, and modules already
loaded keep their own `__loader__`. The hot Arrow kernels call it at the
start of each invocation, after PySpark's own per-task imports have run,
so the worker's next `invalidate_caches()` walks only `FileFinder`s.
"""

from __future__ import annotations

import sys
import zipimport
from collections import OrderedDict

from pyspark.sql import DataFrame


class LruCache(OrderedDict):
    """Tiny bounded cache for per-session query-time state (the opened
    archive handles of search/sinks.py). Eviction just drops the
    reference — Spark's ContextCleaner reclaims any broadcast once the
    driver-side handle (and the plans that captured it) are GC'd, so
    nothing is pinned forever."""

    def __init__(self, maxsize: int = 8):
        super().__init__()
        self.maxsize = maxsize

    def get(self, key, default=None):
        if key in self:
            self.move_to_end(key)
            return self[key]
        return default

    def put(self, key, value) -> None:
        self[key] = value
        self.move_to_end(key)
        while len(self) > self.maxsize:
            self.popitem(last=False)


def forget_zip_importers() -> None:
    """Drop every `zipimporter` from `sys.path_importer_cache` (see the
    module docstring). Costs microseconds; a no-op where nothing is
    imported from a zip."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition `df` up to the cluster's default parallelism iff the
    current plan yields fewer partitions; identity otherwise.

    Round-robin repartition is safe here because every caller is
    order-independent (hash aggregates, keyed joins, per-row maps with
    explicit keys); dictionary IDs stay deterministic because they are
    value-sorted ranks, not partition-dependent (dicts/build.py).
    """
    spark = df.sparkSession
    if min_partitions is None:
        min_partitions = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_partitions:
        return df
    return df.repartition(min_partitions)


def collect_capped(df: DataFrame, cap: int):
    """`df` as pandas in ONE capped collect (limit(cap + 1)); None when
    it holds more than `cap` rows — the caller degrades to its
    distributed path instead of truncating."""
    pdf = df.limit(cap + 1).toPandas()
    return None if len(pdf) > cap else pdf


def write_driver_table(tbl, dirpath: str, compression: str = "zstd") -> None:
    """Single-file parquet dataset written driver-side with pyarrow —
    the shared bottom half of every driver-side bookkeeping write
    (dictionaries, manifests, metrics). The data is already on the
    driver and tiny; a Spark write job costs multi-stage scheduling
    seconds that Amdahl charges to every cluster size. The filesystem
    is resolved from the URI so s3://, hdfs://, gs:// paths go to the
    remote store; Spark reads the directory back exactly like its own
    output."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs, resolved = pafs.FileSystem.from_uri(dirpath)
    try:
        fs.delete_dir(resolved)
    except (FileNotFoundError, OSError):
        pass
    fs.create_dir(resolved, recursive=True)
    with fs.open_output_stream(f"{resolved}/part-00000.zstd.parquet") as out:
        pq.write_table(tbl, out, compression=compression)
