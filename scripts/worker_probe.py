"""Per-task Python set-up cost of PySpark's worker on this host.

    python scripts/worker_probe.py [--jobs 10]

Before every task, PySpark's worker calls `importlib.invalidate_caches()`,
which makes every cached `zipimporter` re-read its archive's central
directory (pyspark.zip, the Spark core jar). clp_spark's hot Arrow kernels
drop those cache entries (`clp_spark.util.forget_zip_importers`). This
probe shows whether that still pays on this host and this PySpark:

1. start a local session sized like perfbench (`local[N-1]`, fixed heap);
2. time `--jobs` trivial 3-task `mapInArrow` jobs, and read, inside the
   workers, the zipimporter entries seen at task entry and the seconds
   `invalidate_caches()` takes;
3. run one tiny clp decode job (a hot kernel) over 3 tasks; the
   `after` zipimporter count shows whether it reached every worker;
4. repeat step 2.

Prints one JSON line: the median trivial-job seconds, the zipimporter
entries and the worker's `invalidate_caches()` seconds, each before and
after the decode job. A PySpark, Python or host change that brings the
cost back shows as `after` numbers near the `before` ones.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TASKS = 3


def start_session():
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(
            int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:")
        )
    os.environ["SPARK_DRIVER_MEM"] = f"{min(1536, mem_mb // 4)}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    from clp_spark.session import get_spark

    return get_spark(
        "clp_spark_worker_probe",
        cores=max(1, cpus - 1),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _identity(batches):
    yield from batches


def _task_entry(batches):
    """One row per task: zipimporter entries at task entry, and the
    seconds one invalidate_caches() takes in this worker."""
    import importlib
    import zipimport

    import pyarrow as pa

    n_zip = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    dt = time.perf_counter() - t0
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict(
        {"zip_importers": [n_zip], "invalidate_s": [dt]}
    )


def measure(spark, jobs: int) -> dict:
    src = spark.range(0, TASKS, numPartitions=TASKS)
    times = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        src.mapInArrow(_identity, src.schema).collect()
        times.append(time.perf_counter() - t0)
    rows = src.mapInArrow(
        _task_entry, "zip_importers long, invalidate_s double"
    ).collect()
    return {
        "trivial_job_p50_s": round(statistics.median(times), 4),
        "zip_importers_at_task_entry": max(r["zip_importers"] for r in rows),
        "invalidate_caches_s": round(statistics.median(r["invalidate_s"] for r in rows), 6),
    }


def decode_job(spark) -> int:
    """One tiny decode over TASKS partitions; returns the rows decoded."""
    from clp_spark.config import PLACEHOLDER_DICT, PLACEHOLDER_INT
    from clp_spark.search.decode import decode_messages

    lt = spark.createDataFrame(
        [(0, f"user {PLACEHOLDER_DICT} took {PLACEHOLDER_INT} ms")],
        "logtype_id long, logtype string",
    )
    var = spark.createDataFrame([(0, "alice")], "var_id long, value string")
    enc = spark.createDataFrame(
        [(0, [0, i], [0]) for i in range(TASKS)],
        "logtype_id long, encoded_vars array<long>, dict_var_ids array<long>",
    ).repartition(TASKS)
    return len(decode_messages(enc, lt, var).collect())


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--jobs", type=int, default=10, help="trivial jobs per side")
    args = p.parse_args(argv)
    spark = start_session()
    try:
        # the first jobs of a fresh session start the Python workers
        measure(spark, 2)
        before = measure(spark, args.jobs)
        decoded = decode_job(spark)
        after = measure(spark, args.jobs)
        out = {
            "cores": spark.sparkContext.defaultParallelism,
            "python": sys.version.split()[0],
            "pyspark": spark.version,
            "decoded_rows": decoded,
            **{f"{k}_before": v for k, v in before.items()},
            **{f"{k}_after": v for k, v in after.items()},
        }
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
