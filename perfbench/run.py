#!/usr/bin/env python3
"""clp-spark benchmark: compress throughput and search latency.

    python3 perfbench/run.py --workload compress --seed 1 --seconds 5 --trace 0

Runs one workload (see README.md) in one process against a local Spark
session sized from this machine, and prints one JSON object as the last
line of stdout: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`). The line before it holds the run's details. Exits 1 when
any operation's result is wrong, 2 when the program cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

from procfs import cpu_ticks, peak_rss_mb, process_tree

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "docs_per_s": "1/s",
    "encoded_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument(
        "--workload", required=True, choices=["compress", "search_scan", "search_needle"]
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    p.add_argument(
        "--corrupt",
        choices=["none", "sinks", "hits"],
        default="none",
        help="perturb one expected value so the correctness gate must fail",
    )
    return p.parse_args(argv)


def pin_runtime(work: Path) -> dict:
    """Size Spark from this machine and make its workers find clp_spark."""
    cpus = len(os.sched_getaffinity(0))
    # One CPU stays free for the driver and the JVM's own threads. On a
    # 4-CPU host, local[3] ran compress() and the queries 7-9% faster than
    # local[4], and their medians moved less from run to run.
    cores = max(1, cpus - 1)
    with open("/proc/meminfo") as f:
        mem_total_mb = next(
            int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:")
        )
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    # well below physical memory: the machine is shared, and a driver
    # heap larger than RAM gets the JVM killed
    heap_mb = min(1536, mem_total_mb // 4)
    env = {
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(local),
        # mapInPandas workers import clp_spark by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        # the needle queries' time bounds are naive datetimes, which the
        # Python side of Spark reads in local time
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    return {"cpus": cpus, "cores": cores, "mem_total_mb": mem_total_mb, "heap_mb": heap_mb, **env}


def start_spark(runtime: dict):
    from clp_spark.session import get_spark

    return get_spark(
        "clp_spark_perfbench",
        cores=runtime["cores"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a heap committed up front: the JVM's share of peak memory is
            # then the same in every run, and what varies is the Python side
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={runtime['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{runtime['heap_mb']}m -XX:+AlwaysPreTouch"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def reap_children(timeout: float = 30.0) -> None:
    """Wait until every process this one started has ended; kill what is
    still alive after `timeout`."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def run(args, work: Path, t_start: float) -> int:
    runtime = pin_runtime(work)
    spark = start_spark(runtime)
    phases = {"spark_start_s": time.perf_counter() - t_start}
    tracer = None
    spans_file = BENCH_DIR / "out" / f"spans-{args.workload}-seed{args.seed}.jsonl"
    try:
        import tracing
        import workloads

        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, str(work), args.smoke, args.corrupt
        )
        tracer = tracing.Tracer() if args.trace else None
        if tracer is not None:
            tracing.install_layer_probes(tracer)

        def attempt(i, traced):
            """One operation; an exception counts as a failed one."""
            try:
                return wl.op(i, tracer if traced else None)
            except Exception:
                traceback.print_exc()
                return None, False

        # The workload's set-up runs several times and the median counts:
        # the first run in a fresh JVM is the slowest, and one sample of
        # it would make setup_s swing from run to run.
        builds = []
        for _ in range(1 if args.smoke else wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup()
            builds.append(time.perf_counter() - t0)
        phases["build_s"] = builds
        attempted = failed = 0
        try:
            # warm-up: the first operations of a fresh JVM run several
            # times slower; they are checked but not timed
            t0 = time.perf_counter()
            for i in range(wl.warmup_ops):
                _, ok = attempt(i, False)
                attempted += 1
                failed += not ok
            t_loop = time.perf_counter()
            ticks0 = cpu_ticks()
            phases["warmup_s"] = t_loop - t0
            phases["first_op_after_s"] = t_loop - t_start
            setup_s = (
                phases["spark_start_s"] + statistics.median(builds) + phases["warmup_s"]
            )
            lat = {False: [], True: []}
            i = wl.warmup_ops
            # Whole cycles only, so every query of a cycle weighs the same.
            # The loop runs for at least --seconds and at least
            # `min_timed_ops` untraced operations, so that a run always
            # takes the same number of samples. With tracing, odd cycles
            # are traced and even ones are not.
            while True:
                cycle = (i - wl.warmup_ops) // wl.cycle
                traced = tracer is not None and cycle % 2 == 1
                dt, ok = attempt(i, traced)
                attempted += 1
                failed += not ok
                if dt is not None:
                    lat[traced].append(dt)
                i += 1
                if (
                    (i - wl.warmup_ops) % wl.cycle == 0
                    and i - wl.warmup_ops - len(lat[True]) >= wl.min_timed_ops
                    and (tracer is None or lat[True])
                    and time.perf_counter() - t_loop >= args.seconds
                ):
                    break
            loop_s = time.perf_counter() - t_loop
            steal = [b - a for a, b in zip(ticks0, cpu_ticks())]
            peak_rss = peak_rss_mb(os.getpid())
        finally:
            wl.close()

        ops = lat[False]
        if not ops:
            raise RuntimeError("no timed operation completed")
        # Too few samples for a steady tail percentile (8 queries or 3
        # compress() calls a run), so p90 is reported but not gated.
        p90 = (
            statistics.quantiles(ops, n=10, method="inclusive")[8]
            if len(ops) > 1
            else ops[0]
        )
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(ops),
            "docs_per_s": wl.n_docs * len(ops) / sum(ops),
            "encoded_bytes_per_input_byte": wl.encoded_ratio(),
            "peak_rss_mb": peak_rss["total_mb"],
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "docs": wl.n_docs,
            "runtime": runtime,
            "setup_phases_s": phases,
            "warmup_ops": wl.warmup_ops,
            "timed_ops": len(ops),
            "op_s": ops,
            "loop_s": loop_s,
            # a share above a few percent means other machines' load
            # slowed this run down
            "cpu_steal_frac": steal[0] / steal[1] if steal[1] else 0.0,
            "peak_rss": peak_rss,
            "end_to_end": {k: [v, END_TO_END_UNITS[k]] for k, v in e2e.items()},
            # the end-to-end metrics under workload-specific names
            "named_metrics": {
                "setup_s": [setup_s, "s"],
                "failed_frac": [failed / attempted, "ratio"],
                "peak_rss_mb": [peak_rss["total_mb"], "MB"],
                "archive_bytes_per_input_byte": [wl.archive_ratio(), "ratio"],
                **wl.named_metrics(e2e, p90),
            },
        }
        if tracer is not None:
            units = workloads.PER_LAYER_UNITS
            values = workloads.layer_metrics(tracer)
            values["archive.bytes_per_input_byte"] = wl.archive_ratio()
            values["trace.overhead_frac"] = (
                statistics.median(lat[True]) / statistics.median(ops) - 1
            )
            detail.update(traced_ops=len(lat[True]), spans_file=str(spans_file))
        else:
            units, values = END_TO_END_UNITS, e2e
        print(json.dumps({"detail": detail}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {
                        k: {"value": values[k], "unit": u} for k, u in units.items()
                    },
                }
            )
        )
        return 0 if failed == 0 else 1
    finally:
        if tracer is not None:
            # the spans are written at exit, after a failure too
            tracer.uninstall()
            spans_file.parent.mkdir(exist_ok=True)
            tracer.dump(str(spans_file))
        stop_spark(spark)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not (ROOT / "clp_spark" / "__init__.py").is_file():
        print(f"perfbench: no clp_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    def _terminate(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _terminate)
    work = BENCH_DIR / "work" / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        return run(args, work, t_start)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
