"""Self-test of the benchmark at smoke sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark session, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# the gated workloads, plus search_needle, which runs only by hand
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["search_needle"]

sys.path.insert(0, str(BENCH_DIR))

from tracing import union_length  # noqa: E402

# spans every traced operation of a workload must contain
LAYER_SPANS = {
    "compress": {"pipeline", "parse", "dicts", "route"},
    "search_scan": {
        "query",
        "search.sinks",
        "search.compiler",
        "query.run",
        "search.executor",
        "search.decode",
    },
}
LAYER_SPANS["search_needle"] = LAYER_SPANS["search_scan"]


def run_bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def result_of(p: subprocess.CompletedProcess) -> dict:
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


def smoke_args(workload: str, trace: int, *extra: str) -> list[str]:
    return [
        "--workload", workload, "--seed", "5", "--seconds", "1",
        "--trace", str(trace), "--smoke", *extra,
    ]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    p = run_bench(*smoke_args(workload, trace))
    assert p.returncode == 0, p.stderr[-4000:]
    res = result_of(p)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    detail = json.loads(p.stdout.strip().splitlines()[-2])["detail"]
    if not trace:
        named = detail["named_metrics"]
        assert set(named) >= {
            "setup_s", "failed_frac", "peak_rss_mb", "archive_bytes_per_input_byte"
        }
        if workload == "compress":
            assert "compress_docs_per_s" in named
        else:
            assert {"query_p50_s", "query_p90_s", "queries_per_s"} <= set(named)
        for value, unit in named.values():
            assert isinstance(value, (int, float)) and unit
    if trace:
        with open(detail["spans_file"]) as f:
            spans = [json.loads(line) for line in f]
        traces: dict = {}
        for s in spans:
            traces.setdefault(s["trace"], set()).add(s["name"])
        assert traces
        for names in traces.values():
            assert LAYER_SPANS[workload] <= names
        if workload == "search_needle":
            # archive planning ran and kept a strict subset
            kept = res["metrics"]["search.sinks.archives_kept_frac"]["value"]
            assert 0 < kept < 1


@pytest.mark.parametrize(
    "workload,corrupt", [("compress", "sinks"), ("search_scan", "hits")]
)
def test_a_wrong_result_fails_the_run(workload, corrupt):
    p = run_bench(*smoke_args(workload, 0, "--corrupt", corrupt))
    assert p.returncode == 1, p.stderr[-4000:]
    res = result_of(p)
    assert res["correct"] is False and res["failed"] >= 1


def test_fails_without_the_program():
    bare = BENCH_DIR / "work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(
            BENCH_DIR,
            bare / "perfbench",
            ignore=shutil.ignore_patterns("work", "out", "__pycache__"),
        )
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        p = run_bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=bare)
        assert p.returncode != 0
        assert p.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_union_length_counts_overlaps_once():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
