"""The benchmark's workloads, their correctness gates and their layer metrics.

Each workload object has `setup()`, which builds everything the timed loop
needs, and `op(i, tracer)`, which runs operation `i` and returns
`(seconds, ok)`. An operation whose result differs from the oracle built in
`setup()` returns `ok=False`. The first `warmup_ops` operations warm the JVM
and the Python workers up; they are checked but not timed.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import pandas as pd
import pyarrow.parquet as pq

from clp_spark.checkpoint import RunManifest
from clp_spark.config import PipelineConfig
from clp_spark.fixtures.pages import generate_pages_df, generate_pages_pdf
from clp_spark.oracle.pipeline import run_oracle
from clp_spark.pipeline import compress
from clp_spark.search import sinks as sinks_mod
from clp_spark.search.decode import decode_one
from clp_spark.search.wildcard import wildcard_to_regex

from tracing import Tracer, clipped, union_length

# rows decoded from every compress() output and compared byte for byte
# with the input text of the same url
DECODE_SAMPLE = 64

PER_LAYER_UNITS = {
    "parse.busy_s": "s",
    "parse.rows": "count",
    "parse.bytes_out": "bytes",
    "dicts.busy_s": "s",
    "dicts.logtype_entries": "count",
    "dicts.var_entries": "count",
    "route.busy_s": "s",
    "route.bytes_out": "bytes",
    "route.files_out": "count",
    "route.sink_skew": "ratio",
    "pipeline.self_s": "s",
    "search.compiler.busy_s": "s",
    "search.sinks.busy_s": "s",
    "search.sinks.self_s": "s",
    "search.sinks.archives_kept_frac": "ratio",
    "search.executor.busy_s": "s",
    "search.executor.rows_kept_frac": "ratio",
    "search.decode.busy_s": "s",
    "search.decode.rows": "count",
    "search.decode.confirm_yield": "ratio",
    "archive.bytes_per_input_byte": "ratio",
    "trace.overhead_frac": "ratio",
}


def archive_files(path: str):
    """Data files under `path`; names starting with `_` or `.` (commit
    markers, checksums) are skipped, as parquet readers skip them."""
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in filenames:
            if not f.startswith((".", "_")):
                yield os.path.join(dirpath, f)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in archive_files(path))


def archive_bytes(out_dir: str) -> tuple[int, int]:
    """(archive bytes, encoded bytes) of one compress() output.

    Archive bytes are the files a reader needs: sinks, dictionaries,
    pruning manifests and the metrics table (not the parse intermediate
    or the run checkpoint log). Encoded bytes are the compressed column
    data of the sinks and the dictionaries alone, without parquet
    footers, indexes and bloom filters, whose fixed size per file
    dominates archives this small."""
    total = sum(
        dir_bytes(os.path.join(out_dir, d))
        for d in ("sinks", "dicts", "manifest", "metrics")
    )
    encoded = 0
    for d in ("sinks", "dicts"):
        for f in archive_files(os.path.join(out_dir, d)):
            md = pq.ParquetFile(f).metadata
            encoded += sum(
                md.row_group(g).column(c).total_compressed_size
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            )
    return total, encoded


def text_bytes(pdf) -> int:
    return sum(len(t.encode("utf-8")) for t in pdf["text"])


class Pages:
    """The generated `pages` table: a persisted Spark frame for the
    program and the same rows as pandas for the oracles."""

    def __init__(self, spark, n_docs: int, seed: int):
        self.n_docs = n_docs
        self.df = generate_pages_df(spark, n_docs, seed).persist()
        self.df.count()
        self.pdf = generate_pages_pdf(0, n_docs, seed)
        self.text_by_url = dict(zip(self.pdf["url"], self.pdf["text"]))
        self.input_bytes = text_bytes(self.pdf)

    def close(self) -> None:
        self.df.unpersist()


def _median(values):
    return statistics.median(values) if values else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class CompressWorkload:
    """Batch ingest: compress() the same persisted pages into a fresh
    directory per operation."""

    name = "compress"
    cycle = 1
    setup_reps = 3

    def __init__(self, spark, seed: int, work: str, smoke: bool, corrupt: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.n_docs = 2_000 if smoke else 20_000
        # A fresh JVM runs the first compress() about 2.5 times as long as
        # the fourth, and the times keep falling until about the seventh.
        # Timing from the third on moved the median as little from run
        # to run as timing from the fourth, and costs one operation less.
        self.warmup_ops = 1 if smoke else 2
        self.min_timed_ops = 1 if smoke else 2
        self.corrupt = corrupt
        self.cfg = PipelineConfig(num_checkpoint_buckets=1)
        self.first_metrics = None
        self.sizes: list[tuple[float, float]] = []

    def setup(self) -> None:
        if hasattr(self, "pages"):
            self.pages.close()
        self.pages = Pages(self.spark, self.n_docs, self.seed)
        if hasattr(self, "expected_sinks"):  # the same seed builds the same pages
            return
        oracle = run_oracle(self.pages.pdf, num_sinks=self.cfg.num_sinks)
        self.expected_sinks = {int(k): int(v) for k, v in oracle.sink_counts.items()}
        if self.corrupt == "sinks":
            k = min(self.expected_sinks)
            self.expected_sinks[k] += 1

    def close(self) -> None:
        self.pages.close()

    def op(self, i: int, tracer: Tracer | None):
        out = os.path.join(self.work, f"compress-{i}")
        if tracer is None:
            t0 = time.perf_counter()
            compress(self.spark, self.pages.df, out, self.cfg)
            dt = time.perf_counter() - t0
        else:
            with tracer.trace(f"compress-{i}", "pipeline", docs=self.n_docs) as root:
                compress(self.spark, self.pages.df, out, self.cfg)
            dt = root["end"] - root["start"]
            self._attach_counts(tracer, root, out)
        try:
            ok = self.check(out, random.Random(self.seed * 1_000_003 + i))
            total, encoded = archive_bytes(out)
            self.sizes.append((total / self.pages.input_bytes, encoded / self.pages.input_bytes))
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return dt, ok

    def check(self, out: str, rng: random.Random) -> bool:
        """Per-sink rows equal the oracle's, the metrics table equals the
        first operation's, and sampled rows decode to their input text."""
        metrics = pq.read_table(os.path.join(out, "metrics")).to_pandas()
        metrics = metrics.sort_values("sink_id").reset_index(drop=True)
        got = {int(s): int(r) for s, r in zip(metrics["sink_id"], metrics["rows"])}
        if got != self.expected_sinks:
            return False
        if self.first_metrics is None:
            self.first_metrics = metrics
        elif not metrics.equals(self.first_metrics):
            return False

        urls = set(rng.sample(list(self.pages.text_by_url), DECODE_SAMPLE))
        rows = pq.read_table(
            os.path.join(out, "sinks"),
            columns=["url", "logtype_id", "encoded_vars"],
            filters=[("url", "in", sorted(urls))],
        ).to_pylist()
        lt = pq.read_table(os.path.join(out, "dicts", "logtype")).to_pydict()
        lt_map = dict(zip(lt["logtype_id"], lt["logtype"]))
        var = pq.read_table(os.path.join(out, "dicts", "var")).to_pydict()
        var_map = dict(zip(var["var_id"], var["value"]))
        decoded = {
            r["url"]: decode_one(lt_map[r["logtype_id"]], r["encoded_vars"], var_map)
            for r in rows
        }
        return len(rows) == len(urls) and all(
            decoded.get(u) == self.pages.text_by_url[u] for u in urls
        )

    def archive_ratio(self) -> float:
        return _median([t for t, _ in self.sizes])

    def encoded_ratio(self) -> float:
        return _median([e for _, e in self.sizes])

    def named_metrics(self, e2e: dict, p90: float) -> dict:
        return {
            "compress_docs_per_s": [e2e["docs_per_s"], "1/s"],
            "compress_p90_s": [p90, "s"],
        }

    def _attach_counts(self, tracer: Tracer, root: dict, out: str) -> None:
        """Counts read from what each layer wrote, plus the derived parse
        span: compress() entry to the first dictionary call."""
        spans = [s for s in tracer.spans if s["trace"] == root["trace"]]
        dict_starts = [s["start"] for s in spans if s["name"] == "dicts"]
        parse_end = min(dict_starts) if dict_starts else root["end"]
        parse_commits = [
            r for r in RunManifest(out).records() if r.get("phase") == "parse"
        ]
        tracer.add_derived(
            root["trace"], root["id"], "parse", root["start"], parse_end,
            rows=sum(int(r.get("rows_out", 0)) for r in parse_commits),
            bytes_out=dir_bytes(os.path.join(out, "parsed")),
        )
        sinks_dir = os.path.join(out, "sinks")
        rows = pq.read_table(os.path.join(out, "metrics"), columns=["rows"])["rows"]
        rows = rows.to_pylist()
        for s in spans:
            if s["name"] == "route":
                s["attrs"].update(
                    bytes_out=dir_bytes(sinks_dir),
                    files_out=sum(1 for _ in archive_files(sinks_dir)),
                    sink_skew=_ratio(max(rows), statistics.mean(rows)) if rows else 0.0,
                )


class SearchWorkload:
    """Closed loop, one client: `self.queries` in turn, each a
    `(pattern, search kwargs)` pair, with every query's hits checked
    against a raw-text oracle over the generated pages. Subclasses build
    the archives and set `queries`, `archives`, `pages_pdf` (all input
    rows, for the oracle) and `sizes` in `build()`."""

    def __init__(self, spark, seed: int, work: str, smoke: bool, corrupt: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.smoke = smoke
        self.corrupt = corrupt

    def setup(self) -> None:
        self.build()
        self.cycle = len(self.queries)
        self.min_timed_ops = self.cycle * (1 if self.smoke else self.timed_cycles)
        if hasattr(self, "expected"):  # the same seed builds the same pages
            return
        texts = dict(zip(self.pages_pdf["url"], self.pages_pdf["text"]))
        stamps = dict(zip(self.pages_pdf["url"], self.pages_pdf["warc_ts"]))
        self.expected = []
        for q, kw in self.queries:
            rx = wildcard_to_regex(q)
            lo, hi = kw.get("ts_range", (None, None))
            self.expected.append(
                {
                    u: t
                    for u, t in texts.items()
                    if rx.fullmatch(t)
                    and (lo is None or stamps[u] >= lo)
                    and (hi is None or stamps[u] <= hi)
                }
            )
        if self.corrupt == "hits":
            self.expected[0] = dict(self.expected[0], corrupted="")

    def close(self) -> None:
        pass

    def search(self, q: str, **kw):
        if len(self.archives) == 1:
            return sinks_mod.search_sinks(self.spark, self.archives[0], q, **kw)
        return sinks_mod.search_archives(self.spark, self.archives, q, **kw)

    def archive_ratio(self) -> float:
        return self.sizes[0]

    def encoded_ratio(self) -> float:
        return self.sizes[1]

    def named_metrics(self, e2e: dict, p90: float) -> dict:
        return {
            "query_p50_s": [e2e["op_p50_s"], "s"],
            "query_p90_s": [p90, "s"],
            "queries_per_s": [e2e["docs_per_s"] / self.n_docs, "1/s"],
        }

    def op(self, i: int, tracer: Tracer | None):
        k = i % len(self.queries)
        q, kw = self.queries[k]
        if tracer is None:
            t0 = time.perf_counter()
            rows = self.search(q, **kw).select("url", "text").collect()
            dt = time.perf_counter() - t0
        else:
            rows, dt = self._traced(i, q, kw, tracer)
        expected = self.expected[k]
        # the count gate and the content gate read the same materialised hits
        ok = len(rows) == len(expected) and all(
            expected.get(r["url"]) == r["text"] for r in rows
        )
        return dt, ok

    def _traced(self, i: int, q: str, kw: dict, tracer: Tracer):
        with tracer.trace(
            f"query-{i}", "query", query=q,
            archives_in=len(self.archives), archive_rows=self.n_docs,
        ) as root:
            with tracer.span("query.run") as run:
                rows = self.search(q, **kw).select("url", "text").collect()
            # the staged prefilter alone, on the archives the planner
            # kept: what the decode stage receives
            kept = self.archives
            for s in tracer.spans:
                if s["trace"] == root["trace"] and "kept" in s["attrs"]:
                    kept = s["attrs"]["kept"]
            root["attrs"]["archives_kept"] = len(kept)
            with tracer.paused():
                pre = [
                    sinks_mod.search_sinks(self.spark, d, q, decode=False, **kw)
                    for d in kept
                ]
            with tracer.span("search.executor") as ex:
                ex["attrs"]["rows_kept"] = sum(df.count() for df in pre)
        # decode + confirm = the full query's action minus the staged
        # prefilter; planning ran eagerly before the action
        spans = [s for s in tracer.spans if s["trace"] == root["trace"]]
        planning = union_length(
            clipped(
                [(s["start"], s["end"]) for s in spans if s["name"] == "search.sinks"],
                run["start"], run["end"],
            )
        )
        action = (run["end"] - run["start"]) - planning
        decode = max(0.0, action - (ex["end"] - ex["start"]))
        tracer.add_derived(
            root["trace"], run["id"], "search.decode", run["end"] - decode, run["end"],
            rows=ex["attrs"]["rows_kept"], hits=len(rows),
        )
        return rows, run["end"] - run["start"]


# wildcard queries over hot logtypes and dictionary-variable patterns of
# the pages templates: each keeps a fifth or more of the rows after the
# dictionary prefilter (`*10.0.3.*` keeps about two thirds for one hit),
# so decode + confirm does most of the work. They are fixed (only the
# pages vary with the seed) so that one seed's query mix is not more
# selective than another's.
SCAN_QUERIES = [
    "*request handled status=200*",
    "*10.0.3.*",
    "*cpu=0.500 load*",
    "*latency_ms=1*",
]


class SearchScanWorkload(SearchWorkload):
    """`SCAN_QUERIES` against one archive that compress() built in set-up."""

    name = "search_scan"
    timed_cycles = 2
    # queries keep getting faster for about three cycles in a fresh JVM
    warmup_ops = 2 * len(SCAN_QUERIES)
    setup_reps = 3
    builds = 0

    def build(self) -> None:
        """Compress the pages into a fresh archive; the pages are
        generated by the first call only."""
        if not hasattr(self, "pages"):
            self.n_docs = 2_000 if self.smoke else 20_000
            self.pages = Pages(self.spark, self.n_docs, self.seed)
            self.pages_pdf = self.pages.pdf
            self.queries = [(q, {}) for q in SCAN_QUERIES]
        self.builds += 1
        for old in getattr(self, "archives", []):
            shutil.rmtree(old, ignore_errors=True)
        archive = os.path.join(self.work, f"archive-{self.builds}")
        compress(self.spark, self.pages.df, archive, PipelineConfig(num_checkpoint_buckets=1))
        self.archives = [archive]
        total, encoded = archive_bytes(archive)
        self.sizes = (total / self.pages.input_bytes, encoded / self.pages.input_bytes)

    def close(self) -> None:
        if hasattr(self, "pages"):
            self.pages.close()


# the per-archive caches of clp_spark.search (_INDEX_CACHE,
# _BROADCAST_CACHE, _MANIFEST_CACHE) hold 8 archives each
NEEDLE_ARCHIVES = 9
NEEDLE_WINDOW = timedelta(days=31)
# generate_pages_pdf spreads warc_ts over 30 days from this instant
PAGES_EPOCH = datetime(2025, 1, 1)


class SearchNeedleWorkload(SearchWorkload):
    """Federated `search_archives` over `NEEDLE_ARCHIVES` archives, one
    compress() each. Archive k holds its own row-index slice of the pages,
    with `warc_ts` shifted into its own 31-day window, like
    time-contiguous CLP archives. Query k of a cycle is a needle aimed at
    archive k, so a cycle touches every archive once and the 8-entry
    per-archive caches never hit."""

    name = "search_needle"
    timed_cycles = 1
    warmup_ops = NEEDLE_ARCHIVES
    # nine compress() calls: too slow to repeat
    setup_reps = 1

    def build(self) -> None:
        per_archive = 400 if self.smoke else 800
        self.n_docs = per_archive * NEEDLE_ARCHIVES
        slices = []
        for k in range(NEEDLE_ARCHIVES):
            pdf = generate_pages_pdf(k * per_archive, (k + 1) * per_archive, self.seed)
            pdf["warc_ts"] = pdf["warc_ts"] + k * NEEDLE_WINDOW
            slices.append(pdf)
        self.archives = [
            os.path.join(self.work, f"archive-{k}") for k in range(NEEDLE_ARCHIVES)
        ]
        cfg = PipelineConfig(num_checkpoint_buckets=1)

        def build_one(k):
            df = self.spark.createDataFrame(slices[k])
            compress(self.spark, df, self.archives[k], cfg)

        # compress() of an archive this small is mostly fixed per-job
        # cost; three side by side finish sooner than one at a time
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(build_one, range(NEEDLE_ARCHIVES)))
        self.pages_pdf = pd.concat(slices, ignore_index=True)
        sizes = [archive_bytes(d) for d in self.archives]
        input_bytes = text_bytes(self.pages_pdf)
        self.sizes = (
            sum(t for t, _ in sizes) / input_bytes,
            sum(e for _, e in sizes) / input_bytes,
        )
        self.queries = [self._needle(k, slices[k]) for k in range(NEEDLE_ARCHIVES)]

    def _needle(self, k: int, pdf) -> tuple[str, dict]:
        """Four kinds in turn: a unique path, a unique trace id, two
        session/trace ids of different rows that never occur together
        (no hit, yet both pass archive planning), and a hot logtype
        bounded to the first ten days of the archive's window."""
        texts = list(pdf["text"])
        kind = k % 4
        if kind == 0:
            t = next(t for t in texts if t.startswith("opened task_"))
            return "*" + t.split(" by ")[0].removeprefix("opened ") + "*", {}
        conns = [t.split(" ") for t in texts if " trace " in t]
        if kind == 1:
            return f"*trace {conns[0][-1]}*", {}
        if kind == 2:
            a, b = conns[0], next(c for c in conns if c[5] != conns[0][5])
            return f"*session {a[5]} trace {b[-1].split('-')[0]}-beef-*", {}
        lo = PAGES_EPOCH + k * NEEDLE_WINDOW
        return "*status=404*", {"ts_range": (lo, lo + timedelta(days=10))}


WORKLOADS = {
    w.name: w for w in (CompressWorkload, SearchScanWorkload, SearchNeedleWorkload)
}


def layer_metrics(tracer: Tracer) -> dict:
    """Per-layer values: the median over traced operations of each
    layer's busy / self time and counts; ratios are sums over all traced
    operations. A layer the workload never enters reads 0."""
    by_trace: dict = {}
    for s in tracer.spans:
        by_trace.setdefault(s["trace"], []).append(s)
    per: dict[str, list] = {k: [] for k in PER_LAYER_UNITS}
    sums = {k: 0.0 for k in ("arch_in", "arch_kept", "rows_in", "rows_kept", "hits")}
    for spans in by_trace.values():
        named = {}
        for s in spans:
            named.setdefault(s["name"], []).append(s)

        def busy(name):
            return union_length((s["start"], s["end"]) for s in named.get(name, []))

        def attr(name, key):
            return sum(s["attrs"].get(key, 0) for s in named.get(name, []))

        root = next(s for s in spans if s["parent"] is None)
        if root["name"] == "pipeline":
            children = [
                (s["start"], s["end"])
                for n in ("parse", "dicts", "route")
                for s in named.get(n, [])
            ]
            vals = {
                "parse.busy_s": busy("parse"),
                "parse.rows": attr("parse", "rows"),
                "parse.bytes_out": attr("parse", "bytes_out"),
                "dicts.busy_s": busy("dicts"),
                "dicts.logtype_entries": attr("dicts", "logtype_entries"),
                "dicts.var_entries": attr("dicts", "var_entries"),
                "route.busy_s": busy("route"),
                "route.bytes_out": attr("route", "bytes_out"),
                "route.files_out": attr("route", "files_out"),
                "route.sink_skew": attr("route", "sink_skew"),
                "pipeline.self_s": (root["end"] - root["start"])
                - union_length(clipped(children, root["start"], root["end"])),
            }
        else:
            plan = [(s["start"], s["end"]) for s in named.get("search.sinks", [])]
            comp = [(s["start"], s["end"]) for s in named.get("search.compiler", [])]
            inside = [iv for lo, hi in plan for iv in clipped(comp, lo, hi)]
            vals = {
                "search.compiler.busy_s": busy("search.compiler"),
                "search.sinks.busy_s": busy("search.sinks"),
                "search.sinks.self_s": busy("search.sinks") - union_length(inside),
                "search.executor.busy_s": busy("search.executor"),
                "search.decode.busy_s": busy("search.decode"),
                "search.decode.rows": attr("search.decode", "rows"),
            }
            sums["arch_in"] += root["attrs"].get("archives_in", 0)
            sums["arch_kept"] += root["attrs"].get("archives_kept", 0)
            sums["rows_in"] += root["attrs"].get("archive_rows", 0)
            sums["rows_kept"] += attr("search.executor", "rows_kept")
            sums["hits"] += attr("search.decode", "hits")
        for k, v in vals.items():
            per[k].append(v)
    out = {k: _median(v) for k, v in per.items()}
    out["search.sinks.archives_kept_frac"] = _ratio(sums["arch_kept"], sums["arch_in"])
    out["search.executor.rows_kept_frac"] = _ratio(sums["rows_kept"], sums["rows_in"])
    out["search.decode.confirm_yield"] = _ratio(sums["hits"], sums["rows_kept"])
    return out
