"""In-memory span recorder for the traced benchmark run.

Spans are recorded only from the benchmark's own files: `install_layer_probes`
replaces layer entry points (module attributes of `clp_spark`) with wrappers
that open a span around each call, and the benchmark opens the root span of
every operation itself. Nothing inside `clp_spark` knows it is traced.

A span is `{"trace", "id", "parent", "name", "start", "end", "attrs"}` with
times in seconds from the recorder's creation (`time.perf_counter`). One
trace is one benchmark operation: one `compress()` call or one query.
Spans marked `"derived": true` are not measured around a call; they are
computed from other spans (see README.md).
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._trace_id = None
        self._root_id = None
        self._patches: list[tuple] = []

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def trace(self, trace_id: str, root_name: str, **attrs):
        """Open the root span of one operation; spans opened until it
        closes (in any thread) belong to `trace_id`."""
        self._trace_id = trace_id
        try:
            with self.span(root_name, **attrs) as root:
                self._root_id = root["id"]
                yield root
        finally:
            self._root_id = None
            self._trace_id = None

    @contextmanager
    def paused(self):
        """Run calls through the probes without recording them."""
        saved, self._trace_id = self._trace_id, None
        try:
            yield
        finally:
            self._trace_id = saved

    @contextmanager
    def span(self, name: str, **attrs):
        if self._trace_id is None:
            yield None
            return
        stack = self._stack()
        # a probe running in a pool thread has no open span of its own;
        # it belongs under the operation's root
        parent = stack[-1]["id"] if stack else self._root_id
        rec = {
            "trace": self._trace_id,
            "id": next(self._ids),
            "parent": parent,
            "name": name,
            "start": self.now(),
            "end": None,
            "attrs": dict(attrs),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = self.now()
            with self._lock:
                self.spans.append(rec)

    def add_derived(self, trace_id, parent, name, start, end, **attrs):
        with self._lock:
            self.spans.append(
                {
                    "trace": trace_id,
                    "id": next(self._ids),
                    "parent": parent,
                    "name": name,
                    "start": start,
                    "end": end,
                    "attrs": dict(attrs),
                    "derived": True,
                }
            )

    def probe(self, module_name: str, attr: str, span_name: str, on_result=None):
        """Wrap `module.attr` so each call is recorded as `span_name`;
        `on_result(span, result)` may add counts to the span."""
        mod = importlib.import_module(module_name)
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(span_name, fn=f"{module_name}.{attr}") as sp:
                result = orig(*args, **kwargs)
                if sp is not None and on_result is not None:
                    on_result(sp, result)
                return result

        setattr(mod, attr, wrapper)
        self._patches.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: (r["start"], r["id"])):
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def _dict_sizes(span, result):
    if result is not None:
        span["attrs"]["logtype_entries"] = len(result[0])
        span["attrs"]["var_entries"] = len(result[1])


def _kept_archives(span, result):
    span["attrs"]["kept"] = list(result)


def install_layer_probes(tracer: Tracer) -> None:
    """The layer boundaries the per-layer metrics are derived from.

    Each probe patches the name where its caller looks it up: the
    pipeline imports the dictionary and route functions into its own
    namespace, the search modules each import `compile_query`, and
    `search_archives` looks up `plan_archives` and `search_sinks` in its
    own module."""
    tracer.probe("clp_spark.pipeline", "build_dicts_small_pandas", "dicts", _dict_sizes)
    tracer.probe("clp_spark.pipeline", "write_dict_parquet", "dicts")
    tracer.probe("clp_spark.pipeline", "route_to_sinks", "route")
    tracer.probe("clp_spark.search.sinks", "search_sinks", "search.sinks")
    tracer.probe("clp_spark.search.sinks", "plan_archives", "search.sinks", _kept_archives)
    tracer.probe("clp_spark.search.sinks", "compile_query", "search.compiler")
    tracer.probe("clp_spark.search.executor", "compile_query", "search.compiler")


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals, overlaps once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
