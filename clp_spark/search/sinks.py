"""Search over persisted sink tables with segment-index pruning.

Re-expression of CLP's segment-level pruning
(/root/reference/components/core/src/clp/Query.hpp:103-121
calculate_ids_of_matching_segments: a segment is searched only if it
contains a candidate logtype ID / dictionary-var ID for the query;
indexes written per dictionary at DictionaryWriter.hpp:72).

Spark shape: compress writes two inverted-index tables at SEGMENT
granularity — (sink_id, seg_id, logtype_id) and (sink_id, seg_id,
var_id) — plus a segment zone map (sink_id, seg_id, rows
[, ts_min, ts_max]). At query time the compiled token branches are
evaluated per segment: a segment survives a token iff some branch
could hold there — its candidate logtype IDs or var IDs appear in the
segment's manifest, or the branch is un-indexable (exact int/float
encodings, 'any'). The branch algebra is CompiledQuery.fold
(search/compiler.py): here its leaves are unit sets (or manifest
frames above the driver cap), and plan_archives folds booleans per
archive over one batched dictionary scan. A timestamp range
additionally drops segments whose zone-map [ts_min, ts_max] doesn't
overlap it. Segments failing any stage are dropped with a partition
predicate over (sink_id, seg_id), which prunes whole partition
directories from the parquet scan before a single data row is read.
Pruning is a superset (never drops a matching segment); the row-level
prefilter + decode-confirm stages then run as usual. Manifests from
older archives without seg_id degrade gracefully to sink-level pruning.

An archive is opened once (`open_archive`), as CLP loads an archive's
dictionaries and segment indexes once and answers every later query
from memory (DictionaryReader.hpp:241-290, Query.hpp:103-121). The
`Archive` handle holds the sinks and dictionary frames with their file
listings resolved, the dictionary index and decode broadcasts, the
collected manifest pair maps and the ts zone map, each built on first
use. Handles live in one LRU keyed by directory and checked against a
freshness token read from the archive's append-only commit logs
(`_manifest.jsonl` from compress and segment GC, `_stream_epochs` from
streaming ingest): every writer appends a record after it mutates the
archive, so the next open sees a new token and re-reads. An archive
with no commit log is opened fresh on every call.
"""

from __future__ import annotations

import datetime
import os
from functools import cached_property, reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from clp_spark.search.compiler import CompiledQuery, compile_query
from clp_spark.search.executor import (
    ArchiveDicts,
    _branch_ids,
    _DictIndex,
    _DictProbes,
    run_search,
)
from clp_spark.util import LruCache

# manifests above this many pairs are not collected; pruning switches to
# the DISTRIBUTED path: surviving (sink, seg) units are computed as a
# manifest semi-join (Query.hpp:103-121's calculate_ids_of_matching_
# segments, which the reference also never materializes in one process —
# DictionaryWriter.hpp:72 streams per-dictionary indexes)
_MAX_DRIVER_MANIFEST_PAIRS = 4_000_000

# a distributed-pruning result this small collects back into a literal
# partition predicate (whole directories pruned from the scan); larger
# survivor sets stay as a semi-join against the sinks scan
_MAX_UNIT_LITERALS = 10_000

# opened archives, keyed by directory → (commit token, Archive). Sized
# to the largest measured traffic, perfbench's search_needle federated
# search over nine archives. Evicting a handle drops its broadcasts to
# Spark's ContextCleaner.
_HANDLES: LruCache = LruCache(maxsize=9)

# the append-only commit logs every archive writer appends to
_COMMIT_LOGS = ("_manifest.jsonl", "_stream_epochs")


def _commit_token(out_dir: str) -> tuple | None:
    """(byte length, last record) of each commit log present; None when
    the archive has none. Every record carries a timestamp, so a
    rewrite into the same directory changes the token even when every
    file keeps its mtime and the logs their lengths."""
    tok = []
    for name in _COMMIT_LOGS:
        try:
            with open(os.path.join(out_dir, name), "rb") as f:
                size = f.seek(0, os.SEEK_END)
                f.seek(max(0, size - 4096))
                last = f.read().rstrip(b"\n").rsplit(b"\n", 1)[-1]
        except FileNotFoundError:
            continue
        tok.append((name, size, last))
    return tuple(tok) or None


def open_archive(spark: SparkSession, out_dir: str) -> "Archive":
    """The search handle of a compress() output directory: reused while
    its commit token is unchanged, re-opened after any commit. A crashed
    GC swap is healed first, on every open."""
    from clp_spark.route.gc import _heal_dir

    for name in ("logtype", "var", "segments"):
        _heal_dir(os.path.join(out_dir, "manifest", name))
    token = _commit_token(out_dir)
    if token is None:
        return Archive(spark, out_dir)
    key = os.path.abspath(out_dir)
    hit = _HANDLES.get(key)
    if hit is not None and hit[0] == token and hit[1].spark is spark:
        return hit[1]
    arch = Archive(spark, out_dir)
    _HANDLES.put(key, (token, arch))
    return arch


class Archive:
    """One opened compress() archive. Every part is read on first use
    and kept: the parquet frames keep their resolved file listings, so
    a later query plans without listing or footer reads."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        self.man_dir = os.path.join(out_dir, "manifest")

    def _read(self, *parts: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, *parts))

    @cached_property
    def sinks(self) -> DataFrame:
        return self._read("sinks")

    @cached_property
    def dicts(self) -> ArchiveDicts:
        return ArchiveDicts(self._read("dicts", "logtype"), self._read("dicts", "var"))

    @cached_property
    def manifest(self) -> tuple:
        """(lt_pairs, var_pairs, unit_cols, lt_man, var_man) of the token
        manifests; the collected pair maps are None above the driver cap
        (the DataFrames then drive the distributed path)."""
        lt_man = self._read("manifest", "logtype")
        var_man = self._read("manifest", "var")
        return (
            _collect_pairs(lt_man, "logtype_id"),
            _collect_pairs(var_man, "var_id"),
            _unit_cols(lt_man),
            lt_man,
            var_man,
        )

    @cached_property
    def zone_map(self) -> tuple | None:
        """(rows, unit_cols, ts_src) of the segments manifest, rows being
        (unit, ts_min, ts_max); None when it has no timestamp columns.
        Manifests predating ts_src are warc_ts-sourced (the historical
        default of the zone map's source choice)."""
        if not os.path.isdir(os.path.join(self.man_dir, "segments")):
            return None
        seg = self._read("manifest", "segments")
        if "ts_min" not in seg.columns:
            return None
        unit_cols = _unit_cols(seg)
        ts_src = "warc_ts"
        if "ts_src" in seg.columns:
            src_rows = seg.select("ts_src").limit(1).collect()
            ts_src = src_rows[0]["ts_src"] if src_rows else None
        rows = [
            (tuple(r[c] for c in unit_cols), r["ts_min"], r["ts_max"])
            for r in seg.select(*unit_cols, "ts_min", "ts_max").collect()
        ]
        return rows, unit_cols, ts_src

    def ts_units(self, ts_range: tuple, ts_col: str) -> tuple[list, list[str]] | None:
        """(surviving prune units, unit column names): the units whose
        zone-map [ts_min, ts_max] overlaps the query range (CLP's
        archive-level timestamp range pruning, SURVEY §4 row 1;
        Grep.cpp skips archives outside [begin_ts, end_ts]), filtered
        driver-side per query over the collected zone map. None when
        the archive has no zone map. The zone map applies ONLY when it
        was built from the query's ts_col; a warc_ts zone map must not
        prune a ts_ms query."""
        zm = self.zone_map
        if zm is None or zm[2] != ts_col:
            return None
        rows, unit_cols, _ = zm
        lo, hi = ts_range

        def _cmp_key(v):
            # ts bounds may arrive as ISO strings (executor semantics allow
            # string/timestamp comparison); normalize for the driver compare.
            # Applied to BOTH sides — a string-typed warc_ts column yields
            # string zone-map bounds, which must not str-vs-datetime crash.
            if isinstance(v, str):
                return datetime.datetime.fromisoformat(v)
            return v

        lo_k = _cmp_key(lo) if lo is not None else None
        hi_k = _cmp_key(hi) if hi is not None else None

        def _survives(tmin, tmax):
            # NULL bounds (an all-null-ts segment) mean "unknown": the zone
            # map cannot prove non-overlap, so the unit must SURVIVE — the
            # sound degrade direction
            if tmin is None or tmax is None:
                return True
            try:
                return (lo_k is None or _cmp_key(tmax) >= lo_k) and (
                    hi_k is None or _cmp_key(tmin) <= hi_k
                )
            except TypeError:
                # incomparable unit mix (e.g. int zone map vs datetime
                # query): cannot prove non-overlap — survive, never prune
                return True

        return [u for u, tmin, tmax in rows if _survives(tmin, tmax)], unit_cols


def _unit_cols(df: DataFrame) -> list[str]:
    """Prune-unit key: (sink_id, seg_id) when segments exist, else
    (sink_id,) for pre-segment archives."""
    return ["sink_id", "seg_id"] if "seg_id" in df.columns else ["sink_id"]


def _collect_pairs(df: DataFrame, key: str) -> tuple[dict, set] | None:
    """key value -> set of prune units; also returns the full unit set.
    None when the manifest exceeds the driver cap (degrade, don't
    truncate — a truncated map would under-prune unsoundly the other
    way: it would *drop* segments whose pairs fell past the cap)."""
    unit_cols = _unit_cols(df)
    rows = df.limit(_MAX_DRIVER_MANIFEST_PAIRS + 1).collect()
    if len(rows) > _MAX_DRIVER_MANIFEST_PAIRS:
        return None
    out: dict = {}
    all_units: set = set()
    for r in rows:
        u = tuple(r[c] for c in unit_cols)
        out.setdefault(r[key], set()).add(u)
        all_units.add(u)
    return out, all_units


def _unit_leaf(cq: CompiledQuery, idx: _DictIndex, manifests: dict, units_of):
    """Segment-pruning leaf: the prune units that hold a candidate ID of
    the branch, `units_of(manifest, id_col, ids)` over the manifest of
    its dictionary ("logtype_id" | "var_id" → manifest, None = absent).
    None when the branch is not indexable (exact int/float encodings
    are not segment-indexed) or its manifest is absent."""

    def leaf(br):
        r = _branch_ids(br, idx, cq.ignore_case)
        man = None if r is None else manifests[r[0]]
        if man is None:
            return None
        return units_of(man, r[0], r[1]) if r[1] else False

    return leaf


def _prune_from_pairs(
    cq: CompiledQuery,
    idx: _DictIndex,
    lt: tuple | None,
    var: tuple | None,
    unit_cols: list[str],
) -> tuple[list, list[str]] | None:
    """(surviving prune units, unit column names) from already-collected
    manifest maps; None = cannot prune. A token's branches union their
    units, splits and tokens intersect them."""
    if cq.match_all or idx is None or lt is None:
        return None
    manifests = {"logtype_id": lt[0], "var_id": None if var is None else var[0]}
    leaf = _unit_leaf(
        cq, idx, manifests,
        lambda m, _col, ids: set().union(*(m.get(i, ()) for i in ids)),
    )
    s = cq.fold(leaf, lambda ss: set().union(*ss), lambda ss: set.intersection(*ss))
    return None if s is None else (sorted(s or ()), unit_cols)


def _prune_units_distributed(
    cq: CompiledQuery,
    idx: _DictIndex,
    lt_man: DataFrame,
    var_man: DataFrame | None,
    unit_cols: list[str],
) -> DataFrame | None:
    """Distributed twin of _prune_from_pairs: a DataFrame of surviving
    prune units; None = cannot prune. Candidate dictionary IDs still
    come from the driver-side dict index (CLP's model — dicts are small
    by design), but manifest membership runs as one SQL IN per leaf,
    branches union and splits/tokens semi-join, so the manifests never
    have to fit on the driver."""
    if cq.match_all or idx is None:
        return None
    leaf = _unit_leaf(
        cq, idx, {"logtype_id": lt_man, "var_id": var_man},
        lambda m, col, ids: m.filter(f"{col} IN ({_int_list(ids)})").select(*unit_cols),
    )
    out = cq.fold(
        leaf,
        lambda dfs: reduce(DataFrame.unionByName, dfs).distinct(),
        lambda dfs: reduce(lambda a, b: a.join(b, unit_cols, "left_semi"), dfs),
    )
    return lt_man.select(*unit_cols).limit(0) if out is False else out


def unit_filter(units: list, unit_cols: list[str]) -> str:
    """Partition predicate selecting exactly these prune units, as one
    SQL expression string: one parse on the JVM instead of a Column tree
    built literal by literal over py4j.

    Grouped per sink — `sink_id = s AND seg_id IN (...)` OR'd across
    sinks — so Catalyst folds it into PartitionFilters and the parquet
    scan lists only the surviving sink/segment directories."""
    if not units:
        return "false"
    if len(unit_cols) == 1:
        return f"sink_id IN ({_int_list(u[0] for u in units)})"
    by_sink: dict = {}
    for s, g in units:
        by_sink.setdefault(s, []).append(g)
    return " OR ".join(
        f"(sink_id = {int(s)} AND seg_id IN ({_int_list(segs)}))"
        for s, segs in sorted(by_sink.items())
    )


def _int_list(values) -> str:
    return ",".join(str(int(v)) for v in sorted(values))


def _surviving_units(
    arch: Archive, cq: CompiledQuery, ts_range: tuple | None, ts_col: str
) -> tuple:
    """The one unit-pruning pass over an opened archive: token manifests
    (collected maps, or the distributed semi-join above the driver cap),
    then the ts zone map. Returns (units, units_df, unit_cols): `units`
    the surviving prune-unit set (None = cannot prune); `units_df` set
    instead when a distributed survivor set exceeds _MAX_UNIT_LITERALS
    and must stay a semi-join."""
    if not os.path.isdir(arch.man_dir):
        return None, None, None
    units: set | None = None
    unit_cols: list[str] | None = None
    units_df: DataFrame | None = None
    if not cq.match_all:
        idx = arch.dicts.index
        lt_pairs, var_pairs, man_cols, lt_man, var_man = arch.manifest
        if lt_pairs is not None:
            r = _prune_from_pairs(cq, idx, lt_pairs, var_pairs, man_cols)
            if r is not None:
                units, unit_cols = set(r[0]), r[1]
        else:
            # manifests above the driver cap: distributed pruning
            # (manifest filters + semi-joins; SURVEY §2.3's manifest
            # semi-join shape)
            units_df = _prune_units_distributed(cq, idx, lt_man, var_man, man_cols)
            unit_cols = man_cols
    if ts_range is not None:
        r = arch.ts_units(ts_range, ts_col)
        if r is not None:
            ts_units, ts_cols = set(r[0]), r[1]
            if units_df is not None:
                if unit_cols == ts_cols:
                    units_df = units_df.filter(unit_filter(sorted(ts_units), ts_cols))
            elif units is None:
                units, unit_cols = ts_units, ts_cols
            elif unit_cols == ts_cols:
                units &= ts_units
    if units_df is not None:
        # adaptive: a small survivor set collects into a literal
        # partition predicate (whole sink/segment directories pruned at
        # scan planning); a large one stays distributed
        rows = units_df.limit(_MAX_UNIT_LITERALS + 1).collect()
        if len(rows) <= _MAX_UNIT_LITERALS:
            units, units_df = {tuple(r[c] for c in unit_cols) for r in rows}, None
    return units, units_df, unit_cols


def surviving_unit_filter(
    spark: SparkSession,
    out_dir: str,
    query: str,
    ignore_case: bool = False,
    substring: bool = True,
    ts_range: tuple | None = None,
    ts_col: str = "warc_ts",
):
    """(SQL predicate | None, provably_empty) for one archive: the
    combined token-manifest + ts-zone-map prune. predicate None = cannot
    prune (also when the survivors are too many to list);
    provably_empty = the archive cannot contain matches at all."""
    cq = compile_query(query, ignore_case=ignore_case, substring=substring)
    units, _units_df, unit_cols = _surviving_units(
        open_archive(spark, out_dir), cq, ts_range, ts_col
    )
    if units is None:
        return None, False
    return unit_filter(sorted(units), unit_cols), not units


def _norm_file_uri(p: str) -> str:
    from urllib.parse import unquote, urlparse

    u = urlparse(p)
    return unquote(u.path) if u.scheme else p


def plan_archives(
    spark: SparkSession,
    out_dirs: list,
    query: str,
    *,
    ignore_case: bool = False,
    substring: bool = True,
    ts_range: tuple | None = None,
    ts_col: str = "warc_ts",
) -> list:
    """Batched federated planning: the archive-level prune verdicts for
    ALL archives come from ONE Spark action over union scans of every
    archive's dictionaries (+ ts zone maps), instead of a per-archive
    driver loop (the reference plans across its archives in one SQL
    query against the metadata DB — query_scheduler.py:464-524; here
    the dict parquets ARE the metadata tables). O(1) planning jobs at
    any archive count. Conservative and therefore exact: an archive is
    dropped only when some required token provably has no candidate
    value/template there, or its ts zone map (same ts_src) proves no
    segment overlaps ts_range."""
    cq = compile_query(query, ignore_case=ignore_case, substring=substring)
    amap = {os.path.abspath(d): d for d in out_dirs}
    if cq.match_all and ts_range is None:
        return list(out_dirs)

    # each dictionary question a verdict can ask becomes one hit column
    # (the fold asks the same questions per archive, and never more)
    dict_probes = _DictProbes()

    def probe(br):
        r = _branch_ids(br, dict_probes, cq.ignore_case)
        return None if r is None else r[1]

    cq.fold(probe, any, all)
    probes = list(dict_probes.probes.items())

    def _agg_hits(sub: str, id_col: str):
        paths = [
            os.path.join(d, "dicts", sub)
            for d in out_dirs
            if os.path.isdir(os.path.join(d, "dicts", sub))
        ]
        aggs = [
            F.max(cond.cast("int")).alias(f"h{i}")
            for i, (_key, (col, cond)) in enumerate(probes)
            if col == id_col
        ]
        if not aggs or not paths:
            return None
        df = spark.read.parquet(*paths).withColumn(
            "_arch",
            F.regexp_extract(F.input_file_name(), f"(.*)/dicts/{sub}/[^/]+$", 1),
        )
        return df.groupBy("_arch").agg(*aggs)

    lt_agg = _agg_hits("logtype", "logtype_id")
    var_agg = _agg_hits("var", "var_id")

    ts_agg = None
    if ts_range is not None:
        seg_paths = [
            os.path.join(d, "manifest", "segments")
            for d in out_dirs
            if os.path.isdir(os.path.join(d, "manifest", "segments"))
        ]
        if seg_paths:
            try:
                seg = (
                    spark.read.option("mergeSchema", "true").parquet(*seg_paths)
                )
            except Exception:
                seg = None  # mixed zone-map types: skip ts planning
            if seg is not None and "ts_min" in seg.columns:
                seg = seg.withColumn(
                    "_arch",
                    F.regexp_extract(
                        F.input_file_name(), "(.*)/manifest/segments/[^/]+$", 1
                    ),
                )
                lo, hi = ts_range
                overlap = F.lit(True)
                if lo is not None:
                    overlap = overlap & (F.col("ts_max") >= F.lit(lo))
                if hi is not None:
                    overlap = overlap & (F.col("ts_min") <= F.lit(hi))
                if "ts_src" in seg.columns:
                    src_ok = F.col("ts_src") == F.lit(ts_col)
                else:
                    src_ok = F.lit(ts_col == "warc_ts")
                # prunable: the archive HAS a matching-source zone map;
                # alive: some segment of it overlaps the range
                ts_agg = seg.groupBy("_arch").agg(
                    F.max(src_ok.cast("int")).alias("_prunable"),
                    F.max((src_ok & overlap).cast("int")).alias("_alive"),
                )

    frames = [f for f in (lt_agg, var_agg, ts_agg) if f is not None]
    if not frames:
        return list(out_dirs)
    joined = frames[0]
    for f in frames[1:]:
        joined = joined.join(f, "_arch", "full_outer")
    rows = joined.collect()  # the ONE planning action

    by_arch = {}
    for r in rows:
        by_arch[os.path.abspath(_norm_file_uri(r["_arch"]))] = r

    survivors = []
    for ap, d in amap.items():
        r = by_arch.get(ap)
        if r is None:
            survivors.append(d)  # nothing readable to prune on: keep
            continue
        rd = r.asDict()
        hits = {
            key for i, (key, _) in enumerate(probes) if (rd.get(f"h{i}") or 0) >= 1
        }

        def hit(br):
            key = probe(br)
            return None if key is None else key in hits

        alive = cq.fold(hit, any, all) is not False
        if alive and ts_agg is not None and (rd.get("_prunable") or 0) >= 1:
            alive = (rd.get("_alive") or 0) >= 1
        if alive:
            survivors.append(d)
    return survivors


def search_archives(
    spark: SparkSession,
    out_dirs: list,
    query: str,
    **kwargs,
) -> DataFrame:
    """Federated search across MANY compress() archives — the clg CLI's
    ARCHIVES-DIR shape (each archive searched with its own dictionaries;
    results unioned: Grep.cpp's per-archive loop). Archive-level
    pruning is BATCHED: one planning action over all archives'
    dictionaries + zone maps (plan_archives) decides which archives can
    match at all; only survivors get their per-archive staged search."""
    if not out_dirs:
        # the schema-preserving empty fallback below needs one archive
        # to borrow a schema from; a dynamic discovery that matched
        # nothing deserves a clear error, not an IndexError
        raise ValueError("search_archives: out_dirs is empty")
    survivors = plan_archives(
        spark,
        out_dirs,
        query,
        ignore_case=kwargs.get("ignore_case", False),
        substring=kwargs.get("substring", True),
        ts_range=kwargs.get("ts_range"),
        ts_col=kwargs.get("ts_col", "warc_ts"),
    )
    parts = [search_sinks(spark, d, query, **kwargs) for d in survivors]
    if not parts:
        # preserve the output schema: run one archive's (empty) search
        return search_sinks(spark, out_dirs[0], query, **kwargs).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def search_sinks(
    spark: SparkSession,
    out_dir: str,
    query: str,
    **kwargs,
) -> DataFrame:
    """Search a persisted compress() output directory: segment-manifest
    pruning (stage 2) + the regular staged search, both over the opened
    archive's cached state. Accepts the same keyword arguments as
    executor.search."""
    arch = open_archive(spark, out_dir)
    ignore_case = kwargs.pop("ignore_case", False)
    substring = kwargs.pop("substring", True)
    cq = kwargs.pop("precompiled", None) or compile_query(
        query, ignore_case=ignore_case, substring=substring
    )
    units, units_df, unit_cols = _surviving_units(
        arch, cq, kwargs.get("ts_range"), kwargs.get("ts_col", "warc_ts")
    )
    sinks = arch.sinks
    if units_df is not None:
        sinks = sinks.join(units_df, unit_cols, "left_semi")
    elif units is not None:
        sinks = sinks.filter(unit_filter(sorted(units), unit_cols))
    return run_search(sinks, arch.dicts, cq, **kwargs)
