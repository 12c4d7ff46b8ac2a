"""Segment-index (sink-manifest) pruning: exact results, fewer sinks
scanned (reference: Query.hpp:103-121 segment pruning)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clp_spark.config import PipelineConfig
from clp_spark.pipeline import compress
from clp_spark.search.compiler import compile_query
from clp_spark.search.sinks import _surviving_units, open_archive, search_sinks
from clp_spark.search.wildcard import wildcard_match

CFG = PipelineConfig(num_sinks=16, num_checkpoint_buckets=1, shuffle_partitions=8)


@pytest.fixture(scope="module")
def compressed(spark, pages_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sink_prune"))
    res = compress(spark, pages_df, out, CFG)
    return out, res


def _units(spark, out, query):
    """(surviving prune units, unit column names) of the production
    token-manifest pruning pass over the opened archive; None = cannot
    prune."""
    units, _units_df, unit_cols = _surviving_units(
        open_archive(spark, out), compile_query(query), None, "warc_ts"
    )
    return None if units is None else (units, unit_cols)


def _sink_ids(spark, out, query):
    """Sink-granular view of _units; None = cannot prune."""
    r = _units(spark, out, query)
    return None if r is None else sorted({u[0] for u in r[0]})


def _oracle(pages_pdf, query):
    pat = "*" + query + "*"
    return {
        u
        for u, t in zip(pages_pdf["url"], pages_pdf["text"])
        if wildcard_match(pat, t)
    }


@pytest.mark.parametrize(
    "query",
    ["*deadbeef*", "user=alice", "glob match \\*.parquet", "*latency_ms=*"],
)
def test_pruned_search_is_exact(spark, compressed, pages_pdf, query):
    out, _ = compressed
    got = {
        r["url"] for r in search_sinks(spark, out, query).select("url").collect()
    }
    assert got == _oracle(pages_pdf, query), query


def test_pruning_skips_sinks(spark, compressed):
    """A query whose candidate IDs live in few sinks must not scan all
    sink partitions."""
    out, res = compressed
    lt_man = spark.read.parquet(res["sink_manifest"] + "/logtype")

    keep = _sink_ids(spark, out, "*deadbeef*")
    all_sinks = {
        r["sink_id"] for r in lt_man.select("sink_id").distinct().collect()
    }
    assert keep is not None
    assert 0 < len(keep) < len(all_sinks)

    # and the sink filter actually reaches the scan as a partition filter
    sinks = spark.read.parquet(res["sinks"]).filter(F.col("sink_id").isin(keep))
    plan = sinks._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_segment_pruning_scans_fewer_files_than_sink_pruning(spark, compressed):
    """Segment-granular manifests (sink_id, seg_id, id) must prune
    BELOW sink level: for a selective query the scanned-file count is
    strictly less than the file count of the surviving sinks (CLP's
    per-segment index, Query.hpp:103-121)."""
    from clp_spark.search.sinks import unit_filter

    out, res = compressed

    # one-row token: its dict-var id lives in exactly one time-window
    # segment, so segment pruning must beat sink pruning
    r = _units(spark, out, "*deadbeef2fd2*")
    assert r is not None
    units, unit_cols = sorted(r[0]), r[1]
    assert unit_cols == ["sink_id", "seg_id"]
    sinks = spark.read.parquet(res["sinks"])

    seg_files = (
        sinks.filter(unit_filter(units, unit_cols))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    sink_files = (
        sinks.filter(F.col("sink_id").isin(sorted({u[0] for u in units})))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert 0 < seg_files < sink_files

    # and the (sink, seg) predicate reaches the scan as a partition filter
    plan = (
        sinks.filter(unit_filter(units, unit_cols))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "seg_id" in plan


def test_ts_zone_map_prunes_segments(spark, compressed, pages_pdf):
    """The segments zone map drops (sink, seg) units whose
    [ts_min, ts_max] misses the query range, and the pruned search
    stays exact for a ts-bounded grep."""
    out, res = compressed
    seg_man = spark.read.parquet(res["sink_manifest"] + "/segments")
    assert {"sink_id", "seg_id", "rows", "ts_min", "ts_max"} <= set(
        seg_man.columns
    )
    total_units = seg_man.count()
    lo = pages_pdf["warc_ts"].quantile(0.98).to_pydatetime()
    r = open_archive(spark, out).ts_units((lo, None), "warc_ts")
    assert r is not None
    units, unit_cols = r
    assert len(units) < total_units

    got = {
        row["url"]
        for row in search_sinks(spark, out, "user=alice", ts_range=(lo, None))
        .select("url")
        .collect()
    }
    exp = {
        u
        for u, t, ts in zip(
            pages_pdf["url"], pages_pdf["text"], pages_pdf["warc_ts"]
        )
        if ts >= lo and wildcard_match("*user=alice*", t)
    }
    assert got == exp


def test_zero_hit_query_prunes_every_sink(spark, compressed):
    out, res = compressed
    keep = _sink_ids(spark, out, "qq7z_missing_token_9x")
    assert keep == []
    assert search_sinks(spark, out, "qq7z_missing_token_9x").count() == 0


def test_search_archives_federation(spark, pages_pdf, tmp_path_factory):
    """Multi-archive federation (the clg ARCHIVES-DIR shape): results
    union per-archive searches exactly, and an archive whose manifests
    prove zero candidates contributes nothing."""
    from clp_spark.search.sinks import search_archives, surviving_unit_filter

    base = tmp_path_factory.mktemp("multi_arch")
    dirs = []
    halves = [pages_pdf.iloc[:1500], pages_pdf.iloc[1500:]]
    for i, pdf in enumerate(halves):
        out = str(base / f"arch{i}")
        compress(spark, spark.createDataFrame(pdf), out, CFG)
        dirs.append(out)

    q = "user=alice"
    got = {
        r["url"]
        for r in search_archives(spark, dirs, q).select("url").collect()
    }
    exp = _oracle(pages_pdf, q)
    assert got == exp and len(got) > 0

    # a query whose tokens exist in NO archive: both archives are
    # provably empty at compile time (no Spark job needed)
    for d in dirs:
        _pred, empty = surviving_unit_filter(spark, d, "zz_nowhere_token_9x")
        assert empty
    assert search_archives(spark, dirs, "zz_nowhere_token_9x").count() == 0

    # the batched planner agrees with the per-archive verdicts
    from clp_spark.search.sinks import plan_archives

    assert plan_archives(spark, dirs, "zz_nowhere_token_9x") == []
    assert plan_archives(spark, dirs, q) == dirs


def test_plan_archives_batched_o1_jobs(spark, tmp_path_factory):
    """100 archives plan in O(1) Spark actions (one union dict scan +
    one collect), not an O(archives) driver loop, and the verdicts are
    exact: only the archive hosting the queried token survives."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clp_spark.search.sinks import plan_archives

    base = tmp_path_factory.mktemp("plan100")
    dirs = []
    for i in range(100):
        d = base / f"arch{i:03d}"
        (d / "dicts" / "logtype").mkdir(parents=True)
        (d / "dicts" / "var").mkdir(parents=True)
        pq.write_table(
            pa.table(
                {
                    "logtype_id": pa.array([0], pa.int64()),
                    "logtype": ["static message template"],
                }
            ),
            str(d / "dicts" / "logtype" / "p.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "var_id": pa.array([0, 1], pa.int64()),
                    "value": [f"zqtok{i}xx", "zqcommonxx"],
                }
            ),
            str(d / "dicts" / "var" / "p.parquet"),
        )
        dirs.append(str(d))

    sc = spark.sparkContext
    sc.setJobGroup("plan100", "batched federated planning")
    try:
        surv = plan_archives(spark, dirs, "zqtok42xx")
    finally:
        sc.setJobGroup("plan100-done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("plan100")
    assert surv == [dirs[42]]
    # O(1) actions regardless of archive count (AQE may split the one
    # collect into a few jobs — the bound just must not scale with N)
    assert 1 <= len(jobs) <= 5, jobs
    # a token every archive hosts keeps them all, in input order
    assert plan_archives(spark, dirs, "zqcommonxx") == dirs


def test_distributed_pruning_above_driver_cap(
    spark, compressed, pages_pdf, monkeypatch
):
    """Above _MAX_DRIVER_MANIFEST_PAIRS the manifests are never
    collected; pruning must switch to the distributed semi-join path
    and (a) compute the SAME surviving unit set, (b) scan the same
    files, (c) return exact results (round-3 review Missing #1 — the
    degrade-to-no-pruning is gone)."""
    from clp_spark.search import sinks as S

    out, res = compressed
    q = "*deadbeef2fd2*"
    arch = open_archive(spark, out)
    idx = arch.dicts.index
    lt_man = spark.read.parquet(res["sink_manifest"] + "/logtype")
    var_man = spark.read.parquet(res["sink_manifest"] + "/var")
    cq = compile_query(q)

    # collected-path units (normal cap)
    r = _units(spark, out, q)
    assert r is not None
    coll_units, unit_cols = set(r[0]), r[1]

    # distributed-path units
    units_df = S._prune_units_distributed(cq, idx, lt_man, var_man, unit_cols)
    assert units_df is not None
    dist_units = {tuple(row[c] for c in unit_cols) for row in units_df.collect()}
    assert dist_units == coll_units

    # scanned-file parity between the two prune strategies
    sinks_df = spark.read.parquet(res["sinks"])
    f_coll = (
        sinks_df.filter(S.unit_filter(sorted(coll_units), unit_cols))
        .select(F.input_file_name()).distinct().count()
    )
    f_dist = (
        sinks_df.filter(S.unit_filter(sorted(dist_units), unit_cols))
        .select(F.input_file_name()).distinct().count()
    )
    assert f_coll == f_dist
    # and the semi-join scan returns exactly the pruned row set
    n_join = sinks_df.join(units_df, unit_cols, "left_semi").count()
    n_coll = sinks_df.filter(S.unit_filter(sorted(coll_units), unit_cols)).count()
    assert n_join == n_coll

    # end-to-end: force the tiny cap, clear the cache, search — exact
    monkeypatch.setattr(S, "_MAX_DRIVER_MANIFEST_PAIRS", 1)
    S._HANDLES.clear()
    try:
        got = {
            row["url"]
            for row in S.search_sinks(spark, out, q).select("url").collect()
        }
        assert got == _oracle(pages_pdf, q)
        # the huge-survivor-set branch too: collect cap of 0 literals
        monkeypatch.setattr(S, "_MAX_UNIT_LITERALS", 0)
        S._HANDLES.clear()
        got2 = {
            row["url"]
            for row in S.search_sinks(spark, out, q).select("url").collect()
        }
        assert got2 == _oracle(pages_pdf, q)
    finally:
        S._HANDLES.clear()


def test_ts_zone_map_requires_matching_ts_col(spark, compressed, pages_pdf):
    """The segments zone map was built from warc_ts; a query filtering a
    DIFFERENT ts column must not be pruned with it (round-4 advice:
    unsound drops / TypeError when an archive has both columns)."""
    from clp_spark.search.sinks import open_archive

    out, res = compressed
    seg_dir = res["sink_manifest"] + "/segments"
    seg = spark.read.parquet(seg_dir)
    assert "ts_src" in seg.columns
    lo = pages_pdf["warc_ts"].quantile(0.5).to_pydatetime()
    arch = open_archive(spark, out)
    assert arch.ts_units((lo, None), "warc_ts") is not None
    assert arch.ts_units((0, None), "ts_ms") is None


def test_manifest_cache_invalidated_on_rewrite(spark, pages_pdf, tmp_path):
    """Rewriting an archive's manifests in place (recompress into the
    same out_dir) must invalidate the opened archive's manifest maps —
    stale maps would silently drop segments that now contain matches.
    Like every archive writer, the rewrite ends with a commit record."""
    from clp_spark.checkpoint import RunManifest
    from clp_spark.search.sinks import open_archive

    out = str(tmp_path / "fresh_arch")
    compress(spark, spark.createDataFrame(pages_pdf.iloc[:200]), out, CFG)
    man_dir = out + "/manifest"
    first = open_archive(spark, out).manifest
    assert first[0] is not None
    spark.createDataFrame(
        [(0, 0, 424242)], "sink_id bigint, seg_id bigint, logtype_id bigint"
    ).write.mode("overwrite").parquet(man_dir + "/logtype")
    RunManifest(out).commit("route", "route", RunManifest.new_run_id())
    second = open_archive(spark, out).manifest
    assert set(second[0][0].keys()) == {424242}


def test_glt_logtype_clustering_row_groups(spark, pages_pdf, tmp_path):
    """Sink files are clustered by logtype (GLT layout — the reference
    gets 7.8x search from this: glt.md:6-7, LogtypeTable.hpp:13-17):
    rows within each file are sorted by logtype_id, and for a selective
    logtype the row-group min/max stats exclude most row groups, which
    is exactly what the parquet reader uses to skip them."""
    import glob

    import pyarrow.parquet as pq

    cfg = PipelineConfig(
        num_sinks=2,
        num_checkpoint_buckets=1,
        shuffle_partitions=2,
        segment_window_days=60.0,
        parquet_block_size=8 * 1024,  # force several row groups per file
    )
    out = str(tmp_path / "glt_arch")
    res = compress(spark, spark.createDataFrame(pages_pdf.iloc[:20000]), out, cfg)

    files = glob.glob(res["sinks"] + "/sink_id=*/seg_id=*/*.parquet")
    assert files
    total_rgs = 0
    multi_rg_files = 0
    spans = []  # (min, max) per row group
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[
            "logtype_id"
        ]
        prev_max = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            assert st is not None and st.has_min_max
            # sorted within the file: row groups have non-overlapping,
            # non-decreasing logtype ranges
            if prev_max is not None:
                assert st.min >= prev_max, f
            prev_max = st.max
            spans.append((st.min, st.max))
            total_rgs += 1
        if md.num_row_groups > 1:
            multi_rg_files += 1
    assert multi_rg_files > 0, "block size did not force multiple row groups"

    # a selective logtype id: most row groups exclude it by min/max alone
    lt_dict = spark.read.parquet(res["dicts"] + "/logtype")
    rare = (
        lt_dict.orderBy(F.col("n_rows").asc()).select("logtype_id").first()[0]
    )
    containing = sum(1 for lo, hi in spans if lo <= rare <= hi)
    assert containing < total_rgs / 2, (containing, total_rgs)

    # correctness unchanged: a pruned search over the clustered layout
    got = {
        r["url"]
        for r in search_sinks(spark, out, "*deadbeef*").select("url").collect()
    }
    exp = _oracle(pages_pdf.iloc[:20000], "*deadbeef*")
    assert got == exp


def test_var_manifest_sorted_and_prunable(spark, compressed):
    """The var manifest (the var-dict bloom analog, BloomFilter.hpp:
    18-29) is written var_id-sorted with a parquet bloom on var_id:
    row-group min/max stats alone must exclude most row groups for a
    selective var_id — the physical property the reader's row-group
    skip (and the bloom, unreadable via pyarrow 16 metadata) relies on."""
    import glob

    import pyarrow.parquet as pq

    out, res = compressed
    files = glob.glob(res["sink_manifest"] + "/var/*.parquet")
    assert files
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[
            "var_id"
        ]
        prev = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            assert st is not None and st.has_min_max
            if prev is not None:
                assert st.min >= prev, f
            prev = st.max
            spans.append((st.min, st.max))
    # a var id present in exactly one manifest row: stats exclude most spans
    v_dict = spark.read.parquet(res["dicts"] + "/var")
    probe = v_dict.filter(F.col("value").startswith("deadbeef")).first()[
        "var_id"
    ]
    containing = sum(1 for lo, hi in spans if lo <= probe <= hi)
    assert containing <= max(1, len(spans) // 2), (containing, len(spans))


def test_null_ts_bounds_segment_survives_zone_map(spark, tmp_path):
    """A segment whose rows all have NULL timestamps gets NULL zone-map
    bounds; the driver-side compare must treat them as 'unknown' and
    keep the segment (sound degrade), not crash on None comparison."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clp_spark.search import sinks as sinks_mod

    seg_dir = tmp_path / "manifest" / "segments"
    seg_dir.mkdir(parents=True)
    import datetime as dt

    tbl = pa.table(
        {
            "sink_id": pa.array([0, 0], type=pa.int64()),
            "seg_id": pa.array([0, 1], type=pa.int64()),
            "rows": pa.array([5, 5], type=pa.int64()),
            "ts_min": pa.array(
                [dt.datetime(2024, 1, 1), None], type=pa.timestamp("us")
            ),
            "ts_max": pa.array(
                [dt.datetime(2024, 1, 2), None], type=pa.timestamp("us")
            ),
            "ts_src": pa.array(["warc_ts", "warc_ts"]),
        }
    )
    pq.write_table(tbl, str(seg_dir / "part-00000.parquet"))
    r = sinks_mod.open_archive(spark, str(tmp_path)).ts_units(
        (dt.datetime(2024, 6, 1), dt.datetime(2024, 6, 2)),
        "warc_ts",
    )
    assert r is not None
    units = set(r[0])
    # the known-range segment is pruned; the NULL-bounds one survives
    assert (0, 0) not in units and (0, 1) in units


@pytest.mark.parametrize("ignore_case", [False, True])
def test_pruning_over_fuzz_corpus(spark, compressed, pages_pdf, ignore_case):
    """Every query shape the compiler emits — `?`-splits, case flips,
    numeric pieces, cut tokens — through segment pruning and archive
    planning: the collected and distributed pruners keep the same
    units, every unit holding a raw-text hit survives, and an archive
    plan_archives drops has no hits."""
    from test_search_fuzz import _gen_queries

    from clp_spark.search import sinks as S

    out, res = compressed
    arch = open_archive(spark, out)
    idx = arch.dicts.index
    lt_man = spark.read.parquet(res["sink_manifest"] + "/logtype")
    var_man = spark.read.parquet(res["sink_manifest"] + "/var")
    unit_of = {
        r["url"]: (r["sink_id"], r["seg_id"])
        for r in spark.read.parquet(res["sinks"])
        .select("url", "sink_id", "seg_id").collect()
    }
    texts = dict(zip(pages_pdf["url"], pages_pdf["text"]))
    bad = []
    for q in _gen_queries(texts, n=30):
        cq = compile_query(q, ignore_case=ignore_case)
        units, _units_df, _cols = _surviving_units(arch, cq, None, "warc_ts")
        dist_df = S._prune_units_distributed(
            cq, idx, lt_man, var_man, ["sink_id", "seg_id"]
        )
        dist = None if dist_df is None else {
            (r["sink_id"], r["seg_id"]) for r in dist_df.collect()
        }
        if units != dist:
            bad.append((q, "collected != distributed"))
        hit_units = {
            unit_of[u]
            for u, t in texts.items()
            if wildcard_match("*" + q + "*", t, ignore_case)
        }
        if units is not None and not hit_units <= units:
            bad.append((q, "hit unit pruned", sorted(hit_units - units)[:3]))
        if not S.plan_archives(spark, [out], q, ignore_case=ignore_case):
            if search_sinks(spark, out, q, ignore_case=ignore_case).count():
                bad.append((q, "dropped archive has hits"))
    assert not bad, bad
