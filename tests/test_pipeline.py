"""End-to-end compress pipeline vs the single-process oracle.

Parity checks from FIXTURES.md §3: dictionary value sets + deterministic
IDs, row-level encoded equality by url, exact per-sink counts and routed-
row equality, sink metrics, extraction byte-parity, and resume
(exactly-once under partial completion).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from clp_spark.config import PipelineConfig
from clp_spark.oracle.pipeline import run_oracle
from clp_spark.parse.extract import extract_text_df
from clp_spark.pipeline import compress

CFG = PipelineConfig(num_sinks=8, num_checkpoint_buckets=3, shuffle_partitions=8)


@pytest.fixture(scope="module")
def oracle(pages_pdf):
    return run_oracle(pages_pdf, num_sinks=CFG.num_sinks)


@pytest.fixture(scope="module")
def result(spark, pages_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compress_out"))
    return compress(spark, pages_df, out, CFG)


def test_logtype_dict_parity(spark, result, oracle):
    got = {
        r["logtype"]: r["logtype_id"]
        for r in spark.read.parquet(os.path.join(result["dicts"], "logtype")).collect()
    }
    assert got == oracle.logtype_dict


def test_var_dict_parity(spark, result, oracle):
    got = {
        r["value"]: r["var_id"]
        for r in spark.read.parquet(os.path.join(result["dicts"], "var")).collect()
    }
    assert got == oracle.var_dict


def test_encoded_rows_match_by_url(spark, result, oracle):
    got = {
        r["url"]: (r["logtype_id"], list(r["encoded_vars"]), list(r["dict_var_ids"]))
        for r in spark.read.parquet(result["sinks"]).collect()
    }
    assert len(got) == len(oracle.encoded)
    for _, row in oracle.encoded.iterrows():
        g = got[row["url"]]
        assert g == (row["logtype_id"], row["encoded_vars"], row["dict_var_ids"]), row["url"]


def test_per_sink_counts_and_routing(spark, result, oracle):
    sinks = spark.read.parquet(result["sinks"])
    got_counts = {
        r["sink_id"]: r["n"]
        for r in sinks.groupBy("sink_id").agg(F.count("*").alias("n")).collect()
    }
    assert got_counts == oracle.sink_counts
    # routed-row equality: every url in exactly the oracle's sink
    got_assign = {r["url"]: r["sink_id"] for r in sinks.select("url", "sink_id").collect()}
    for _, row in oracle.encoded.iterrows():
        assert got_assign[row["url"]] == row["sink_id"]


def test_sink_metrics_exact(spark, result, oracle):
    got = (
        spark.read.parquet(result["metrics"])
        .orderBy("sink_id")
        .toPandas()
        .set_index("sink_id")
    )
    exp = oracle.sink_metrics.set_index("sink_id")
    for sid in exp.index:
        for col in ["rows", "logtype_cardinality", "n_encoded_vars", "encoded_bytes", "raw_bytes", "var_cardinality"]:
            assert int(got.loc[sid, col]) == int(exp.loc[sid, col]), (sid, col)


def test_extraction_byte_parity(spark, pages_df, pages_pdf):
    from clp_spark.fixtures.pages import extract_text_reference

    got = {
        r["url"]: r["extracted_text"]
        for r in extract_text_df(pages_df).select("url", "extracted_text").collect()
    }
    for url, html, text in zip(pages_pdf["url"], pages_pdf["html"], pages_pdf["text"]):
        assert got[url] == extract_text_reference(html) == text


def test_resume_exactly_once(spark, pages_df, oracle, tmp_path_factory):
    """Simulate a crash after a partial run; re-run must converge to the
    same exact per-sink counts as a clean run."""
    out = str(tmp_path_factory.mktemp("resume_out"))
    cfg = CFG

    # run only bucket 0's parse phase, then "crash"
    from clp_spark.checkpoint import RunManifest
    from clp_spark.parse.tokenizer import tokenize_df

    manifest = RunManifest(out)
    bucketed = pages_df.withColumn(
        "_bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.num_checkpoint_buckets))
    )
    sub = bucketed.filter(F.col("_bucket") == 0).drop("_bucket")
    tokenize_df(sub).write.mode("overwrite").parquet(os.path.join(out, "parsed", "bucket=0"))
    manifest.commit("parse", 0, "partialrun", rows_out=sub.count())

    # also leave a *partial garbage* dir for bucket 1 (no commit record)
    garbage = os.path.join(out, "parsed", "bucket=1")
    os.makedirs(garbage, exist_ok=True)
    with open(os.path.join(garbage, "junk.parquet"), "w") as f:
        f.write("not parquet")

    # resume: must overwrite the garbage, skip bucket 0, finish the rest
    result = compress(spark, pages_df, out, cfg)
    sinks = spark.read.parquet(result["sinks"])
    got_counts = {
        r["sink_id"]: r["n"]
        for r in sinks.groupBy("sink_id").agg(F.count("*").alias("n")).collect()
    }
    assert got_counts == oracle.sink_counts
    assert sinks.count() == len(oracle.encoded)
    # lineage recorded per bucket
    phases = {(r["phase"], r["bucket"]) for r in manifest.records()}
    assert ("parse", 0) in phases and ("parse", 1) in phases and ("parse", 2) in phases


def test_deterministic_across_parallelism(spark, pages_pdf, tmp_path_factory):
    """Same input at different partition counts → identical dict IDs
    (the two-cluster-size determinism contract)."""
    from clp_spark.dicts.build import build_logtype_dict, build_var_dict
    from clp_spark.parse.tokenizer import tokenize_df

    df1 = spark.createDataFrame(pages_pdf).repartition(2)
    df2 = spark.createDataFrame(pages_pdf).repartition(13)
    ids = []
    for df in (df1, df2):
        parsed = tokenize_df(df)
        lt = build_logtype_dict(parsed, num_partitions=5)
        vd = build_var_dict(parsed, num_partitions=3)
        ids.append(
            (
                {(r["logtype_id"], r["logtype"]) for r in lt.collect()},
                {(r["var_id"], r["value"]) for r in vd.collect()},
            )
        )
    assert ids[0] == ids[1]


def test_compress_with_parse_timestamps(spark, tmp_path):
    """parse_timestamps=True: the persisted pipeline splits the leading
    timestamp off every message (pattern id + epoch-ms + prefix ride to
    the sinks) and decode + prepend regenerates the original line
    byte-exactly."""
    from clp_spark.config import PipelineConfig
    from clp_spark.functions.timestamps import prepend_timestamps_df
    from clp_spark.pipeline import compress
    from clp_spark.search.decode import decode_messages

    rows = [
        (f"u{i}", f"2024-01-{(i % 5) + 1:02d} 10:00:{i % 10:02d} level msg {i}")
        for i in range(20)
    ] + [("u_none", "no leading timestamp here 7")]
    df = spark.createDataFrame(rows, "url string, text string")
    out = str(tmp_path / "ts_out")
    res = compress(
        spark, df, out,
        PipelineConfig(num_checkpoint_buckets=1, parse_timestamps=True),
    )
    sinks = spark.read.parquet(res["sinks"])
    assert "ts_ms" in sinks.columns
    assert sinks.filter("ts_ms IS NOT NULL").count() == 20
    lt = spark.read.parquet(res["dicts"] + "/logtype")
    vd = spark.read.parquet(res["dicts"] + "/var")
    dec = prepend_timestamps_df(decode_messages(sinks, lt, vd, "text"), "text")
    got = {r["url"]: r["text"] for r in dec.select("url", "text").collect()}
    assert got == dict(rows)


def test_compress_with_null_lang(spark, pages_pdf, tmp_path_factory):
    """Web corpora carry pages with no detected language: lang=NULL rows
    must route to the same sink the Spark-side pmod(xxhash64(lt, lang))
    assigns (Spark's xxhash64 skips null args), not crash the driver's
    analytic route bounds."""
    pdf = pages_pdf.copy()
    pdf.loc[pdf.index[::7], "lang"] = None  # every 7th page: no lang
    df = spark.createDataFrame(pdf).repartition(8)
    out = str(tmp_path_factory.mktemp("nulllang_out"))
    res = compress(spark, df, out, CFG)
    sinks = spark.read.parquet(res["sinks"])
    assert sinks.count() == len(pdf)
    # the routed sink must equal Spark's own hash for every row
    joined = (
        sinks.withColumn(
            "expect",
            F.pmod(F.xxhash64("logtype_id", "lang"), F.lit(CFG.num_sinks)),
        )
        .filter(F.col("sink_id") != F.col("expect"))
        .count()
    )
    assert joined == 0
    # null-lang rows are present and queryable
    assert sinks.filter(F.col("lang").isNull()).count() > 0


def test_zone_map_instants_survive_non_utc_session(spark, pages_pdf, tmp_path_factory):
    """compress() accepts any caller-built session; with
    spark.sql.session.timeZone != UTC the driver-written ts zone map
    (and metrics bounds) must still store the TRUE instants — toPandas
    renders timestamps as session-local naive wall times, which a
    tz=UTC parquet type would otherwise re-read shifted by the UTC
    offset, mis-pruning range queries near segment edges."""
    import pyarrow.dataset as ds

    tz_key = "spark.sql.session.timeZone"
    old = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/New_York")
        df = spark.createDataFrame(pages_pdf).repartition(8)
        out = str(tmp_path_factory.mktemp("tzshift_out"))
        compress(spark, df, out, CFG)
        want = df.agg(
            F.unix_micros(F.min("warc_ts")).alias("lo"),
            F.unix_micros(F.max("warc_ts")).alias("hi"),
        ).collect()[0]
        seg = (
            ds.dataset(os.path.join(out, "manifest", "segments"))
            .to_table()
            .to_pandas()
        )
        got_lo = min(t.value // 1000 for t in seg["ts_min"])
        got_hi = max(t.value // 1000 for t in seg["ts_max"])
        assert (got_lo, got_hi) == (want["lo"], want["hi"])
        met = (
            ds.dataset(os.path.join(out, "metrics")).to_table().to_pandas()
        )
        assert min(t.value // 1000 for t in met["ts_min"]) == want["lo"]
        assert max(t.value // 1000 for t in met["ts_max"]) == want["hi"]
    finally:
        spark.conf.set(tz_key, old)


def test_metrics_fallback_schema_matches_driver_path(spark, pages_pdf, tmp_path_factory):
    """A run that crashes between the route commit and the metrics
    commit resumes through the phase-4 Spark aggregation; the metrics
    table it writes must be column- and type-identical to the driver
    writer's (same ts bounds, same LongType cardinality) so strict
    readers can union metrics across runs."""
    import json as _json

    df = spark.createDataFrame(pages_pdf).repartition(4)
    out = str(tmp_path_factory.mktemp("metrics_schema_out"))
    compress(spark, df, out, CFG)
    driver_schema = spark.read.parquet(os.path.join(out, "metrics")).schema
    driver_rows = {
        r["sink_id"]: (r["rows"], r["logtype_cardinality"], r["ts_min"], r["ts_max"])
        for r in spark.read.parquet(os.path.join(out, "metrics")).collect()
    }

    # simulate the crash window: metrics dir gone, commit record erased
    shutil.rmtree(os.path.join(out, "metrics"))
    man_path = os.path.join(out, "_manifest.jsonl")
    with open(man_path) as f:
        recs = [_json.loads(line) for line in f]
    with open(man_path, "w") as f:
        for r in recs:
            if r.get("phase") != "metrics":
                f.write(_json.dumps(r) + "\n")

    compress(spark, df, out, CFG)  # resume → phase-4 fallback writer
    fb = spark.read.parquet(os.path.join(out, "metrics"))
    assert [(f.name, f.dataType.simpleString()) for f in fb.schema] == [
        (f.name, f.dataType.simpleString()) for f in driver_schema
    ]
    fb_rows = {
        r["sink_id"]: (r["rows"], r["logtype_cardinality"], r["ts_min"], r["ts_max"])
        for r in fb.collect()
    }
    assert fb_rows == driver_rows


def test_compress_zero_rows_commits_empty_metrics(spark, pages_df, tmp_path_factory):
    """A drained input still runs every phase to its commit: empty
    sinks, an empty metrics table with the usual columns."""
    out = str(tmp_path_factory.mktemp("zero_rows_out"))
    res = compress(spark, pages_df.limit(0), out, CFG)
    from clp_spark.checkpoint import RunManifest

    phases = {r["phase"] for r in RunManifest(out).records()}
    assert {"parse", "dicts", "route", "metrics"} <= phases
    met = spark.read.parquet(res["metrics"])
    assert met.count() == 0
    assert {"sink_id", "rows", "var_cardinality"} <= set(met.columns)


def _assert_resume_after_dicts_matches_clean_run(spark, df, cfg, tmp_path_factory):
    """A crash after `parse` and `dicts` committed but before `route`:
    the resume has no dictionary-pass cells, so it takes its cells from
    one aggregation over the sinked frame and its var pairs from the
    written sinks (the frame path) — the sinks, manifests and metrics
    must equal a clean run's (the cells path)."""
    import json as _json

    clean = str(tmp_path_factory.mktemp("clean_out"))
    compress(spark, df, clean, cfg)

    out = str(tmp_path_factory.mktemp("resume_route_out"))
    compress(spark, df, out, cfg)
    for sub in ("sinks", "manifest", "metrics"):
        shutil.rmtree(os.path.join(out, sub))
    man_path = os.path.join(out, "_manifest.jsonl")
    with open(man_path) as f:
        recs = [_json.loads(line) for line in f]
    with open(man_path, "w") as f:
        for r in recs:
            if r["phase"] in ("parse", "dicts"):
                f.write(_json.dumps(r) + "\n")

    compress(spark, df, out, cfg)
    _assert_same_archive(spark, out, clean)
    return clean


def _assert_same_archive(spark, a, b):
    def rows(base, sub):
        df = spark.read.parquet(os.path.join(base, sub))
        return sorted(
            tuple(str(x) for x in r) for r in df.select(*sorted(df.columns)).collect()
        )

    for sub in ("sinks", "metrics", "manifest/logtype", "manifest/segments", "manifest/var"):
        assert rows(a, sub) == rows(b, sub), sub


_RESUME_CFG = PipelineConfig(num_sinks=8, num_checkpoint_buckets=2, shuffle_partitions=8)


def test_resume_after_dicts_matches_clean_run(spark, pages_df, tmp_path_factory):
    """Cells path vs frame path on the warc_ts zone map."""
    _assert_resume_after_dicts_matches_clean_run(
        spark, pages_df, _RESUME_CFG, tmp_path_factory
    )


def test_resume_after_dicts_matches_clean_run_ts_ms(spark, pages_pdf, tmp_path_factory):
    """Cells path vs frame path when the zone map comes from the parsed
    `ts_ms` (no warc_ts column), with some lines carrying no leading
    timestamp (null ts_ms)."""
    import pyarrow.dataset as ds

    pdf = pages_pdf.head(600)
    rows = [
        (u, t if i % 9 == 0 else f"{ts:%Y-%m-%d %H:%M:%S} {t}")
        for i, (u, t, ts) in enumerate(zip(pdf["url"], pdf["text"], pdf["warc_ts"]))
    ]
    df = spark.createDataFrame(rows, "url string, text string").repartition(4)
    cfg = PipelineConfig(
        num_sinks=8, num_checkpoint_buckets=2, shuffle_partitions=8,
        parse_timestamps=True,
    )
    clean = _assert_resume_after_dicts_matches_clean_run(spark, df, cfg, tmp_path_factory)
    seg = ds.dataset(os.path.join(clean, "manifest", "segments")).to_table()
    assert set(seg.column("ts_src").to_pylist()) == {"ts_ms"}
    assert seg.column("ts_min").null_count < len(seg)


def test_resume_after_dicts_matches_clean_run_null_lang(spark, pages_pdf, tmp_path_factory):
    """Cells path vs frame path with null-lang rows: both must assign
    the sink Spark's xxhash64 gives a null lang."""
    pdf = pages_pdf.copy()
    pdf.loc[pdf.index[::5], "lang"] = None
    df = spark.createDataFrame(pdf).repartition(4)
    _assert_resume_after_dicts_matches_clean_run(spark, df, _RESUME_CFG, tmp_path_factory)


def test_fresh_compress_spark_jobs(spark, pages_df, tmp_path_factory):
    """A fresh compress() launches at most 10 Spark jobs, counted over
    every thread: the dictionary pass submits from pool threads that
    carry no job group, so the count takes the ungrouped jobs plus the
    caller's group. The shape: the parse write, one capped collect per
    dictionary aggregate, the route shuffle + write; the manifests and
    metrics come from the dictionary pass's cells with no job at all.
    The same count was 31 when each dictionary ran persist → count →
    orderBy().toPandas() and the bookkeeping re-read the written sinks
    (segment summary + distinct var pairs + a range-partitioned var
    manifest write)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    groups = {None, sc.getLocalProperty("spark.jobGroup.id")}

    def jobs() -> set:
        return {j for g in groups for j in st.getJobIdsForGroup(g)}

    pages_df.count()
    before = jobs()
    compress(spark, pages_df, str(tmp_path_factory.mktemp("jobs_out")), CFG)
    assert len(jobs() - before) <= 10


def test_template_hash_collision_takes_var_pairs_from_sinks(
    spark, pages_df, result, tmp_path_factory, monkeypatch
):
    """The var cells name their template by xxhash64; when two templates
    share a hash the dictionary pass drops the var cells and compress
    takes its var pairs from the written sinks instead — with the same
    manifests and metrics. Forced by making every template hash alike
    inside the dictionary pass only."""
    import types

    import clp_spark.dicts.build as build
    import clp_spark.pipeline as pl

    same_hash = types.SimpleNamespace(
        **{n: getattr(F, n) for n in dir(F) if not n.startswith("_")}
    )
    same_hash.xxhash64 = lambda *cols: F.lit(7).cast("long")
    monkeypatch.setattr(build, "F", same_hash)
    real_var_pairs, calls = pl.var_pairs, []
    monkeypatch.setattr(
        pl, "var_pairs", lambda df: calls.append(df) or real_var_pairs(df)
    )
    out = str(tmp_path_factory.mktemp("hash_collision_out"))
    compress(spark, pages_df, out, CFG)
    assert len(calls) == 1
    _assert_same_archive(spark, out, os.path.dirname(result["sinks"]))
