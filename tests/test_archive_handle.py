"""Opened-archive handles (search/sinks.py open_archive) stay fresh.

Every writer that mutates an archive appends a commit record, so a
session that keeps searching sees each mutation without clearing any
cache by hand; a warm query plans without launching a Spark job. The
clp_s JsonArchive load cache is keyed on the save id every save writes
last, not on mtimes."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest

from clp_spark.config import PipelineConfig
from clp_spark.fixtures.pages import generate_pages_pdf
from clp_spark.pipeline import compress
from clp_spark.route.gc import expire_segments
from clp_spark.search.sinks import search_sinks
from clp_spark.search.wildcard import wildcard_match

CFG = PipelineConfig(num_sinks=8, num_checkpoint_buckets=1, shuffle_partitions=8)


def _urls(df) -> set:
    return {r["url"] for r in df.select("url").collect()}


def _oracle(pdf, query: str) -> set:
    pat = "*" + query + "*"
    return {u for u, t in zip(pdf["url"], pdf["text"]) if wildcard_match(pat, t)}


def _force_mtimes(root: str, ns: int) -> None:
    """Give every file and directory under root the same mtime, as a
    coarse-mtime filesystem would after two quick rewrites."""
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            os.utime(os.path.join(dirpath, name), ns=(ns, ns))
    os.utime(root, ns=(ns, ns))


def test_warm_search_plans_without_spark_jobs(spark, pages_df, tmp_path):
    out = str(tmp_path / "arch")
    compress(spark, pages_df, out, CFG)
    q = "*latency_ms=*"
    first = search_sinks(spark, out, q).count()

    sc = spark.sparkContext
    sc.setJobGroup("warm-plan", "second search_sinks planning")
    try:
        df = search_sinks(spark, out, q)
    finally:
        sc.setJobGroup("warm-plan-done", "")
    assert sc.statusTracker().getJobIdsForGroup("warm-plan") == []
    assert df.count() == first > 0


def test_archive_dicts_collect_each_dictionary_once(spark, pages_df, tmp_path):
    """The dictionary index and the decode broadcasts of a fresh
    ArchiveDicts come from one collect of each dictionary: 2 Spark jobs
    for both, not 2 each."""
    from clp_spark.search.decode import parse_template
    from clp_spark.search.executor import ArchiveDicts, _DictIndex, _SparkDictIndex

    out = str(tmp_path / "arch")
    compress(spark, pages_df, out, CFG)
    lt_df = spark.read.parquet(os.path.join(out, "dicts", "logtype"))
    v_df = spark.read.parquet(os.path.join(out, "dicts", "var"))
    dicts = ArchiveDicts(lt_df, v_df)
    sc = spark.sparkContext
    sc.setJobGroup("dict-collect", "index + decoder of a fresh ArchiveDicts")
    try:
        idx, (b_tpl, b_var, lt_small) = dicts.index, dicts.decoder
    finally:
        sc.setJobGroup("dict-collect-done", "")
    assert len(sc.statusTracker().getJobIdsForGroup("dict-collect")) == 2
    assert isinstance(idx, _DictIndex) and lt_small
    # the broadcasts hold the same dictionaries: parsed templates by
    # logtype_id, and var values at their var_id
    assert b_tpl.value == {i: parse_template(t) for i, t in idx.lt_rows}
    var_text = b_var.value.to_pylist()
    assert all(var_text[i] == v for i, v in idx.var_rows)
    assert len(var_text) == len(idx.var_rows)

    # only the var dictionary over the cap: distributed index, join
    # decode with the logtype dictionary still broadcast (lt_small)
    n_lt = len(idx.lt_rows)
    assert len(idx.var_rows) > n_lt
    split = ArchiveDicts(lt_df, v_df, driver_dict_cap=n_lt)
    assert isinstance(split.index, _SparkDictIndex)
    assert split.decoder == (None, None, True)


def test_expire_then_search_sees_shrunken_archive(spark, pages_df, tmp_path):
    out = str(tmp_path / "arch")
    compress(spark, pages_df, out, CFG)
    q = "*latency_ms=*"
    before = _urls(search_sinks(spark, out, q))
    seg = pd.read_parquet(os.path.join(out, "manifest", "segments"))
    got = expire_segments(out, pd.Timestamp(seg["ts_max"].quantile(0.5)))
    assert got["segments_deleted"] > 0

    after = _urls(search_sinks(spark, out, q))
    left = _urls(spark.read.parquet(os.path.join(out, "sinks")))
    assert after == before & left
    assert 0 < len(after) < len(before)


def test_recompress_same_dir_with_equal_mtimes(spark, pages_pdf, tmp_path):
    out = str(tmp_path / "arch")
    first, second = pages_pdf.iloc[:1500], pages_pdf.iloc[1500:]
    q = "*deadbeef*"
    compress(spark, spark.createDataFrame(first), out, CFG)
    _force_mtimes(out, 1_700_000_000 * 10**9)
    assert _urls(search_sinks(spark, out, q)) == _oracle(first, q)

    shutil.rmtree(out)
    compress(spark, spark.createDataFrame(second), out, CFG)
    _force_mtimes(out, 1_700_000_000 * 10**9)
    want = _oracle(second, q)
    assert want and _urls(search_sinks(spark, out, q)) == want


def test_new_stream_epoch_shows_up_in_next_search(spark, tmp_path):
    from clp_spark.streaming.ingest import stream_compress

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    q = "user=alice"
    chunks = [generate_pages_pdf(0, 300), generate_pages_pdf(300, 600)]
    want = _oracle(pd.concat(chunks), q)

    def stream(i):
        spark.createDataFrame(chunks[i], schema).coalesce(1).write.parquet(
            os.path.join(src, f"chunk{i}")
        )
        stream_compress(
            spark, src + "/*", out, schema, PipelineConfig(num_sinks=4)
        ).awaitTermination(120)

    for i in range(len(chunks)):
        stream(i)
        seen = _oracle(pd.concat(chunks[: i + 1]), q)
        assert seen and _urls(search_sinks(spark, out, q)) == seen

    # the stream checkpoint lives in the archive: deleting both and
    # re-streaming the same chunks repeats the same epoch ids and row
    # counts, into part files with new names
    shutil.rmtree(out)
    shutil.rmtree(src)
    for i in range(len(chunks)):
        stream(i)
    assert _urls(search_sinks(spark, out, q)) == want


def test_gc_crash_after_deletes_then_search(spark, pages_df, tmp_path, monkeypatch):
    import clp_spark.route.gc as gc

    out = str(tmp_path / "arch")
    compress(spark, pages_df, out, CFG)
    q = "*latency_ms=*"
    before = _urls(search_sinks(spark, out, q))

    def crash(*_a, **_k):
        raise RuntimeError("GC died before its manifest swap")

    # segment dirs are deleted, the manifests are never rewritten and no
    # closing commit record is written
    monkeypatch.setattr(gc, "_rewrite_filtered", crash)
    seg = pd.read_parquet(os.path.join(out, "manifest", "segments"))
    with pytest.raises(RuntimeError, match="manifest swap"):
        expire_segments(out, pd.Timestamp(seg["ts_max"].quantile(0.5)))

    after = _urls(search_sinks(spark, out, q))
    left = _urls(spark.read.parquet(os.path.join(out, "sinks")))
    assert after == before & left
    assert 0 < len(after) < len(before)


def test_json_archive_resave_with_equal_mtimes_reloads(spark, tmp_path):
    from clp_spark.clps import encode_json_df
    from clp_spark.clps.index import load_surviving_archives

    d = str(tmp_path / "jarch")
    cache: dict = {}

    def save(docs):
        df = spark.createDataFrame(
            [(i, json.dumps(doc)) for i, doc in enumerate(docs)], "id long, j string"
        )
        encode_json_df(df, "j", passthrough=["id"]).save(d)
        _force_mtimes(d, 1_700_000_000 * 10**9)

    def load_count():
        _dirs, archs = load_surviving_archives(spark, [d], cache=cache)
        return archs[0].encoded.count()

    save([{"svc": "a"}])
    assert load_count() == 1
    save([{"svc": "b"}, {"svc": "c"}, {"svc": "d"}])
    assert load_count() == 3
    assert load_count() == 3 and len(cache) == 1

