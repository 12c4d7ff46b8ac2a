"""Above-_MAX_DRIVER_DICT_ROWS search must keep dictionary pushdown.

When the dictionaries are too large to collect, ArchiveDicts.index is a
_SparkDictIndex that answers candidate-set queries with distributed
dict-frame filters (SURVEY §2.3's `var_dict.filter(value rlike ...)`
shape; reference streams dicts, DictionaryReader.hpp:241-290). These
tests force a tiny cap and assert (a) results are identical to the
driver-index path, (b) the plan still contains the dict-driven
predicates — i.e. stages 2–3 did NOT degrade to decode-everything —
and (c) segment-manifest pruning still works through the Spark index.
"""

from __future__ import annotations

import datetime as dt

import pytest

from clp_spark.config import PipelineConfig
from clp_spark.pipeline import compress_df
from clp_spark.search import search
from clp_spark.search.executor import (
    ArchiveDicts,
    _DictIndex,
    _SparkDictIndex,
)
from clp_spark.search.wildcard import wildcard_match


@pytest.fixture(scope="module")
def corpus(spark, pages_pdf, pages_df):
    encoded, lt_dict, v_dict = compress_df(pages_df, PipelineConfig())
    encoded = encoded.persist()
    lt_dict = lt_dict.persist()
    v_dict = v_dict.persist()
    encoded.count()
    return encoded, lt_dict, v_dict


@pytest.fixture()
def tiny_dict_cap(monkeypatch):
    from clp_spark.search import executor, sinks

    monkeypatch.setattr(executor, "_MAX_DRIVER_DICT_ROWS", 3)
    # fresh handles: archives opened under the tiny cap stay in this test
    monkeypatch.setattr(sinks, "_HANDLES", sinks.LruCache(maxsize=sinks._HANDLES.maxsize))


def _oracle_urls(pages_pdf, query, ignore_case=False):
    pat = "*" + query + "*"
    return {
        u
        for u, t in zip(pages_pdf["url"], pages_pdf["text"])
        if wildcard_match(pat, t, ignore_case)
    }


def test_load_index_returns_spark_index_above_cap(corpus, tiny_dict_cap):
    _encoded, lt_dict, v_dict = corpus
    idx = ArchiveDicts(lt_dict, v_dict).index
    assert isinstance(idx, _SparkDictIndex)


def test_load_index_driver_below_cap(corpus):
    _encoded, lt_dict, v_dict = corpus
    assert isinstance(ArchiveDicts(lt_dict, v_dict).index, _DictIndex)


@pytest.mark.parametrize(
    "query",
    ["user=alice", "*latency_ms=*", " 500 ", "request handled",
     "no_such_token_zzz=qqq77xyz"],
)
def test_spark_index_parity(corpus, pages_pdf, tiny_dict_cap, query):
    encoded, lt_dict, v_dict = corpus
    got = {
        r["url"]
        for r in search(encoded, lt_dict, v_dict, query).select("url").collect()
    }
    assert got == _oracle_urls(pages_pdf, query), query


def test_spark_index_plan_keeps_dict_pushdown(corpus, tiny_dict_cap):
    encoded, lt_dict, v_dict = corpus
    pre = search(encoded, lt_dict, v_dict, "user=alice", decode=False)
    plan = pre._jdf.queryExecution().optimizedPlan().toString()
    # the dictvar candidate set must constrain the scan
    assert "dict_var_ids" in plan
    # and the prefilter must actually be selective (not the full table)
    assert pre.count() < encoded.count()


def test_spark_index_candidate_sets_match_driver(corpus):
    """Every candidate-set query answers identically through both
    index engines (the memoized driver matcher is the semantics)."""
    _encoded, lt_dict, v_dict = corpus
    drv = ArchiveDicts(lt_dict, v_dict).index
    assert isinstance(drv, _DictIndex)
    sp = _SparkDictIndex(lt_dict, v_dict)
    from clp_spark.config import PLACEHOLDER_FLOAT, PLACEHOLDER_INT

    for pat in ("user=*", "*alice*", "heartbeat*"):
        assert sp.logtype_ids(pat, False) == drv.logtype_ids(pat, False), pat
    for txt in ("alice", "deadbeef", "zz_missing_zz"):
        assert sp.var_ids_exact(txt, False) == drv.var_ids_exact(txt, False)
        assert sp.var_ids_exact(txt.upper(), True) == drv.var_ids_exact(
            txt.upper(), True
        )
    assert sp.var_ids("dead*", False) == drv.var_ids("dead*", False)
    for ph in (PLACEHOLDER_INT, PLACEHOLDER_FLOAT):
        assert sp.lt_with_placeholder(ph) == drv.lt_with_placeholder(ph)


def test_sink_pruning_through_spark_index(spark, pages_df, tmp_path,
                                          tiny_dict_cap):
    """search_sinks keeps its segment pruning + results when the dict
    index is the distributed one."""
    from clp_spark.pipeline import compress
    from clp_spark.search.sinks import search_sinks

    out = str(tmp_path / "arch")
    compress(spark, pages_df, out, PipelineConfig(num_checkpoint_buckets=1))
    got = {
        r["url"]
        for r in search_sinks(spark, out, "user=alice").select("url").collect()
    }
    # un-forced twin: same archive searched through the driver index
    from clp_spark.search import executor, sinks

    executor._MAX_DRIVER_DICT_ROWS = 2_000_000  # monkeypatch restores 3→real
    sinks._HANDLES.clear()
    want = {
        r["url"]
        for r in search_sinks(spark, out, "user=alice").select("url").collect()
    }
    assert got == want and len(got) > 0
