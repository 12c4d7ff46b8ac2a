"""The driver-side (small) and distributed dictionary builds must
produce identical value-sorted-rank dictionaries — the fast path is an
optimization, never a semantic fork."""

from __future__ import annotations

from clp_spark.config import PipelineConfig
from clp_spark.dicts.build import build_logtype_dict, build_var_dict
from clp_spark.parse.tokenizer import tokenize_df
from clp_spark.pipeline import _build_dicts


def _driver_dicts(parsed):
    """(lt_df, v_df, lt_map, v_map) from compress's driver-map path."""
    lt_df, v_df, lt_map, v_map, _ = _build_dicts(parsed, PipelineConfig())
    assert lt_map is not None
    return lt_df, v_df, lt_map, v_map


def test_small_and_distributed_dicts_identical(spark, pages_df):
    parsed = tokenize_df(pages_df).persist()

    lt_df, v_df, lt_map, v_map = _driver_dicts(parsed)
    lt_dist = build_logtype_dict(parsed, num_partitions=5)
    v_dist = build_var_dict(parsed, num_partitions=5)

    got_lt = {
        (r["logtype_id"], r["logtype"], r["num_vars"], r["n_rows"])
        for r in lt_df.collect()
    }
    want_lt = {
        (r["logtype_id"], r["logtype"], r["num_vars"], r["n_rows"])
        for r in lt_dist.collect()
    }
    assert got_lt == want_lt

    got_v = {(r["var_id"], r["value"]) for r in v_df.collect()}
    want_v = {(r["var_id"], r["value"]) for r in v_dist.collect()}
    assert got_v == want_v

    # maps agree with the DataFrames
    assert lt_map == {r["logtype"]: r["logtype_id"] for r in lt_df.collect()}
    assert v_map == {r["value"]: r["var_id"] for r in v_df.collect()}
    parsed.unpersist()


def test_encode_paths_identical(spark, pages_df):
    """Broadcast-map encode and explode/join/regroup encode must produce
    row-identical results — the join path is the 10^12-scale route."""
    from clp_spark.dicts.build import encode_with_dicts, encode_with_maps

    parsed = tokenize_df(pages_df).persist()
    lt_df, v_df, lt_map, v_map = _driver_dicts(parsed)
    a = encode_with_maps(parsed, lt_map, v_map)
    # broadcast_threshold=0 forces the join path
    b = encode_with_dicts(parsed, lt_df, v_df, broadcast_threshold=0)
    rows_a = {
        r["url"]: (r["logtype_id"], tuple(r["encoded_vars"]), tuple(r["dict_var_ids"]))
        for r in a.collect()
    }
    rows_b = {
        r["url"]: (r["logtype_id"], tuple(r["encoded_vars"]), tuple(r["dict_var_ids"]))
        for r in b.collect()
    }
    assert rows_a == rows_b
    parsed.unpersist()


def test_encode_arrow_matches_pandas_engine(spark, pages_df):
    """The vectorized Arrow encode kernel must be row-identical to the
    row-at-a-time pandas reference engine (same contract as the
    tokenizer's engine parity)."""
    from clp_spark.dicts.build import encode_with_maps, encode_with_maps_pandas

    parsed = tokenize_df(pages_df).persist()
    lt_df, v_df, lt_map, v_map = _driver_dicts(parsed)
    a = encode_with_maps(parsed, lt_map, v_map)
    b = encode_with_maps_pandas(parsed, lt_map, v_map)
    assert a.schema == b.schema
    key = lambda r: (
        r["url"],
        r["logtype_id"],
        tuple(r["encoded_vars"]),
        tuple(r["dict_var_ids"]),
    )
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))
    parsed.unpersist()


def test_encode_arrow_empty_and_all_dict_rows(spark):
    """Edge shapes: rows with zero vars, rows whose vars are ALL
    dict-typed, and an empty frame."""
    import pandas as pd

    from clp_spark.dicts.build import encode_with_maps
    from clp_spark.parse.tokenizer import tokenize_df

    pdf = pd.DataFrame(
        {
            "url": ["u0", "u1", "u2"],
            "text": [
                "plain static message no vars",
                "alpha beta-7x gamma9z",
                "",
            ],
        }
    )
    pages = spark.createDataFrame(pdf)
    parsed = tokenize_df(pages, passthrough=["url"]).persist()
    lt_df, v_df, lt_map, v_map = _driver_dicts(parsed)
    rows = {
        r["url"]: (tuple(r["encoded_vars"]), tuple(r["dict_var_ids"]))
        for r in encode_with_maps(parsed, lt_map, v_map).collect()
    }
    assert rows["u0"] == ((), ())
    assert len(rows["u1"][1]) >= 1  # dict vars present and patched
    assert all(v in v_map.values() for v in rows["u1"][1])
    empty = encode_with_maps(parsed.limit(0), lt_map, v_map)
    assert empty.count() == 0
    parsed.unpersist()


def test_pipeline_distributed_dict_path(spark, pages_df, tmp_path):
    """compress with driver_dict_cap=0 (pure distributed path) produces
    the same sinks + metrics as the default driver path."""
    from clp_spark.config import PipelineConfig
    from clp_spark.pipeline import compress

    cfg_a = PipelineConfig(num_checkpoint_buckets=1)
    cfg_b = PipelineConfig(num_checkpoint_buckets=1, driver_dict_cap=0)
    res_a = compress(spark, pages_df, str(tmp_path / "a"), cfg_a)
    res_b = compress(spark, pages_df, str(tmp_path / "b"), cfg_b)
    ma = [tuple(r) for r in spark.read.parquet(res_a["metrics"]).orderBy("sink_id").collect()]
    mb = [tuple(r) for r in spark.read.parquet(res_b["metrics"]).orderBy("sink_id").collect()]
    assert ma == mb


def test_dump_dictionaries_readable(spark, tmp_path):
    """make-dictionaries-readable analog: placeholders render as
    \\i/\\f/\\d, escaped placeholder bytes stay literal, segment index
    lists sink/segment occurrences."""
    from clp_spark.config import (
        PLACEHOLDER_DICT,
        PLACEHOLDER_ESCAPE,
        PLACEHOLDER_FLOAT,
        PLACEHOLDER_INT,
    )
    from clp_spark.dicts.readable import dump_dictionaries, logtype_to_readable
    from clp_spark.fixtures.pages import generate_pages_pdf
    from clp_spark.pipeline import compress
    from clp_spark.config import PipelineConfig

    lt = f"took {PLACEHOLDER_INT} ms at {PLACEHOLDER_FLOAT} from {PLACEHOLDER_DICT}"
    assert logtype_to_readable(lt) == "took \\i ms at \\f from \\d"
    esc = f"glob {PLACEHOLDER_ESCAPE}{PLACEHOLDER_INT} x"
    assert logtype_to_readable(esc) == f"glob {PLACEHOLDER_INT} x"

    out = str(tmp_path / "arch")
    pages = spark.createDataFrame(generate_pages_pdf(0, 300))
    compress(spark, pages, out, PipelineConfig(num_checkpoint_buckets=1))
    hr = str(tmp_path / "hr")
    stats = dump_dictionaries(spark, out, hr)
    assert stats["logtypes"] > 0 and stats["vars"] > 0
    lines = open(hr + "/logtype.dict.hr").read().splitlines()
    assert len(lines) == stats["logtypes"]
    assert any("\\i" in ln or "\\d" in ln or "\\f" in ln for ln in lines)
    seg_lines = open(hr + "/logtype.segindex.hr").read().splitlines()
    assert len(seg_lines) > 0 and "/" in seg_lines[0]
