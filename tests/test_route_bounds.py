"""Analytic route boundaries (route/fanout._route_with_bounds).

The route must (a) place rows in the exact partition the driver
computed (murmur3 magic-key parity with Spark's HashPartitioning),
(b) produce identical archives/metrics whether its cells come from the
dictionary-phase ride-along counts or from route_to_sinks' own counted
cells, and (c) balance rows across shuffle partitions under the
Zipf-skewed template distribution.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clp_spark.config import PipelineConfig
from clp_spark.pipeline import compress
from clp_spark.route.fanout import magic_partition_keys, murmur3_long


def test_murmur3_long_parity(spark):
    vals = [0, 1, -1, 42, 2**31, -(2**31), 2**63 - 1, -(2**63), 123456789012345]
    df = spark.createDataFrame([(v,) for v in vals], "a long")
    rows = df.select("a", F.hash("a").alias("h")).collect()
    for r in rows:
        assert murmur3_long(r["a"]) == r["h"], r["a"]


@pytest.mark.parametrize("p", [8, 32, 200])
def test_magic_keys_land_in_exact_partitions(spark, p):
    magic = magic_partition_keys(p)
    assert len(set(magic)) == p
    df = spark.createDataFrame([(m, i) for i, m in enumerate(magic)], "m long, want int")
    got = (
        df.repartition(p, F.col("m"))
        .withColumn("pid", F.spark_partition_id())
        .collect()
    )
    for r in got:
        assert r["pid"] == r["want"]


@pytest.fixture(scope="module")
def ride_along_and_counted_outputs(spark, pages_df, tmp_path_factory):
    """Same compress run with the dict-phase ride-along cell counts and
    (forced) with the counted cells route_to_sinks aggregates itself."""
    import clp_spark.pipeline as pl

    cfg = PipelineConfig(num_sinks=8, num_checkpoint_buckets=1, shuffle_partitions=8)
    out_a = str(tmp_path_factory.mktemp("route_bounds"))
    compress(spark, pages_df, out_a, cfg)

    out_b = str(tmp_path_factory.mktemp("route_counted_cells"))
    saved = pl._MAX_BOUNDS_CELLS
    pl._MAX_BOUNDS_CELLS = 0  # driver-side constant: forces bounds=None
    try:
        compress(spark, pages_df, out_b, cfg)
    finally:
        pl._MAX_BOUNDS_CELLS = saved
    return out_a, out_b


def _collect_sorted(spark, path):
    df = spark.read.parquet(path)
    cols = [c for c in df.columns]
    return sorted(
        tuple(str(x) for x in r) for r in df.select(*sorted(cols)).collect()
    )


def test_ride_along_cells_match_counted_cells(spark, ride_along_and_counted_outputs):
    out_a, out_b = ride_along_and_counted_outputs
    for sub in ("sinks", "metrics", "manifest/logtype", "manifest/segments", "manifest/var"):
        a = _collect_sorted(spark, os.path.join(out_a, sub))
        b = _collect_sorted(spark, os.path.join(out_b, sub))
        assert a == b, f"{sub} differs between ride-along and counted cells"


def test_bounds_path_has_no_helper_columns(spark, ride_along_and_counted_outputs):
    out_a, _ = ride_along_and_counted_outputs
    cols = spark.read.parquet(os.path.join(out_a, "sinks")).columns
    assert not [c for c in cols if c.startswith("_")], cols


def test_bounds_partitions_balanced(spark, pages_df):
    """Zipf-hot templates must spread: no shuffle partition may exceed
    2x the mean row count (the analytic route guarantees this via exact
    counts + hash splitting of hot cells)."""
    from clp_spark.dicts.build import build_dicts_small_pandas, encode_with_maps
    from clp_spark.pipeline import _sink_cells
    from clp_spark.route.fanout import (
        _route_with_bounds,  # noqa: F401 (exercised through route_to_sinks)
        add_seg_id,
        add_sink_id,
        bounds_from_cells,
        magic_partition_keys,
        segment_expr,
    )

    cfg = PipelineConfig(num_sinks=8, shuffle_partitions=8)
    parsed = None
    from clp_spark.parse.tokenizer import tokenize_df

    parsed = tokenize_df(pages_df, text_col="text", passthrough=["url", "warc_ts", "lang"])
    extras = [("lang", F.col("lang"))]
    seg_col, _ = segment_expr(parsed, cfg.num_segments, cfg.segment_window_days)
    extras.append(("_seg", seg_col))
    lt_pdf, v_pdf, lt_map, v_map, dict_cells = build_dicts_small_pandas(
        parsed, 1_000_000, route_count_cols=extras
    )
    sink_cells = _sink_cells(dict_cells, cfg.num_sinks)
    assert sink_cells is not None
    bounds_pdf, total = bounds_from_cells(sink_cells[0])
    assert total == pages_df.count()

    enc = add_seg_id(
        add_sink_id(encode_with_maps(parsed, lt_map, v_map), cfg.num_sinks),
        cfg.num_segments,
        window_days=cfg.segment_window_days,
    )
    p_n = cfg.shuffle_partitions
    rpp = max(1, -(-total // p_n))
    b_sdf = spark.createDataFrame(bounds_pdf)
    u01 = (F.xxhash64("url").cast("double") / F.lit(float(2**64))) + F.lit(0.5)
    pos = F.col("_cum_before") + u01 * F.col("_cell_rows")
    pid = F.least(F.lit(p_n - 1), F.floor(pos / F.lit(float(rpp)))).cast("int")
    magic = magic_partition_keys(p_n)
    sizes = (
        enc.join(F.broadcast(b_sdf), ["sink_id", "seg_id", "logtype_id"], "left")
        .withColumn("_magic", F.element_at(F.array(*[F.lit(m) for m in magic]).cast("array<long>"), pid + F.lit(1)))
        .repartition(p_n, F.col("_magic"))
        .withColumn("part", F.spark_partition_id())
        .groupBy("part")
        .count()
        .collect()
    )
    counts_by_part = [r["count"] for r in sizes]
    mean = total / p_n
    assert max(counts_by_part) <= 2 * mean, counts_by_part


def test_route_writes_one_wave(spark, pages_df, tmp_path):
    """The route shuffle is one wave of write tasks:
    min(shuffle_partitions, default parallelism). Each task covers a
    contiguous (sink, seg) range, so the files number at most
    (#(sink, seg) directories) + P - 1, not one per directory per
    configured partition."""
    from clp_spark.pipeline import compress_df
    from clp_spark.route.fanout import route_to_sinks

    p = spark.sparkContext.defaultParallelism
    cfg = PipelineConfig(num_sinks=8, shuffle_partitions=32)
    assert p < cfg.shuffle_partitions
    enc, _, _ = compress_df(pages_df, cfg)
    out = str(tmp_path / "sinks")
    route_to_sinks(enc, out, cfg)
    dirs, files = set(), 0
    for root, _dirs, names in os.walk(out):
        n = sum(1 for f in names if f.endswith(".parquet"))
        if n:
            dirs.add(root)
            files += n
    assert files <= len(dirs) + p - 1, (files, len(dirs), p)
    assert spark.read.parquet(out).count() == pages_df.count()
