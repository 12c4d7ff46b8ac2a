"""Retention GC (segment expiry) — analog of the reference's archive
garbage collector (job_orchestration/garbage_collector/
archive_garbage_collector.py:36-116): zone-map-driven deletes, the
running-query floor guard, manifest rewrite, and post-GC search
exactness."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from clp_spark.config import PipelineConfig
from clp_spark.pipeline import compress
from clp_spark.route.gc import expire_segments
from clp_spark.search.sinks import search_sinks

CFG = PipelineConfig(num_sinks=8, num_checkpoint_buckets=1, shuffle_partitions=8)
QUERY = "*latency_ms=*"


@pytest.fixture()
def archive(spark, pages_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gc_archive"))
    res = compress(spark, pages_df, out, CFG)
    return out, res


def _seg_dirs(out: str) -> set[tuple[int, int]]:
    pairs = set()
    sinks = os.path.join(out, "sinks")
    for sd in os.scandir(sinks):
        if sd.name.startswith("sink_id="):
            for gd in os.scandir(sd.path):
                if gd.name.startswith("seg_id="):
                    pairs.add(
                        (int(sd.name.split("=")[1]), int(gd.name.split("=")[1]))
                    )
    return pairs


def _metrics_schema(out: str):
    import pyarrow.parquet as pq

    return pq.read_schema(
        next(
            e.path
            for e in os.scandir(os.path.join(out, "metrics"))
            if e.name.endswith(".parquet")
        )
    )


def _zone_map(spark, out: str):
    return spark.read.parquet(os.path.join(out, "manifest", "segments")).toPandas()


def test_expire_drops_old_segments_and_search_stays_exact(spark, archive):
    out, _res = archive
    zm = _zone_map(spark, out)
    cutoff = pd.Timestamp(zm["ts_max"].quantile(0.5))

    before_urls = {
        r["url"] for r in search_sinks(spark, out, QUERY).select("url").collect()
    }

    dry = expire_segments(out, cutoff, dry_run=True)
    assert dry["segments_deleted"] > 0, "cutoff at median ts_max must expire some"
    assert set(dry["expired"]) < _seg_dirs(out)
    # dry run touches nothing
    assert _seg_dirs(out) == set(
        zip(zm["sink_id"].astype(int), zm["seg_id"].astype(int))
    )

    # urls physically stored in the doomed segment dirs (read pre-delete)
    doomed = dry["expired"]
    doomed_urls, doomed_rows = set(), 0
    for sid, gid in doomed:
        d = os.path.join(out, "sinks", f"sink_id={sid}", f"seg_id={gid}")
        pdf = spark.read.parquet(d).select("url").toPandas()
        doomed_urls |= set(pdf["url"])
        doomed_rows += len(pdf)

    got = expire_segments(out, cutoff)
    assert got["expired"] == dry["expired"]
    assert got["rows_deleted"] == doomed_rows
    assert got["bytes_freed"] > 0

    # directories gone, zone map and token manifests filtered
    survivors = _seg_dirs(out)
    assert survivors.isdisjoint(set(got["expired"]))
    zm2 = _zone_map(spark, out)
    assert set(zip(zm2["sink_id"].astype(int), zm2["seg_id"].astype(int))) == survivors
    for name in ("logtype", "var"):
        man = spark.read.parquet(os.path.join(out, "manifest", name))
        pairs = {
            (r["sink_id"], r["seg_id"])
            for r in man.select("sink_id", "seg_id").distinct().collect()
        }
        assert pairs <= survivors, name

    # conservative rule: every survivor's ts_max >= cutoff
    assert (pd.to_datetime(zm2["ts_max"]) >= cutoff).all()

    # search over the GC'd archive = pre-GC results minus deleted rows
    # (exercises the mtime freshness token: the pre-GC search populated
    # the collected-manifest cache for this directory)
    after_urls = {
        r["url"] for r in search_sinks(spark, out, QUERY).select("url").collect()
    }
    assert after_urls == before_urls - doomed_urls


def test_query_floor_clamps_cutoff(spark, archive):
    out, _res = archive
    zm = _zone_map(spark, out)
    cutoff = pd.Timestamp(zm["ts_max"].max()) + pd.Timedelta(days=1)
    floor = pd.Timestamp(zm["ts_max"].quantile(0.25))
    got = expire_segments(out, cutoff, query_floor=floor, dry_run=True)
    eff = pd.Timestamp(got["effective_cutoff"])
    if eff.tzinfo is not None:
        eff = eff.tz_convert("UTC").tz_localize(None)
    assert eff == floor
    # only segments strictly older than the FLOOR are expired
    kept = zm[~zm.set_index(["sink_id", "seg_id"]).index.isin(
        pd.MultiIndex.from_tuples(got["expired"]) if got["expired"] else []
    )]
    assert (pd.to_datetime(kept["ts_max"]) >= floor).all()


def test_unit_mismatch_raises(spark, archive):
    out, _res = archive
    with pytest.raises(ValueError, match="unit mismatch"):
        expire_segments(out, 1_700_000_000_000, dry_run=True)


def test_metrics_refresh(spark, archive):
    out, _res = archive
    schema = _metrics_schema(out)
    zm = _zone_map(spark, out)
    cutoff = pd.Timestamp(zm["ts_max"].quantile(0.5))
    expire_segments(out, cutoff, spark=spark)
    # the refreshed table has exactly the schema compress() wrote
    assert _metrics_schema(out) == schema
    assert {"ts_min", "ts_max"} <= set(schema.names)
    metrics = spark.read.parquet(os.path.join(out, "metrics")).toPandas()
    surviving_rows = int(
        spark.read.parquet(os.path.join(out, "sinks")).count()
    )
    assert int(metrics["rows"].sum()) == surviving_rows
    # per-sink rows match the surviving zone map exactly
    zm2 = _zone_map(spark, out)
    by_sink = zm2.groupby("sink_id")["rows"].sum()
    got = metrics.set_index("sink_id")["rows"]
    for sid, n in by_sink.items():
        assert int(got.get(sid, 0)) == int(n)


def test_spark_var_rewrite_matches_driver_rewrite(spark, pages_df, tmp_path_factory):
    """Above the driver the var manifest rewrites via a distributed
    anti-join (the 100 TB path); it must keep exactly the same rows as
    the pyarrow path."""
    outs = []
    for _ in range(2):
        out = str(tmp_path_factory.mktemp("gc_ab"))
        compress(spark, pages_df, out, CFG)
        outs.append(out)
    zm = _zone_map(spark, outs[0])
    cutoff = pd.Timestamp(zm["ts_max"].quantile(0.5))
    expire_segments(outs[0], cutoff, spark=spark)   # spark var rewrite
    expire_segments(outs[1], cutoff)                # pyarrow var rewrite
    a = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(outs[0], "manifest", "var"))
        .collect()
    }
    b = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(outs[1], "manifest", "var"))
        .collect()
    }
    assert a == b and len(a) > 0


def test_expire_everything(spark, archive):
    out, _res = archive
    schema = _metrics_schema(out)
    zm = _zone_map(spark, out)
    cutoff = pd.Timestamp(zm["ts_max"].max()) + pd.Timedelta(days=1)
    got = expire_segments(out, cutoff, spark=spark)
    assert got["segments_deleted"] == len(zm)
    assert _metrics_schema(out) == schema
    # a zero-row schema-seed file keeps the archive readable; no data rows
    assert spark.read.parquet(os.path.join(out, "sinks")).count() == 0
    metrics = spark.read.parquet(os.path.join(out, "metrics")).toPandas()
    assert len(metrics) == 0  # zero-row, schema preserved
    assert "rows" in metrics.columns
    assert search_sinks(spark, out, QUERY).count() == 0


def test_crashed_swap_self_heals(spark, archive):
    """A GC swap that died between its two renames (manifest renamed
    aside to .gc_old, replacement never renamed in) must self-heal: the
    next search and the next expire_segments both recover the manifest
    instead of failing on the missing directory."""
    import shutil

    out, _res = archive
    before = search_sinks(spark, out, QUERY).count()
    assert before > 0

    # simulate the crash window for every manifest dir: live -> .gc_old
    for name in ("segments", "logtype", "var"):
        live = os.path.join(out, "manifest", name)
        os.rename(live, live + ".gc_old")

    # search heals the token + zone-map manifests on open
    assert search_sinks(spark, out, QUERY).count() == before
    for name in ("segments", "logtype", "var"):
        live = os.path.join(out, "manifest", name)
        assert os.path.isdir(live)
        assert not os.path.isdir(live + ".gc_old")

    # and a GC retry heals + completes when the crash hit mid-GC
    zm = _zone_map(spark, out)
    cutoff = pd.Timestamp(zm["ts_max"].quantile(0.5))
    for name in ("segments", "logtype", "var"):
        live = os.path.join(out, "manifest", name)
        os.rename(live, live + ".gc_old")
    got = expire_segments(out, cutoff)
    assert got["segments_deleted"] >= 0
    after = search_sinks(spark, out, QUERY).count()
    assert 0 < after <= before

    # _swap_dirs itself: replacement staged, live renamed aside, crash —
    # retry must prefer healing the intact old manifest back
    live = os.path.join(out, "manifest", "segments")
    repl = live + ".gc_tmp"
    shutil.copytree(live, repl)
    os.rename(live, live + ".gc_old")
    from clp_spark.route.gc import _swap_dirs

    _swap_dirs(live, repl)
    assert os.path.isdir(live)
    assert not os.path.isdir(live + ".gc_old")
    assert not os.path.isdir(repl)
