"""Retention garbage collection over routed sink archives.

Segment-granular analog of the reference's archive garbage collector
(job_orchestration/garbage_collector/archive_garbage_collector.py:
36-116): delete data older than a retention cutoff, guarded so data a
running query may still need is kept. The reference sweeps whole
archives by their end_timestamp metadata row and clamps the sweep
boundary to the oldest timestamp any active search still holds; here
the unit is the (sink_id, seg_id) segment directory and the metadata is
the segments zone map — a segment expires only when its ts_max lies
STRICTLY before the effective cutoff, so any segment overlapping the
cutoff survives (the same conservative rule).

Spark-first shape: the zone map is CLP-small (one row per segment), so
expiry is a driver-side scan of the manifest followed by directory
deletes — zero data rows are read to decide. The token manifests
(logtype, var) and the zone map itself are rewritten filtered to
surviving segments. A `gc_begin` commit record is appended to the
archive's `_manifest.jsonl` before the first delete and a `gc` record
after the manifest swap. Each changes the commit token the search layer
keys its opened archive handles on (search/sinks.py open_archive), so a
session that GCs and re-queries sees the shrunken archive without
restarts, even when the GC run died between its deletes and its swap.

With a session, the per-sink metrics table is then rewritten from the
surviving sinks by compress()'s own metrics code: the frame path's
cells and var pairs (route.fanout.cell_stats, var_pairs) into the
metrics half of pipeline._write_bookkeeping, so GC has no aggregation
of its own and the refreshed table keeps the compress schema,
`ts_min`/`ts_max` included.
"""

from __future__ import annotations

import os
import shutil
import time

from clp_spark.checkpoint import RunManifest

__all__ = ["expire_segments"]

_SEG_MANIFESTS = ("segments", "logtype", "var")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _rewrite_filtered(man_dir: str, keep_mask_fn) -> None:
    """Rewrite a manifest parquet directory keeping only rows whose
    (sink_id, seg_id) survive. Row order is preserved, so the var
    manifest stays var_id-sorted and its row-group min/max stats keep
    pruning (the parquet bloom is not re-emitted — pyarrow cannot write
    blooms; the next compress() rebuilds it, and the sorted min/max
    stats are the primary skip mechanism either way)."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    dataset = ds.dataset(man_dir, format="parquet")
    tbl = dataset.to_table()
    keep = keep_mask_fn(tbl)
    filtered = tbl.filter(keep)
    # crash-safe swap: the replacement is fully written under a temp
    # name first, then exchanged with two directory renames — at no
    # point is the archive left without a manifest
    tmp = man_dir + ".gc_tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    pq.write_table(
        filtered, os.path.join(tmp, "part-00000.parquet"),
        compression="zstd",
    )
    _swap_dirs(man_dir, tmp)


def _rewrite_filtered_spark(spark, man_dir: str, dead: set) -> None:
    """Distributed manifest rewrite: anti-join against the (tiny) dead
    (sink_id, seg_id) set, preserve the var_id range-partitioned sort
    and its parquet bloom (the pruning layout of
    pipeline.write_var_manifest)."""
    import pyspark.sql.functions as F

    df = spark.read.parquet(man_dir)
    dead_df = spark.createDataFrame(
        sorted(dead), "sink_id long, seg_id long"
    )
    kept = df.join(
        F.broadcast(dead_df), ["sink_id", "seg_id"], "left_anti"
    )
    sort_col = "var_id" if "var_id" in df.columns else df.columns[-1]
    tmp = man_dir + ".gc_tmp"
    (
        kept.repartitionByRange(sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .option(f"parquet.bloom.filter.enabled#{sort_col}", "true")
        .parquet(tmp)
    )
    _swap_dirs(man_dir, tmp)


def _swap_dirs(live: str, replacement: str) -> None:
    """Exchange a fully-written replacement directory into the live
    path: old renames aside, new renames in, old deletes last — a crash
    between any two steps leaves either the old or the new manifest in
    place (never neither; the .gc_old leftover is swept on retry)."""
    old = live + ".gc_old"
    if os.path.isdir(old):
        if not os.path.isdir(live):
            # a previous swap died between its two renames: the old
            # manifest is still intact aside — heal it back before
            # swapping, so the "never neither" contract holds across
            # a crash at the worst instant (the reader path in
            # _heal_dir does the same on open)
            os.rename(old, live)
        else:
            shutil.rmtree(old)
    os.rename(live, old)
    os.rename(replacement, live)
    shutil.rmtree(old)


def _heal_dir(live: str) -> str:
    """Reader-side self-heal: if a GC swap crashed between renames the
    manifest lives at <live>.gc_old; rename it back so opens succeed.
    Returns `live` for call-through convenience."""
    if not os.path.isdir(live):
        old = live + ".gc_old"
        if os.path.isdir(old):
            os.rename(old, live)
    return live


def expire_segments(
    out_dir: str,
    cutoff,
    *,
    query_floor=None,
    dry_run: bool = False,
    spark=None,
) -> dict:
    """Expire every segment whose zone-map ts_max < effective cutoff.

    cutoff: retention boundary in the archive's zone-map unit — a
        datetime for warc_ts-mapped archives, an int epoch-ms for
        ts_ms-mapped ones (the unit the manifest's ts_src column was
        built from; mixing units raises, mirroring the search layer's
        ts_src guard).
    query_floor: oldest timestamp any in-flight query may still read
        (the reference's running-query min-ts guard). The effective
        cutoff is min(cutoff, query_floor).
    dry_run: report what WOULD be deleted without touching disk.
    spark: optional SparkSession; when given, per-sink metrics are
        recomputed from the surviving sink data by compress()'s own
        metrics writer (same schema, plus a `metrics` commit record).
        Without it the ingest-time metrics file is left as-is (like the
        reference, whose compression stats describe the archive at
        creation).

    Returns {"expired": [(sink_id, seg_id), ...], "segments_deleted",
    "rows_deleted", "bytes_freed", "effective_cutoff", "dry_run"}.
    """
    import pyarrow.dataset as ds

    seg_dir = _heal_dir(os.path.join(out_dir, "manifest", "segments"))
    if not os.path.isdir(seg_dir):
        raise FileNotFoundError(f"no segments manifest at {seg_dir}")
    seg = ds.dataset(seg_dir, format="parquet").to_table().to_pandas()
    if "ts_max" not in seg.columns:
        raise ValueError(
            "archive has no timestamp zone map (compressed without a ts "
            "column) — time-based retention cannot apply"
        )

    import pandas as pd

    ts_max = seg["ts_max"]
    is_dt_map = pd.api.types.is_datetime64_any_dtype(ts_max)
    # validate BOTH bounds against the zone-map unit (and hence each
    # other) BEFORE min() — a mixed-unit query_floor must raise the
    # unit-mismatch ValueError, not a raw datetime-vs-int TypeError
    for label, bound in (("cutoff", cutoff), ("query_floor", query_floor)):
        if bound is None:
            continue
        is_dt = isinstance(bound, pd.Timestamp) or hasattr(bound, "tzinfo")
        if is_dt_map != is_dt:
            src = (
                seg["ts_src"].iloc[0]
                if "ts_src" in seg.columns and len(seg)
                else "?"
            )
            raise ValueError(
                f"{label} unit mismatch: zone map was built from {src!r} "
                f"({'datetime' if is_dt_map else 'epoch-int'}), {label} is "
                f"{'datetime' if is_dt else 'epoch-int'}"
            )
    if is_dt_map:
        # Spark writes parquet timestamps as UTC instants; pyarrow reads
        # them back tz-aware while Spark's own toPandas yields naive UTC.
        # Accept either flavor of bound and align it to the map's dtype
        # (each bound independently, so min() never compares naive with
        # aware).
        tz = getattr(ts_max.dtype, "tz", None)

        def _align(b):
            b = pd.Timestamp(b)
            if tz is not None and b.tzinfo is None:
                return b.tz_localize("UTC")
            if tz is None and b.tzinfo is not None:
                return b.tz_convert("UTC").tz_localize(None)
            return b

        cutoff = _align(cutoff)
        if query_floor is not None:
            query_floor = _align(query_floor)
    eff = cutoff
    if query_floor is not None:
        eff = min(cutoff, query_floor)

    expired_mask = ts_max.notna() & (ts_max < eff)
    expired = seg.loc[expired_mask, ["sink_id", "seg_id", "rows"]]
    pairs = [(int(r.sink_id), int(r.seg_id)) for r in expired.itertuples()]
    result = {
        "expired": pairs,
        "segments_deleted": len(pairs),
        "rows_deleted": int(expired["rows"].sum()) if len(pairs) else 0,
        "bytes_freed": 0,
        "effective_cutoff": eff,
        "dry_run": dry_run,
    }
    if not pairs:
        return result

    sinks_dir = os.path.join(out_dir, "sinks")
    # expiring EVERYTHING would leave no parquet for readers to infer a
    # schema from — capture one doomed file's (partition-column-free)
    # schema first and re-seed a zero-row file after the deletes, so a
    # fully-GC'd archive still searches (to zero rows) without errors
    total_wipe = len(pairs) == len(seg) and not dry_run
    empty_schema = None
    if total_wipe and pairs:
        import pyarrow.parquet as pq

        sid0, gid0 = pairs[0]
        d0 = os.path.join(sinks_dir, f"sink_id={sid0}", f"seg_id={gid0}")
        for root, _dirs, files in os.walk(d0):
            for f in files:
                if f.endswith(".parquet"):
                    empty_schema = pq.read_schema(os.path.join(root, f))
                    break
            if empty_schema is not None:
                break
    run_id = RunManifest.new_run_id()
    if not dry_run:
        # committed before the first delete, so a handle opened earlier
        # is re-opened (and re-lists sinks/) even if GC dies mid-sweep
        RunManifest(out_dir).commit("gc_begin", "gc", run_id)
    freed = 0
    for sid, gid in pairs:
        d = os.path.join(sinks_dir, f"sink_id={sid}", f"seg_id={gid}")
        if os.path.isdir(d):
            freed += _dir_bytes(d)
            if not dry_run:
                shutil.rmtree(d)
    result["bytes_freed"] = freed
    if dry_run:
        return result
    if empty_schema is not None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        sid0, gid0 = pairs[0]
        d0 = os.path.join(sinks_dir, f"sink_id={sid0}", f"seg_id={gid0}")
        os.makedirs(d0, exist_ok=True)
        pq.write_table(
            empty_schema.empty_table()
            if hasattr(empty_schema, "empty_table")
            else pa.Table.from_arrays(
                [pa.array([], t.type) for t in empty_schema],
                schema=empty_schema,
            ),
            os.path.join(d0, "part-empty.parquet"),
            compression="zstd",
        )

    dead = set(pairs)

    def _keep(tbl):
        sink = tbl.column("sink_id").to_pylist()
        segi = tbl.column("seg_id").to_pylist()
        return [(s, g) not in dead for s, g in zip(sink, segi)]

    for name in _SEG_MANIFESTS:
        man = _heal_dir(os.path.join(out_dir, "manifest", name))
        if not os.path.isdir(man):
            continue
        # segments + logtype manifests are CLP-small by design (driver-
        # written at compress time); the VAR manifest is the one that can
        # outgrow the driver at 100 TB (same reason search has the
        # semi-join fallback, sinks._prune_units_distributed) — rewrite
        # it with a distributed filter when a session is available
        if name == "var" and spark is not None:
            _rewrite_filtered_spark(spark, man, dead)
        else:
            _rewrite_filtered(man, _keep)
    RunManifest(out_dir).commit("gc", "gc", run_id, segments_deleted=len(pairs))

    if spark is not None:
        _refresh_metrics(spark, out_dir, run_id)
    return result


def _refresh_metrics(spark, out_dir: str, run_id: str) -> None:
    """Recompute per-sink metrics from the surviving sink data with
    compress()'s own metrics code — the path a metrics-only resume of
    compress() takes: one cell aggregation + the distinct var pairs over
    the sinks, into the driver-side writer, then a `metrics` commit
    record. A GC'd archive's metrics therefore keep exactly the
    compress schema, and a fully expired archive gets the zero-row
    table."""
    import pyspark.sql.functions as F

    from clp_spark.config import PipelineConfig
    from clp_spark.pipeline import _write_bookkeeping
    from clp_spark.route.fanout import cell_stats, var_pairs, zone_map_field

    if not os.path.isdir(os.path.join(out_dir, "metrics")):
        return
    t0 = time.time()
    enc = spark.read.parquet(os.path.join(out_dir, "sinks"))
    # partition-column inference types sink_id/seg_id int32; compress()
    # reads with the explicit encoded schema (bigint)
    for pcol in ("sink_id", "seg_id"):
        if pcol in enc.columns:
            enc = enc.withColumn(pcol, F.col(pcol).cast("long"))
    _write_bookkeeping(
        out_dir, cell_stats(enc), var_pairs(enc), zone_map_field(enc.schema),
        PipelineConfig().driver_dict_cap, RunManifest(out_dir), run_id, t0,
        need_route=False, need_metrics=True,
    )
