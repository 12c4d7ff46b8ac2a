"""End-to-end compress job: pages → parse → dicts → encode → route → metrics.

Spark shape (SURVEY.md §3.1): one logical job —
  read pages → mapInArrow(tokenize)                     [narrow, no shuffle]
  → build logtype/var dicts (2 distinct aggs + stable-ID rank)
  → encode (broadcast-map Arrow pass / dictionary join)  [no shuffle]
  → fan-out to per-sink parquet partitions (1 analytic range shuffle)
  → per-segment summary → manifests + metrics table (driver-written)

Checkpointing: the parse phase commits per url-hash bucket; dict/encode/
route phases commit as whole phases (their inputs are the committed
parse outputs, and dictionary IDs are deterministic, so a re-run
reproduces identical sinks — exactly-once counts under retry).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from clp_spark.checkpoint import RunManifest
from clp_spark.config import PipelineConfig
from clp_spark.dicts.build import (
    LOGTYPE_DICT_ARROW_SCHEMA,
    VAR_DICT_ARROW_SCHEMA,
    build_dicts_small_pandas,
    build_logtype_dict,
    build_var_dict,
    encode_with_dicts,
    encode_with_maps,
    write_dict_parquet,
)
from clp_spark.parse.tokenizer import tokenize_df
from clp_spark.util import spread
from clp_spark.route.fanout import (
    add_seg_id,
    add_sink_id,
    bounds_from_cells,
    route_to_sinks,
    segment_expr,
    segment_summary,
)

# above this many (logtype, lang, window) cells the driver-side bounds
# construction (a Python xxhash64 per cell) stops being free; route_to_sinks
# then counts the (sink, seg, logtype) cells itself with one aggregation
_MAX_BOUNDS_CELLS = 100_000


def _route_bounds(counts_pdf, lt_map: dict, num_sinks: int):
    """Exact analytic range-partition boundaries for the route shuffle.

    Input: the per-(logtype[, lang], window) row counts that rode along
    with the dictionary aggregation. Output: (bounds_pdf, total_rows)
    where bounds_pdf has one row per (sink_id, seg_id, logtype_id) cell
    with its cumulative start position in the (sink, seg, logtype)-
    sorted global row order — what RangePartitioner would have derived
    from a sample, but exact, deterministic, and with zero extra passes
    over the data. sink_id is computed driver-side with the Spark-parity
    xxhash64 oracle (the same pmod(xxhash64(logtype_id, lang), K) the
    rows get in add_sink_id)."""
    from clp_spark.oracle.xxhash import pmod, spark_xxhash64

    if counts_pdf is None or len(counts_pdf) > _MAX_BOUNDS_CELLS:
        return None
    import pandas as pd

    lt_ids = counts_pdf["logtype"].map(lt_map)
    if "lang" in counts_pdf.columns:
        sink = [
            pmod(spark_xxhash64(int(lt), s), num_sinks)
            for lt, s in zip(lt_ids, counts_pdf["lang"])
        ]
    else:
        sink = [pmod(spark_xxhash64(int(lt)), num_sinks) for lt in lt_ids]
    cells = pd.DataFrame(
        {
            "sink_id": pd.array(sink, dtype="int64"),
            "seg_id": counts_pdf["_seg"].astype("int64"),
            "logtype_id": lt_ids.astype("int64"),
            "n": counts_pdf["n_rows"].astype("int64"),
        }
    )
    return bounds_from_cells(cells)


def _pa_type(dt):
    """pyarrow type matching what Spark's own parquet writer would emit
    for this Spark SQL type — driver-written bookkeeping files must read
    back with the same schema the old executor-written files had."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.TimestampNTZType):
        return pa.timestamp("us")
    raise TypeError(f"unmapped Spark type {dt}")


def _write_driver_parquet(dirpath: str, cols: dict, types: dict) -> None:
    """Column-dict front-end over util.write_driver_table (the shared
    driver-side single-file parquet writer)."""
    import pandas as _pd
    import pyarrow as pa

    from clp_spark.util import write_driver_table

    arrays = [
        v
        if isinstance(v, pa.Array)
        else (
            # from_pandas maps NaN/pd.NA → parquet null (plain pa.array
            # rejects pd.NA and would store NaN-poisoned floats)
            pa.Array.from_pandas(v, type=types[name])
            if isinstance(v, _pd.Series)
            else pa.array(v, type=types[name])
        )
        for name, v in cols.items()
    ]
    tbl = pa.Table.from_arrays(
        arrays, schema=pa.schema([(n, types[n]) for n in cols])
    )
    write_driver_table(tbl, dirpath)


def _write_summary_derived(
    summary_pdf, summary_fields, seg_cols, out_dir: str
) -> None:
    """Logtype manifest + ts zone map, derived driver-side from the
    collected segment summary (a (sink, seg)-grouped frame — CLP-small
    by the same design bound as the dictionaries). The manifest rows are
    sorted by logtype_id so parquet row-group min/max stats prune
    id-probing queries just like the old range-partitioned Spark write."""
    import numpy as np
    import pyarrow as pa

    n = len(summary_pdf)
    if n:
        lens = summary_pdf["lt_set"].map(len).to_numpy(dtype=np.int64)
        sink_r = np.repeat(summary_pdf["sink_id"].to_numpy(np.int64), lens)
        seg_r = np.repeat(summary_pdf["seg_id"].to_numpy(np.int64), lens)
        lt_r = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in summary_pdf["lt_set"]]
        ) if lens.sum() else np.array([], dtype=np.int64)
        order = np.argsort(lt_r, kind="stable")
        sink_r, seg_r, lt_r = sink_r[order], seg_r[order], lt_r[order]
    else:
        sink_r = seg_r = lt_r = np.array([], dtype=np.int64)
    _write_driver_parquet(
        os.path.join(out_dir, "manifest", "logtype"),
        {"sink_id": sink_r, "seg_id": seg_r, "logtype_id": lt_r},
        {"sink_id": pa.int64(), "seg_id": pa.int64(), "logtype_id": pa.int64()},
    )

    seg_out_cols = ["sink_id", "seg_id", "rows", *seg_cols]
    _write_driver_parquet(
        os.path.join(out_dir, "manifest", "segments"),
        {c: summary_pdf[c] if n else [] for c in seg_out_cols},
        {c: _pa_type(summary_fields[c]) for c in seg_out_cols},
    )


def _write_metrics_driver(
    summary_pdf, vcard_pdf, summary_fields, ts_cols, metrics_dir: str
) -> None:
    """The one per-sink metrics writer: aggregated driver-side from the
    segment summary (rows/cardinality/byte sums over a tiny frame) + the
    var-cardinality counts from the distinct (sink, var) aggregation."""
    import pandas as pd
    import pyarrow as pa

    vc = {
        int(r["sink_id"]): int(r["var_cardinality"])
        for _, r in vcard_pdf.iterrows()
    }
    recs = []
    for sid, g in summary_pdf.groupby("sink_id", sort=True):
        lt_all = set()
        for a in g["lt_set"]:
            lt_all.update(int(x) for x in a)
        rec = {
            "sink_id": int(sid),
            "rows": int(g["rows"].sum()),
            "logtype_cardinality": len(lt_all),
            "n_encoded_vars": int(g["n_encoded_vars"].sum()),
            "encoded_bytes": int(g["encoded_bytes"].sum()),
            "raw_bytes": int(g["raw_bytes"].sum()),
        }
        for c, fn in zip(ts_cols, ("min", "max")):
            rec[c] = getattr(g[c], fn)()
        rec["var_cardinality"] = vc.get(int(sid), 0)
        recs.append(rec)
    out_cols = [
        "sink_id", "rows", "logtype_cardinality", "n_encoded_vars",
        "encoded_bytes", "raw_bytes", *ts_cols, "var_cardinality",
    ]
    mdf = pd.DataFrame(recs, columns=out_cols)
    types = {
        "sink_id": pa.int64(),
        "rows": pa.int64(),
        # LongType, as Spark's countDistinct would emit: strict readers
        # union metrics tables across runs and across gc refreshes
        "logtype_cardinality": pa.int64(),
        "n_encoded_vars": pa.int64(),
        "encoded_bytes": pa.int64(),
        "raw_bytes": pa.int64(),
        "var_cardinality": pa.int64(),
        **{c: _pa_type(summary_fields[c]) for c in ts_cols},
    }
    _write_driver_parquet(
        metrics_dir, {c: mdf[c] for c in out_cols}, types
    )


def write_var_manifest(var_man, path: str) -> None:
    """var-dict bloom analog (clp_s/filter/BloomFilter.hpp:18-29): the
    manifest is the var-side index searched with `var_id IN (...)` —
    range-partitioning + sorting by var_id gives each file/row group a
    tight disjoint id range (stats prune) and the parquet bloom catches
    the residue, so a dict-var-selective query touches few manifest
    files even above the driver-collect cap.
    test_var_manifest_pruning asserts the layout actually bites."""
    var_man.repartitionByRange("var_id").sortWithinPartitions(
        "var_id"
    ).write.mode("overwrite").option(
        "parquet.bloom.filter.enabled#var_id", "true"
    ).parquet(path)


def _parse_phase(
    pages: DataFrame,
    cfg: PipelineConfig,
    text_col: str,
    passthrough: list[str] | None,
) -> DataFrame:
    """Parse stage: optionally split off the leading timestamp
    (TimestampPattern.cpp / MessageParser.cpp:95+ analog — pattern id,
    epoch-ms, and prefix ride with the row; the tokenizer then sees only
    the message body), then tokenize. Both maps are narrow — no
    shuffle."""
    if not cfg.parse_timestamps:
        return tokenize_df(spread(pages), text_col=text_col, passthrough=passthrough)
    from clp_spark.functions.timestamps import extract_timestamp_df

    keep = (
        list(passthrough)
        if passthrough is not None
        else [c for c in ("url", "warc_ts", "lang") if c in pages.columns]
    )
    with_ts = extract_timestamp_df(spread(pages), text_col=text_col, keep=keep)
    return tokenize_df(
        with_ts,
        text_col="rest",
        passthrough=keep + ["ts_pattern_id", "ts_ms", "ts_prefix", "ts_tz"],
    )


def _build_dicts(
    parsed: DataFrame,
    cfg: PipelineConfig,
    dicts_dir: str | None = None,
    route_count_cols: list | None = None,
) -> tuple:
    """The one dictionary choice: driver maps when both dictionaries fit
    `cfg.driver_dict_cap` (one aggregation each, value-sorted on the
    driver), else the fully distributed range-ranked build. Both give
    the same value-sorted-rank IDs.

    Returns (logtype_dict, var_dict, logtype_map, var_map, route_counts).
    The maps and the route counts (see build_dicts_small_pandas) are None
    on the distributed path. With `dicts_dir` the dictionaries are
    written there and the frames returned are the read-back tables."""
    spark = parsed.sparkSession
    small = build_dicts_small_pandas(
        parsed, cfg.driver_dict_cap, route_count_cols=route_count_cols
    )
    if small is not None:
        lt_pdf, v_pdf, lt_map, v_map, route_counts = small
        if dicts_dir is None:
            lt_dict = spark.createDataFrame(
                lt_pdf, "logtype_id long, logtype string, num_vars int, n_rows long"
            )
            v_dict = spark.createDataFrame(v_pdf, "var_id long, value string")
        else:
            write_dict_parquet(
                lt_pdf,
                os.path.join(dicts_dir, "logtype"),
                LOGTYPE_DICT_ARROW_SCHEMA,
                cfg.compression_codec,
            )
            write_dict_parquet(
                v_pdf,
                os.path.join(dicts_dir, "var"),
                VAR_DICT_ARROW_SCHEMA,
                cfg.compression_codec,
            )
    else:
        lt_map = v_map = route_counts = None
        lt_dict = build_logtype_dict(parsed, cfg.dict_id_partitions)
        v_dict = build_var_dict(parsed, cfg.dict_id_partitions)
        if dicts_dir is not None:
            lt_dict.write.mode("overwrite").parquet(os.path.join(dicts_dir, "logtype"))
            v_dict.write.mode("overwrite").parquet(os.path.join(dicts_dir, "var"))
    if dicts_dir is not None:
        lt_dict = spark.read.parquet(os.path.join(dicts_dir, "logtype"))
        v_dict = spark.read.parquet(os.path.join(dicts_dir, "var"))
    return lt_dict, v_dict, lt_map, v_map, route_counts


def _encode(
    parsed: DataFrame,
    lt_dict: DataFrame,
    v_dict: DataFrame,
    lt_map: dict | None,
    v_map: dict | None,
    cfg: PipelineConfig,
) -> DataFrame:
    """Broadcast-map Arrow encode when the driver maps exist, else the
    dictionary-join encode."""
    if lt_map is not None:
        return encode_with_maps(parsed, lt_map, v_map)
    return encode_with_dicts(parsed, lt_dict, v_dict, cfg.driver_dict_cap)


def _compress_parsed(
    parsed: DataFrame,
    cfg: PipelineConfig,
    sink_cols: tuple = ("logtype_id", "lang"),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The in-memory tail of the compress dataflow over an already-parsed
    frame: dictionaries, encode, sink id. Returns (encoded_with_sink,
    logtype_dict, var_dict). Every in-memory front-end (compress_df, the
    schema parser's schema_compress_df) shares it."""
    parsed = parsed.persist()
    lt_dict, v_dict, lt_map, v_map, _ = _build_dicts(parsed, cfg)
    encoded = _encode(parsed, lt_dict, v_dict, lt_map, v_map, cfg)
    return add_sink_id(encoded, cfg.num_sinks, cols=sink_cols), lt_dict, v_dict


def compress_df(
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    text_col: str = "text",
    passthrough: list[str] | None = None,
    sink_cols: tuple = ("logtype_id", "lang"),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """In-memory compress: (encoded_with_sink, logtype_dict, var_dict).

    Same dataflow as `compress` minus checkpointing/persisted sinks —
    for search pipelines, tests, and the driver entry queries where the
    corpus is read, encoded, queried, and discarded in one job.
    """
    cfg = cfg or PipelineConfig()
    return _compress_parsed(
        _parse_phase(pages, cfg, text_col, passthrough), cfg, sink_cols
    )


def compress(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
) -> dict:
    """Run (or resume) the full compress pipeline. Returns paths + stats."""
    cfg = cfg or PipelineConfig()
    manifest = RunManifest(out_dir)
    run_id = RunManifest.new_run_id()

    parsed_dir = os.path.join(out_dir, "parsed")
    sinks_dir = os.path.join(out_dir, "sinks")
    dicts_dir = os.path.join(out_dir, "dicts")
    metrics_dir = os.path.join(out_dir, "metrics")

    # schemas pinned up front so empty buckets / empty inputs read back fine
    parsed_schema = _parse_phase(pages.limit(0), cfg, "text", None).schema

    # ---- phase 1: parse (bucket-checkpointed, ONE input pass) ----
    # All uncommitted buckets are written in a single scan via
    # partitionBy + dynamic partition overwrite (committed bucket dirs
    # are untouched; uncommitted garbage from a crashed run is
    # overwritten). Bucket commits are recorded only after the write
    # succeeds, so a mid-write crash re-runs exactly the uncommitted set.
    done = manifest.committed("parse")
    todo = [b for b in range(cfg.num_checkpoint_buckets) if b not in done]
    if todo:
        t0 = time.time()
        bucketed = spread(pages).withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.num_checkpoint_buckets))
        )
        if len(todo) < cfg.num_checkpoint_buckets:
            bucketed = bucketed.filter(F.col("bucket").isin(todo))
        passthrough = [
            c for c in ("url", "warc_ts", "lang") if c in pages.columns
        ] + ["bucket"]
        parsed = _parse_phase(bucketed, cfg, "text", passthrough)
        # per-bucket row counts ride along with the write as observed
        # metrics — no second scan of the written output (the read-back
        # count job was a fixed serial cost charged to every cluster size)
        from pyspark.sql import Observation

        obs = Observation(f"parse_counts_{run_id}")
        parsed = parsed.observe(
            obs, *[F.count_if(F.col("bucket") == b).alias(f"b{b}") for b in todo]
        )
        (
            parsed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", cfg.compression_codec)
            # the parsed dir is an INTERMEDIATE: written once, re-read by
            # the dict + encode phases, then superseded by the sinks.
            # zstd level 1 (vs parquet's default 3) cuts the compression
            # CPU of the biggest write in the job for a few % more bytes
            # on a short-lived artifact; the sink files keep default 3.
            .option("parquet.compression.codec.zstd.level", "1")
            .partitionBy("bucket")
            .parquet(parsed_dir)
        )
        wall_ms = int(1000 * (time.time() - t0))
        counts = obs.get
        for b in todo:
            manifest.commit(
                "parse", b, run_id, rows_out=int(counts.get(f"b{b}", 0)), wall_ms=wall_ms
            )

    parsed_all = spark.read.schema(parsed_schema).parquet(parsed_dir)

    # ---- phase 2: dictionaries (deterministic IDs at any parallelism) ----
    # the routing counts (exact per-(logtype, lang, window) rows for the
    # analytic route boundaries) ride along with the logtype aggregation
    # — same scan, slightly wider group key
    lt_map = v_map = route_counts = None
    if "dicts" not in manifest.committed("dicts"):
        t0 = time.time()
        extras = []
        if "lang" in parsed_all.columns:
            extras.append(("lang", F.col("lang")))
        seg_col, _ = segment_expr(
            parsed_all, cfg.num_segments, cfg.segment_window_days
        )
        extras.append(("_seg", seg_col))
        lt_dict, v_dict, lt_map, v_map, route_counts = _build_dicts(
            parsed_all, cfg, dicts_dir, route_count_cols=extras
        )
        manifest.commit(
            "dicts",
            "dicts",
            run_id,
            logtype_cardinality=len(lt_map) if lt_map is not None else lt_dict.count(),
            var_cardinality=len(v_map) if v_map is not None else v_dict.count(),
            wall_ms=int(1000 * (time.time() - t0)),
        )
    else:
        lt_dict = spark.read.parquet(os.path.join(dicts_dir, "logtype"))
        v_dict = spark.read.parquet(os.path.join(dicts_dir, "var"))

    # ---- phase 3: encode + route (one analytic range shuffle) ----
    need_route = "route" not in manifest.committed("route")
    t0 = time.time()
    if need_route:
        if lt_map is None and (
            # resume path: reload dictionaries as driver maps only when
            # BOTH fit (a large logtype dict must not be collected just
            # because the var dict happens to be small)
            v_dict.count() <= cfg.driver_dict_cap
            and lt_dict.count() <= cfg.driver_dict_cap
        ):
            lt_map = {r["logtype"]: r["logtype_id"] for r in lt_dict.collect()}
            v_map = {r["value"]: r["var_id"] for r in v_dict.collect()}
        enc_sinked = add_seg_id(
            add_sink_id(
                _encode(parsed_all, lt_dict, v_dict, lt_map, v_map, cfg),
                cfg.num_sinks,
            ),
            cfg.num_segments,
            window_days=cfg.segment_window_days,
        )
        encoded_schema = enc_sinked.schema
        # the dict-phase ride-along counts give the route its cells; on
        # resume after `dicts`, above the cap, or past _MAX_BOUNDS_CELLS
        # route_to_sinks counts them from the sinked frame instead
        bounds = _route_bounds(route_counts, lt_map, cfg.num_sinks)
        route_to_sinks(enc_sinked, sinks_dir, cfg, presinked=True, bounds=bounds)
    else:
        encoded_schema = add_seg_id(
            add_sink_id(
                encode_with_dicts(
                    parsed_all.limit(0), lt_dict.limit(0), v_dict.limit(0)
                ),
                cfg.num_sinks,
            ),
            cfg.num_segments,
        ).schema

    encoded_sinks = spark.read.schema(encoded_schema).parquet(sinks_dir)

    # ---- bookkeeping: manifests (route phase) + metrics ----
    need_metrics = "metrics" not in manifest.committed("metrics")
    if need_route or need_metrics:
        _write_bookkeeping(
            encoded_sinks, out_dir, manifest, run_id, t0, need_route, need_metrics
        )

    return {
        "run_id": run_id,
        "parsed": parsed_dir,
        "dicts": dicts_dir,
        "sinks": sinks_dir,
        "metrics": metrics_dir,
        "sink_manifest": os.path.join(out_dir, "manifest"),
        "manifest": manifest.path,
    }


def _write_bookkeeping(
    sinks: DataFrame,
    out_dir: str,
    manifest: RunManifest,
    run_id: str,
    t0: float,
    need_route: bool,
    need_metrics: bool,
) -> None:
    """Manifests (commits `route`) and/or the metrics table (commits
    `metrics`) from a column-pruned read of the WRITTEN sinks; both
    commits record their wall time from `t0`, the start of phase 3.
    The metrics half alone is also the GC metrics refresh
    (route/gc.py _refresh_metrics).

    Only TWO distributed aggregations run: the segment summary (one
    (sink, seg)-grouped pass — CLP-small by design, like the
    dictionaries) and the distinct (sink, seg, var) pairs. Everything
    the summary derives — logtype manifest, ts zone map, per-sink
    metrics — is written DRIVER-SIDE with pyarrow: each of those used to
    be its own multi-stage Spark write job, and those fixed scheduling
    seconds are charged to every cluster size."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    summary = segment_summary(sinks)
    ts_cols = [c for c in ("ts_min", "ts_max") if c in summary.columns]
    seg_cols = ts_cols + (["ts_src"] if "ts_src" in summary.columns else [])
    summary_fields = {f.name: f.dataType for f in summary.schema.fields}
    # TimestampType bounds are collected as epoch MICROS, not as
    # datetimes: toPandas renders timestamps in the session's
    # spark.sql.session.timeZone as naive wall times, and the
    # pyarrow writer's timestamp("us", tz="UTC") would re-read
    # those wall times as UTC — shifting the zone map by the UTC
    # offset on any non-UTC session and mis-pruning range queries.
    # Integer micros are timezone-free; pa.array interprets them
    # as epoch values under the declared tz=UTC type, which is
    # exactly the instant Spark stores internally.
    micros_cols = [
        c for c in ts_cols if isinstance(summary_fields[c], T.TimestampType)
    ]
    for c in micros_cols:
        summary = summary.withColumn(c, F.unix_micros(F.col(c)))

    var_pairs = sinks.select(
        "sink_id", "seg_id", F.explode("dict_var_ids").alias("var_id")
    )
    var_man = var_pairs.distinct().persist() if need_route else var_pairs

    def _w_varcard():
        return (
            var_man.select("sink_id", "var_id")
            .distinct()
            .groupBy("sink_id")
            .agg(F.count("*").alias("var_cardinality"))
            .toPandas()
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_sum = pool.submit(summary.toPandas)
        f_var = (
            pool.submit(
                write_var_manifest, var_man, os.path.join(out_dir, "manifest", "var")
            )
            if need_route
            else None
        )
        f_vcard = pool.submit(_w_varcard) if need_metrics else None
        summary_pdf = f_sum.result()
        for c in micros_cols:
            # nullable Int64: an all-null-ts segment must round-trip
            # as parquet null, not poison the column to float64
            summary_pdf[c] = summary_pdf[c].astype("Int64")
        if need_route:
            _write_summary_derived(summary_pdf, summary_fields, seg_cols, out_dir)
            f_var.result()
            manifest.commit(
                "route", "route", run_id, wall_ms=int(1000 * (time.time() - t0))
            )
        if need_metrics:
            _write_metrics_driver(
                summary_pdf,
                f_vcard.result(),
                summary_fields,
                ts_cols,
                os.path.join(out_dir, "metrics"),
            )
            manifest.commit(
                "metrics", "metrics", run_id, wall_ms=int(1000 * (time.time() - t0))
            )
    if need_route:
        var_man.unpersist()
