"""End-to-end compress job: pages → parse → dicts → encode → route → metrics.

Spark shape (SURVEY.md §3.1):
  read pages → mapInArrow(tokenize) → parsed/           [narrow, no shuffle]
  → 2 aggregations over parsed/, one capped collect each: the archive's
    exact (logtype, lang, window) cells and their distinct dictionary
    vars; both dictionaries are sorted and ID'd on the driver
  → encode (broadcast-map Arrow pass)                    [no shuffle]
  → fan-out to per-sink parquet partitions (1 analytic range shuffle,
    one wave of write tasks)
  → manifests + metrics table, written on the driver from the same
    cells — like CLP's archive writer, nothing written is read back.
Runs without those cells (resume after `dicts`, dictionaries above
`driver_dict_cap`, the GC metrics refresh) take the same tables from
one aggregation over a frame (route.fanout.cell_stats, var_pairs).

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
from clp_spark.util import collect_capped, spread
from clp_spark.route.fanout import (
    add_seg_id,
    add_sink_id,
    bounds_from_cells,
    cell_stats,
    route_to_sinks,
    segment_expr,
    var_pairs,
    zone_map_field,
)

# above this many (logtype, lang, window) cells the driver-side sink
# assignment (a Python xxhash64 per distinct (logtype, lang)) stops
# being free; compress then takes its cells from one aggregation over
# the sinked frame (route.fanout.cell_stats)
_MAX_BOUNDS_CELLS = 100_000


def _sink_cells(dict_cells, num_sinks: int):
    """The dictionary pass's cells (build_dicts_small_pandas) keyed as
    the archive is laid out: (cells, var_pairs) — one row per (sink_id,
    seg_id, logtype_id) with rows, n_encoded_vars, raw_bytes [, ts_min,
    ts_max], and the distinct (sink_id, seg_id, var_id) (None when the
    var cells were not collected). None without cells or past
    _MAX_BOUNDS_CELLS. sink_id is the Spark-parity oracle's
    pmod(xxhash64(logtype_id, lang), K), once per distinct
    (logtype_id, lang) — what add_sink_id gives the rows."""
    from clp_spark.oracle.xxhash import pmod, spark_xxhash64

    if dict_cells is None or len(dict_cells[0]) > _MAX_BOUNDS_CELLS:
        return None
    cells, var_cells = dict_cells
    key = ["logtype_id"] + (["lang"] if "lang" in cells.columns else [])
    sinks = cells[key].drop_duplicates()
    sinks["sink_id"] = [
        pmod(spark_xxhash64(int(lt), *lang), num_sinks)
        for lt, *lang in sinks.itertuples(index=False)
    ]
    cells = cells.merge(sinks, on=key).rename(
        columns={"_seg": "seg_id", "n_rows": "rows", "n_vars": "n_encoded_vars"}
    )
    how = {
        "rows": "sum", "n_encoded_vars": "sum", "raw_bytes": "sum",
        "ts_min": "min", "ts_max": "max",
    }
    cells = (
        cells.groupby(["sink_id", "seg_id", "logtype_id"], sort=True)
        .agg({c: f for c, f in how.items() if c in cells.columns})
        .reset_index()
    )
    if var_cells is not None:
        var_cells = (
            var_cells.merge(sinks, on=key)
            .rename(columns={"_seg": "seg_id"})[["sink_id", "seg_id", "var_id"]]
            .drop_duplicates()
        )
    return cells, var_cells


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

    Returns (logtype_dict, var_dict, logtype_map, var_map, cells).
    The maps and the cells (see build_dicts_small_pandas) are None on
    the distributed path. With `dicts_dir` the dictionaries are
    written there and the frames returned are the read-back tables."""
    spark = parsed.sparkSession
    small = build_dicts_small_pandas(
        parsed, cfg.driver_dict_cap, route_count_cols=route_count_cols
    )
    if small is not None:
        lt_pdf, v_pdf, lt_map, v_map, cells = small
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
        lt_map = v_map = cells = None
        lt_dict = build_logtype_dict(parsed, cfg.dict_id_partitions)
        v_dict = build_var_dict(parsed, cfg.dict_id_partitions)
        if dicts_dir is not None:
            lt_dict.write.mode("overwrite").parquet(os.path.join(dicts_dir, "logtype"))
            v_dict.write.mode("overwrite").parquet(os.path.join(dicts_dir, "var"))
    if dicts_dir is not None:
        lt_dict = spark.read.parquet(os.path.join(dicts_dir, "logtype"))
        v_dict = spark.read.parquet(os.path.join(dicts_dir, "var"))
    return lt_dict, v_dict, lt_map, v_map, cells


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
    # the archive's exact cells (per (logtype, lang, window): rows, var
    # counts, raw bytes, ts bounds, and the distinct dictionary vars)
    # ride along with the two dictionary aggregations — same scans,
    # slightly wider group keys. They feed the analytic route bounds and
    # every bookkeeping table, so the written sinks are never re-read.
    lt_map = v_map = cells = pairs = None
    if "dicts" not in manifest.committed("dicts"):
        t0 = time.time()
        extras = []
        if "lang" in parsed_all.columns:
            extras.append(("lang", F.col("lang")))
        seg_col, _ = segment_expr(
            parsed_all, cfg.num_segments, cfg.segment_window_days
        )
        extras.append(("_seg", seg_col))
        lt_dict, v_dict, lt_map, v_map, dict_cells = _build_dicts(
            parsed_all, cfg, dicts_dir, route_count_cols=extras
        )
        cells, pairs = _sink_cells(dict_cells, cfg.num_sinks) or (None, None)
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
        if lt_map is None:
            # resume path: reload dictionaries as driver maps only when
            # BOTH fit (a large var dict is not collected when the
            # logtype dict is already over)
            lt_pdf = collect_capped(lt_dict, cfg.driver_dict_cap)
            v_pdf = (
                None
                if lt_pdf is None
                else collect_capped(v_dict, cfg.driver_dict_cap)
            )
            if v_pdf is not None:
                lt_map = dict(zip(lt_pdf["logtype"], lt_pdf["logtype_id"]))
                v_map = dict(zip(v_pdf["value"], v_pdf["var_id"]))
        enc_sinked = add_seg_id(
            add_sink_id(
                _encode(parsed_all, lt_dict, v_dict, lt_map, v_map, cfg),
                cfg.num_sinks,
            ),
            cfg.num_segments,
            window_days=cfg.segment_window_days,
        )
        encoded_schema = enc_sinked.schema
        if cells is None:
            # no dictionary-pass cells (resume after `dicts`, above the
            # cap, past _MAX_BOUNDS_CELLS): one aggregation over the
            # sinked frame gives the same cells
            cells = cell_stats(enc_sinked)
        route_to_sinks(
            enc_sinked, sinks_dir, cfg, presinked=True, bounds=bounds_from_cells(cells)
        )
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

    # ---- bookkeeping: manifests (route phase) + metrics ----
    need_metrics = "metrics" not in manifest.committed("metrics")
    if need_route or need_metrics:
        if cells is None or pairs is None:
            sinks = spark.read.schema(encoded_schema).parquet(sinks_dir)
            if cells is None:
                cells = cell_stats(sinks)
            if pairs is None:
                pairs = var_pairs(sinks)
        _write_bookkeeping(
            out_dir, cells, pairs, zone_map_field(encoded_schema),
            cfg.driver_dict_cap, manifest, run_id, t0, need_route, need_metrics,
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
    out_dir: str,
    cells,
    pairs,
    ts_field,
    cap: int,
    manifest: RunManifest,
    run_id: str,
    t0: float,
    need_route: bool,
    need_metrics: bool,
) -> None:
    """Manifests (commits `route`) and/or the metrics table (commits
    `metrics`), all written DRIVER-SIDE with pyarrow from exact cells;
    both commits record their wall time from `t0`, the start of phase 3.
    The metrics half alone is also the GC metrics refresh
    (route/gc.py _refresh_metrics).

    cells: one row per (sink_id, seg_id, logtype_id) with rows,
    n_encoded_vars, raw_bytes [, ts_min, ts_max] — from the dictionary
    pass (_sink_cells) or route.fanout.cell_stats. pairs: the distinct
    (sink_id, seg_id, var_id) — collected, or a DataFrame that is
    collected here when it has at most `cap` rows and otherwise stays
    distributed (write_var_manifest + one Spark var-cardinality
    aggregation). ts_field: the zone map's source StructField, or None.
    Encoded bytes are 16·rows + 8·n_encoded_vars, the metrics table's
    long-standing definition (8 + 8 + 8 per encoded variable a row)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from clp_spark.util import write_driver_table

    if isinstance(pairs, DataFrame):
        collected = collect_capped(pairs, cap)
        pairs = pairs.persist() if collected is None else collected
    zone, ts_type = {}, None
    if ts_field is not None:
        zone = {"ts_min": ("ts_min", "min"), "ts_max": ("ts_max", "max")}
        ts_type = _pa_type(ts_field.dataType)
        if pa.types.is_integer(ts_type) or isinstance(
            ts_field.dataType, T.TimestampType
        ):
            # nullable Int64: an all-null-ts segment must round-trip as
            # parquet null, not poison the column to float64 (TimestampType
            # bounds arrive as epoch micros, see fanout.zone_map_aggs)
            cells = cells.astype({c: "Int64" for c in zone})

    def write(name: str, pdf, cols: list) -> None:
        # every column is int64 but the zone map's; from_pandas maps
        # pd.NA → parquet null
        types = [
            ts_type if c in zone else pa.string() if c == "ts_src" else pa.int64()
            for c in cols
        ]
        write_driver_table(
            pa.Table.from_arrays(
                [pa.Array.from_pandas(pdf[c], type=t) for c, t in zip(cols, types)],
                schema=pa.schema(list(zip(cols, types))),
            ),
            os.path.join(out_dir, name),
        )

    if need_route:
        # sorted by logtype_id / var_id so parquet row-group min/max stats
        # prune id-probing queries
        write(
            "manifest/logtype",
            cells.sort_values(["logtype_id", "sink_id", "seg_id"]),
            ["sink_id", "seg_id", "logtype_id"],
        )
        segs = (
            cells.groupby(["sink_id", "seg_id"], sort=True)
            .agg(rows=("rows", "sum"), **zone)
            .reset_index()
        )
        if ts_field is not None:
            # WHICH column fed the zone map: search applies it only to
            # queries filtering on that same column
            segs["ts_src"] = ts_field.name
        write("manifest/segments", segs, list(segs.columns))
        var_dir = os.path.join(out_dir, "manifest", "var")
        if isinstance(pairs, DataFrame):
            write_var_manifest(pairs, var_dir)
        else:
            # no bloom filter here (pyarrow cannot write one): search
            # collects any var manifest of up to 4M pairs
            # (search.sinks._MAX_DRIVER_MANIFEST_PAIRS, twice the default
            # cap) and never reads its bloom; a larger manifest still
            # searches correctly through the semi-join path
            write(
                "manifest/var",
                pairs.sort_values(["var_id", "sink_id", "seg_id"]),
                ["sink_id", "seg_id", "var_id"],
            )
        manifest.commit(
            "route", "route", run_id, wall_ms=int(1000 * (time.time() - t0))
        )
    if need_metrics:
        met = cells.groupby("sink_id", sort=True).agg(
            rows=("rows", "sum"),
            logtype_cardinality=("logtype_id", "nunique"),
            n_encoded_vars=("n_encoded_vars", "sum"),
            raw_bytes=("raw_bytes", "sum"),
            **zone,
        ).reset_index()
        met.insert(
            4, "encoded_bytes", 16 * met["rows"] + 8 * met["n_encoded_vars"]
        )
        if isinstance(pairs, DataFrame):
            vcard = (
                pairs.select("sink_id", "var_id").distinct().groupBy("sink_id")
                .count().toPandas()
            )
            vcard = vcard.set_index("sink_id")["count"]
        else:
            vcard = pairs.drop_duplicates(["sink_id", "var_id"]).groupby(
                "sink_id"
            ).size()
        met["var_cardinality"] = (
            met["sink_id"].map(vcard).fillna(0).astype("int64")
        )
        write("metrics", met, list(met.columns))
        manifest.commit(
            "metrics", "metrics", run_id, wall_ms=int(1000 * (time.time() - t0))
        )
    if isinstance(pairs, DataFrame):
        pairs.unpersist()
