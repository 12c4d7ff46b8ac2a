"""Incremental (micro-batch) compress over a streaming file source.

Dataflow per micro-batch (foreachBatch):
  parse batch → diff against persisted dictionaries (left_anti) →
  assign new IDs above the current max (insertion-order across batches,
  value-sorted within a batch — mirrors CLP's insertion-order
  dictionary writers: VariableDictionaryWriter.cpp:11-41) → append dict
  deltas → encode with the updated dictionaries → append routed rows.

Exactly-once: Spark's streaming checkpoint (WAL + source offsets)
guarantees each input file is processed once; dict/sink appends within
a batch are idempotent per epochId (we skip epochs already recorded in
the _stream_epochs marker — the classic foreachBatch idempotency
pattern).

Unlike the batch pipeline's value-sorted global IDs, streaming IDs
depend on arrival order (as CLP's do). Search/decode only need ID↔value
consistency, which holds; tests assert decode round-trips and per-sink
counts match the batch oracle.
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from clp_spark.config import VT_DICT, PipelineConfig
from clp_spark.dicts.build import assign_stable_ids, encode_with_dicts
from clp_spark.parse.tokenizer import tokenize_df
from clp_spark.route.fanout import add_sink_id

LOGTYPE_DICT_SCHEMA = "logtype_id long, logtype string, num_vars int, n_rows long"
VAR_DICT_SCHEMA = "var_id long, value string"


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    if os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    ):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def _epoch_done(out_dir: str, epoch_id: int) -> bool:
    marker = os.path.join(out_dir, "_stream_epochs")
    if not os.path.exists(marker):
        return False
    with open(marker) as f:
        return any(json.loads(line)["epoch"] == epoch_id for line in f)


def _mark_epoch(out_dir: str, epoch_id: int, **stats) -> None:
    marker = os.path.join(out_dir, "_stream_epochs")
    with open(marker, "a") as f:
        # ts makes every record unique: epoch ids restart at 0 when the
        # archive and its checkpoint are deleted and the input re-streamed
        f.write(json.dumps({"epoch": epoch_id, "ts": time.time(), **stats}) + "\n")
        f.flush()
        os.fsync(f.fileno())


def _process_batch(
    batch: DataFrame,
    epoch_id: int,
    out_dir: str,
    cfg: PipelineConfig,
    text_col: str,
    passthrough: list[str] | None,
) -> None:
    if _epoch_done(out_dir, epoch_id):
        return
    spark = batch.sparkSession
    lt_path = os.path.join(out_dir, "dicts", "logtype")
    vd_path = os.path.join(out_dir, "dicts", "var")
    sinks_path = os.path.join(out_dir, "sinks")

    parsed = tokenize_df(batch, text_col=text_col, passthrough=passthrough).persist()

    # ---- dictionary upsert: new entries get IDs above the current max ----
    lt_old = _read_or_empty(spark, lt_path, LOGTYPE_DICT_SCHEMA)
    lt_max = lt_old.agg(F.coalesce(F.max("logtype_id"), F.lit(-1)).alias("m")).collect()[0]["m"]
    new_lt = (
        parsed.groupBy("logtype")
        .agg(F.min("n_vars").alias("num_vars"), F.count("*").alias("n_rows"))
        .join(lt_old.select("logtype"), "logtype", "left_anti")
    )
    new_lt_ids = assign_stable_ids(
        new_lt.select("logtype"), "logtype", "logtype_id", cfg.dict_id_partitions
    ).withColumn("logtype_id", F.col("logtype_id") + F.lit(lt_max + 1))
    new_lt_full = new_lt_ids.join(new_lt, "logtype").select(
        "logtype_id", "logtype", "num_vars", "n_rows"
    )
    new_lt_full.write.mode("append").parquet(lt_path)

    vd_old = _read_or_empty(spark, vd_path, VAR_DICT_SCHEMA)
    vd_max = vd_old.agg(F.coalesce(F.max("var_id"), F.lit(-1)).alias("m")).collect()[0]["m"]
    new_vals = (
        parsed.select(F.explode(F.arrays_zip("var_strs", "var_types")).alias("z"))
        .filter(F.col("z.var_types") == VT_DICT)
        .select(F.col("z.var_strs").alias("value"))
        .distinct()
        .join(vd_old.select("value"), "value", "left_anti")
    )
    new_vd = assign_stable_ids(
        new_vals, "value", "var_id", cfg.dict_id_partitions
    ).withColumn("var_id", F.col("var_id") + F.lit(vd_max + 1))
    new_vd.select("var_id", "value").write.mode("append").parquet(vd_path)

    # ---- encode with the merged dictionaries, append to sinks ----
    lt_all = spark.read.schema(LOGTYPE_DICT_SCHEMA).parquet(lt_path)
    vd_all = spark.read.schema(VAR_DICT_SCHEMA).parquet(vd_path)
    encoded = add_sink_id(
        encode_with_dicts(parsed, lt_all, vd_all),
        cfg.num_sinks,
        cols=tuple(c for c in ("logtype_id", "lang") if c in parsed.columns or c == "logtype_id"),
    )
    n = encoded.count()
    # sink rows land in a per-epoch subdirectory with overwrite semantics:
    # a retry after a crash between this write and the marker OVERWRITES
    # the same epoch dir instead of appending duplicates, so the marker is
    # purely advisory (dict upserts are already idempotent via left_anti)
    encoded.write.mode("overwrite").partitionBy("sink_id").parquet(
        os.path.join(sinks_path, f"epoch={int(epoch_id)}")
    )
    parsed.unpersist()
    _mark_epoch(out_dir, epoch_id, rows=n)


def stream_compress(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    input_schema: str,
    cfg: PipelineConfig | None = None,
    text_col: str = "text",
    passthrough: list[str] | None = None,
    available_now: bool = True,
):
    """Start (or resume) the incremental compress stream over a parquet
    file-source directory. Returns the StreamingQuery; with
    available_now=True it drains pending files and stops (the
    log-ingestor's buffered micro-batch pattern)."""
    cfg = cfg or PipelineConfig()
    os.makedirs(out_dir, exist_ok=True)
    src = spark.readStream.schema(input_schema).parquet(input_path)
    writer = (
        src.writeStream.foreachBatch(
            lambda b, e: _process_batch(b, e, out_dir, cfg, text_col, passthrough)
        )
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_count_by_time(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    bucket: str = "1 day",
    ts_col: str = "warc_ts",
    watermark: str = "1 day",
    query_name: str = "timeline",
):
    """Live timeline: windowed counts in update mode to an in-memory
    sink (the reducer's periodic MongoDB upsert — ServerContext.hpp:
    112-156 — re-expressed as a Structured Streaming update stream)."""
    src = spark.readStream.schema(input_schema).parquet(input_path)
    agg = (
        src.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), bucket).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "n")
    )
    return (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
