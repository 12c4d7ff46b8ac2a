"""Driver contract: entry / queries / oracle_sql.

Each `queries()` entry is an operator from SURVEY.md §2 (or a
training-data op) run by the Spark engine; the matching `oracle_sql()`
string computes the same result in DuckDB over the same parquet tables.
The CLP-pipeline entries are end-to-end: the corpus is compressed
(tokenize → dictionaries → encode) and then searched/decoded on the
ENCODED representation, while the oracle runs plain SQL on the raw
text — so a match proves search-without-decode and the decode round
trip are exact, not just that two similar SQL queries agree.

Column names/types are aligned on both sides (driver hashes values
after sorting columns by name); outputs avoid floats — thresholds use
integer cross-multiplication (see clp_spark/textops/dedup.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from clp_spark.config import PipelineConfig
from clp_spark.pipeline import compress, compress_df
from clp_spark.search.compiler import compile_query
from clp_spark.search.sinks import search_sinks
from clp_spark.search.executor import (
    ArchiveDicts,
    count_by_time,
    count_matches,
    run_search,
    topk_latest,
)
from clp_spark.textops.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from clp_spark.textops.similarity import brute_force_topk, ivf_topk, lsh_bucketed_topk
from clp_spark.textops.stats import (
    fingerprint,
    lang_id,
    quality_scores,
    token_counts,
)
from clp_spark.functions.multimodal import binary_meta, decode_features

# ---------------------------------------------------------------- helpers

_CORPUS_CACHE: dict = {}


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _held(enc: DataFrame, lt: DataFrame, vd: DataFrame) -> tuple:
    """(encoded, ArchiveDicts) of a cached corpus: like an opened
    archive (search_sinks' Archive handle), the corpus holds one
    ArchiveDicts, so its dictionaries are collected and broadcast once
    and not again by every query."""
    return enc.persist(), ArchiveDicts(lt.persist(), vd.persist())


def _search(corpus: tuple, query: str, **kw) -> DataFrame:
    """search() over a cached corpus and its held dictionaries."""
    enc, dicts = corpus
    return run_search(enc, dicts, compile_query(query), **kw)


def _docs_corpus(spark: SparkSession, sf_dir: str):
    """Compress the documents table once per (session, sf_dir): returns
    (encoded, ArchiveDicts) with doc_id passthrough."""
    key = ("docs", id(spark), sf_dir)
    if key not in _CORPUS_CACHE:
        docs = _read(spark, sf_dir, "documents")
        enc, lt, vd = compress_df(
            docs, PipelineConfig(), text_col="text", passthrough=["doc_id"]
        )
        _CORPUS_CACHE[key] = _held(enc, lt, vd)
    return _CORPUS_CACHE[key]


def _events_corpus(spark: SparkSession, sf_dir: str):
    """Events as a log stream: message = event_type || ' ' || props."""
    key = ("events", id(spark), sf_dir)
    if key not in _CORPUS_CACHE:
        ev = _read(spark, sf_dir, "events").withColumn(
            "msg", F.concat("event_type", F.lit(" "), "props")
        )
        enc, lt, vd = compress_df(
            ev, PipelineConfig(), text_col="msg", passthrough=["event_id", "ts"]
        )
        _CORPUS_CACHE[key] = _held(enc, lt, vd)
    return _CORPUS_CACHE[key]


def _docs_sinks(spark: SparkSession, sf_dir: str) -> str:
    """Persisted-archive variant of _docs_corpus: compress the documents
    table to a temp dir once per (session, sf_dir) — exercises the full
    route → sink-manifest → pruned-search path."""
    key = ("docs_sinks", id(spark), sf_dir)
    if key not in _CORPUS_CACHE:
        import tempfile

        out = tempfile.mkdtemp(prefix="clp_entry_sinks_")
        docs = (
            _read(spark, sf_dir, "documents")
            .withColumnRenamed("doc_id", "url")
            .select("url", "text", "lang")
        )
        compress(spark, docs, out, PipelineConfig(num_checkpoint_buckets=1))
        _CORPUS_CACHE[key] = out
    return _CORPUS_CACHE[key]


def _events_sinks(spark: SparkSession, sf_dir: str) -> str:
    """Persisted TIME-CARRYING archive: events as a log stream with
    warc_ts, so compress time-windows the segments and writes the
    (sink_id, seg_id) zone map — exercises segment-granular + ts
    zone-map pruning (Query.hpp:103-121; Grep.cpp archive ts ranges)."""
    key = ("events_sinks", id(spark), sf_dir)
    if key not in _CORPUS_CACHE:
        import tempfile

        out = tempfile.mkdtemp(prefix="clp_entry_evsinks_")
        ev = _read(spark, sf_dir, "events").select(
            F.col("event_id").alias("url"),
            F.col("ts").alias("warc_ts"),
            F.concat("event_type", F.lit(" "), "props").alias("text"),
        )
        compress(spark, ev, out, PipelineConfig(num_checkpoint_buckets=1))
        _CORPUS_CACHE[key] = out
    return _CORPUS_CACHE[key]


def _events_json_ri_archive(spark: SparkSession, sf_dir: str):
    """JSON archive with a metadata RANGE INDEX: each 250-event run is
    one 'source file' ($_filename / $_file_split_number), contiguous in
    event_id — metadata is not stored per row; '$'-filters rewrite to
    event_id ranges (EvaluateRangeIndexFilters analog)."""
    key = ("json_ri", id(spark), sf_dir)
    if key not in _CORPUS_CACHE:
        from clp_spark.clps import encode_json_df

        ev = _read(spark, sf_dir, "events")
        j = ev.select(
            "event_id",
            F.concat(
                F.lit("part"), F.floor(F.col("event_id") / 250), F.lit(".log")
            ).alias("_filename"),
            F.floor(F.col("event_id") / 250).alias("_file_split_number"),
            F.to_json(
                F.struct(
                    F.col("event_type").alias("type"),
                    F.col("user_id").alias("uid"),
                )
            ).alias("json"),
        )
        a = encode_json_df(
            j,
            "json",
            passthrough=["event_id"],
            range_index_fields=["_filename", "_file_split_number"],
            range_index_idx_col="event_id",
        )
        a.encoded = a.encoded.persist()
        a.encoded.count()
        _CORPUS_CACHE[key] = a
    return _CORPUS_CACHE[key]


def _events_schema_corpus(spark: SparkSession, sf_dir: str):
    """Schema-defined (DFA-path) compression of the events stream
    (SchemaSearcher analog): prioritized float/int/hasNumber rules
    instead of the heuristic tokenizer."""
    key = ("events_schema", id(spark), sf_dir)
    if key not in _CORPUS_CACHE:
        from clp_spark.search.schema_search import (
            Schema,
            SchemaRule,
            schema_compress_df,
        )

        schema = Schema(
            rules=[
                SchemaRule("float", r"-?\d+\.\d+", "float"),
                SchemaRule("int", r"-?\d+", "int"),
                SchemaRule(
                    "hasNumber", r"[a-zA-Z0-9_\.]*\d[a-zA-Z0-9_\.]*", "dict"
                ),
            ]
        )
        ev = _read(spark, sf_dir, "events").withColumn(
            "msg", F.concat("event_type", F.lit(" "), "props")
        )
        enc, lt, vd = schema_compress_df(
            ev, schema, text_col="msg", passthrough=["event_id"]
        )
        _CORPUS_CACHE[key] = (enc.persist(), lt.persist(), vd.persist(), schema)
    return _CORPUS_CACHE[key]


def _events_json_archive(spark, sf):
    # clp_s path: JSON records (typed ints, VarStrings, a ClpString
    # message) → schema tree + typed encode; cached per (session, sf)
    key = ("json_arch", id(spark), sf)
    if key not in _CORPUS_CACHE:
        from clp_spark.clps import encode_json_df

        ev = _read(spark, sf, "events")
        j = ev.select(
            "event_id",
            "ts",
            F.to_json(
                F.struct(
                    F.col("event_type").alias("type"),
                    F.col("user_id").alias("uid"),
                    F.get_json_object("props", "$.k")
                    .cast("long")
                    .alias("k"),
                    F.struct((F.col("user_id") % 7).alias("r")).alias("ctx"),
                    F.concat(
                        F.lit("user "),
                        "user_id",
                        F.lit(" did "),
                        "event_type",
                    ).alias("msg"),
                )
            ).alias("json"),
        )
        arch = encode_json_df(j, "json", passthrough=["event_id", "ts"])
        arch.encoded = arch.encoded.persist()
        _CORPUS_CACHE[key] = arch
    return _CORPUS_CACHE[key]


def _events_kv_ir_streams(spark, sf):
    """KV IR streams (v0.1.0 wire format) serialized from the events
    table — the streaming producer path logging libraries emit
    (clp/ffi/ir_stream/Serializer.cpp); searched WITHOUT archiving by
    ir_kv_search (clp_s/kv_ir_search.hpp:26-36)."""
    key = ("kv_ir", id(spark), sf)
    if key not in _CORPUS_CACHE:
        from clp_spark.ir import serialize_kv_ir_df

        ev = _read(spark, sf, "events")
        j = ev.select(
            "event_id",
            F.expr("unix_millis(cast(ts as timestamp))").alias("ts_ms"),
            F.to_json(
                F.struct(
                    F.col("event_type").alias("type"),
                    F.col("user_id").alias("uid"),
                    F.get_json_object("props", "$.k").cast("long").alias("k"),
                    F.concat(
                        F.lit("user "), "user_id", F.lit(" did "), "event_type"
                    ).alias("msg"),
                )
            ).alias("json"),
        )
        # events.parquet is a single file → a single scan partition;
        # spread the (CPU-bound, per-partition-independent) stream
        # serialization across the cluster first
        j = j.repartition(spark.sparkContext.defaultParallelism)
        s = serialize_kv_ir_df(
            j, "json", auto_cols=("event_id", "ts_ms"), events_per_stream=8192
        ).persist()
        s.count()
        _CORPUS_CACHE[key] = s
    return _CORPUS_CACHE[key]


def _events_json_uarchive(spark, sf):
    """Unstructured-array variant (the clp_s DEFAULT): arrays stay whole
    (UnstructuredArray nodes); a query path that dead-ends at one is
    evaluated INSIDE the stored array text at query time
    (QueryRunner.cpp:541-693; golden query 'arr.b > 1000' in
    test-clp_s-search.cpp matches both array and object shapes)."""
    key = ("json_uarch", id(spark), sf)
    if key not in _CORPUS_CACHE:
        from clp_spark.clps import encode_json_df

        ev = _read(spark, sf, "events")
        j = ev.select(
            "event_id",
            F.to_json(
                F.struct(
                    F.col("event_type").alias("type"),
                    F.array(
                        F.struct((F.col("user_id") % 13).alias("b"))
                    ).alias("arr"),
                    F.array(F.array(F.col("event_id") % 11)).alias("nested"),
                    F.array(
                        F.concat(F.lit("tag"), F.col("user_id") % 4)
                    ).alias("tags"),
                )
            ).alias("json"),
        )
        arch = encode_json_df(j, "json", passthrough=["event_id"])
        arch.encoded = arch.encoded.persist()
        _CORPUS_CACHE[key] = arch
    return _CORPUS_CACHE[key]


def _logs_ts_corpus(spark, sf):
    """Log lines WITH leading timestamps, compressed with
    parse_timestamps=True — exercises per-message timestamp ingestion
    (TimestampPattern.cpp / MessageParser.cpp:95+ analog): the pattern
    id + epoch-ms ride with the encoded row; decode regenerates the
    original line byte-exactly."""
    key = ("logs_ts", id(spark), sf)
    if key not in _CORPUS_CACHE:
        ev = _read(spark, sf, "events")
        lines = ev.select(
            "event_id",
            F.concat(
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
                F.lit(" "),
                "event_type",
                F.lit(" uid="),
                "user_id",
            ).alias("line"),
        )
        enc, lt, vd = compress_df(
            lines,
            PipelineConfig(parse_timestamps=True),
            text_col="line",
            passthrough=["event_id"],
        )
        _CORPUS_CACHE[key] = _held(enc, lt, vd)
    return _CORPUS_CACHE[key]


def _logs_tz_corpus(spark, sf):
    """Log lines whose leading timestamps carry TIMEZONE offsets
    (clp_s \\z{...} patterns, TimestampParser.hpp:17-29): the tz text
    rides with the row, ts_ms is normalized to true UTC, and decode
    regenerates the original line byte-exactly."""
    key = ("logs_tz", id(spark), sf)
    if key not in _CORPUS_CACHE:
        ev = _read(spark, sf, "events")
        tz = F.element_at(
            F.array(
                F.lit("Z"), F.lit("+05:30"), F.lit("-08:00"), F.lit("+0200")
            ),
            (F.col("user_id") % 4 + 1).cast("int"),
        )
        lines = ev.select(
            "event_id",
            F.concat(
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
                tz,
                F.lit(" "),
                "event_type",
                F.lit(" uid="),
                "user_id",
            ).alias("line"),
        )
        enc, lt, vd = compress_df(
            lines,
            PipelineConfig(parse_timestamps=True),
            text_col="line",
            passthrough=["event_id"],
        )
        _CORPUS_CACHE[key] = _held(enc, lt, vd)
    return _CORPUS_CACHE[key]


def _events_json_sarchive(spark, sf):
    """Structurized-array variant (JsonParser.cpp parse_array analog):
    records carry a scalar array and an array of objects, encoded with
    structurize_arrays=True so KQL filters reach inside them."""
    key = ("json_sarch", id(spark), sf)
    if key not in _CORPUS_CACHE:
        from clp_spark.clps import encode_json_df

        ev = _read(spark, sf, "events")
        j = ev.select(
            "event_id",
            F.to_json(
                F.struct(
                    F.col("event_type").alias("type"),
                    F.array(
                        (F.col("user_id") % 5), (F.col("event_id") % 7)
                    ).alias("arr"),
                    F.array(
                        F.struct((F.col("user_id") % 3).alias("n"))
                    ).alias("objs"),
                )
            ).alias("json"),
        )
        arch = encode_json_df(
            j, "json", passthrough=["event_id"], structurize_arrays=True
        )
        arch.encoded = arch.encoded.persist()
        _CORPUS_CACHE[key] = arch
    return _CORPUS_CACHE[key]


def _events_fed_dirs(spark, sf):
    """Two SAVED archives with disjoint schemas (uid/msg vs amount) for
    the column-index federated search (IndexManager.hpp:14-27 analog):
    a query on a field only one archive hosts must load only that one."""
    key = ("fed_dirs", id(spark), sf)
    if key not in _CORPUS_CACHE:
        import tempfile

        from clp_spark.clps import encode_json_df
        from clp_spark.clps.index import write_column_index

        ev = _read(spark, sf, "events")
        base = tempfile.mkdtemp(prefix="clp_fed_")
        dirs = []
        shapes = (
            (
                "a",
                F.col("user_id") % 2 == 0,
                F.struct(
                    F.col("event_type").alias("type"),
                    F.col("user_id").alias("uid"),
                    F.concat(F.lit("user "), "user_id").alias("msg"),
                ),
            ),
            (
                "b",
                F.col("user_id") % 2 == 1,
                F.struct(
                    F.col("event_type").alias("type"),
                    (F.col("user_id") * 2).alias("amount"),
                ),
            ),
        )
        for name, pred, struct in shapes:
            j = ev.filter(pred).select(
                "event_id", F.to_json(struct).alias("json")
            )
            arch = encode_json_df(j, "json", passthrough=["event_id"])
            d = os.path.join(base, name)
            arch.save(d)
            write_column_index(d)
            dirs.append(d)
        _CORPUS_CACHE[key] = dirs
    return _CORPUS_CACHE[key]


def warm_archives(spark: SparkSession, sf_dir: str) -> None:
    """Build every per-session encoded archive the queries share (CLP's
    model is compress-once / search-many). bench.py times THIS as the
    archive/compress cost and times the queries separately — warming the
    archives without pre-running the timed queries themselves (round 2
    pre-ran every timed query once, which also warmed persisted frames,
    shuffle files, and the page cache — hot-cache repeats reported as
    query latency)."""
    # materialize ALL archive frames and open their dictionaries (CLP
    # loads dictionaries when opening an archive): each corpus's held
    # ArchiveDicts collects and broadcasts them here, once
    for enc, dicts in (_docs_corpus(spark, sf_dir), _events_corpus(spark, sf_dir)):
        enc.count()
        dicts.index, dicts.decoder
    _docs_sinks(spark, sf_dir)
    _events_sinks(spark, sf_dir)
    _events_json_archive(spark, sf_dir).encoded.count()


_DAY_MS = 24 * 3600 * 1000


# ---------------------------------------------------------------- queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: compress the sf0.001 documents table CLP-style, then run
    a wildcard search on the encoded form (dictionary pushdown + confirm)."""
    corpus = _docs_corpus(spark, "/root/testdata/sf0.001")
    return _search(corpus, "*value*fast*").select("doc_id", "text")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- CLP pipeline: grep/search on the encoded representation ----
    def clp_grep(spark, sf):
        corpus = _docs_corpus(spark, sf)
        return _search(corpus, "*value*fast*").select("doc_id")

    def clp_grep_phrase(spark, sf):
        corpus = _docs_corpus(spark, sf)
        return _search(corpus, "fast table").select("doc_id")

    def clp_grep_count(spark, sf):
        corpus = _docs_corpus(spark, sf)
        return count_matches(_search(corpus, "*spark*"))

    def clp_grep_zero(spark, sf):
        corpus = _docs_corpus(spark, sf)
        return _search(corpus, "qz9x8w7_no_such_token").select("doc_id")

    def clp_decode_roundtrip(spark, sf):
        enc, dicts = _docs_corpus(spark, sf)
        return dicts.decode(enc, "text").select("doc_id", "text")

    def clp_events_grep_bucket_counts(spark, sf):
        corpus = _events_corpus(spark, sf)
        m = _search(corpus, "*error*", ts_col="ts")
        return count_by_time(m, _DAY_MS, ts_col="ts")

    def clp_events_topk_latest(spark, sf):
        corpus = _events_corpus(spark, sf)
        m = _search(corpus, "*click*", ts_col="ts")
        top = topk_latest(m, 100, ts_col="ts", tiebreak="event_id")
        return top.select(
            "event_id",
            F.expr("unix_millis(cast(ts as timestamp))").alias("ts_ms"),
        )

    def clp_events_ts_range_count(spark, sf):
        corpus = _events_corpus(spark, sf)
        m = _search(
            corpus,
            "*view*",
            ts_range=("2024-01-05 00:00:00", "2024-01-12 00:00:00"),
            ts_col="ts",
        )
        return count_matches(m)

    def clp_events_int_var_grep(spark, sf):
        corpus = _events_corpus(spark, sf)
        return _search(corpus, "* 69}*", ts_col="ts").select("event_id")

    def clp_grep_wildvar(spark, sf):
        # '?' wildcard inside a token: exercises the split/wildcard-dict
        # interpretation branches (GrepCore.hpp:251-305)
        corpus = _docs_corpus(spark, sf)
        return _search(corpus, "va?ue").select("doc_id")

    def clp_sink_pruned_grep(spark, sf):
        # persisted archive: route → sink manifests → pruned scan →
        # staged search (Query.hpp:103-121 segment pruning analog)
        out = _docs_sinks(spark, sf)
        return search_sinks(spark, out, "merge batch").select(
            F.col("url").alias("doc_id")
        )

    def clp_seg_ts_pruned_grep(spark, sf):
        # persisted archive with time-windowed segments: the ts range
        # prunes (sink, seg) units via the zone map BEFORE the token
        # manifests prune further; staged search confirms exactly
        out = _events_sinks(spark, sf)
        return search_sinks(
            spark,
            out,
            "*purchase*",
            ts_range=("2024-01-25 00:00:00", None),
            ts_col="warc_ts",
        ).select(F.col("url").alias("event_id"))

    def clp_schema_dfa_grep(spark, sf):
        # schema/DFA search path: wildcard query compiled by automata
        # intersection against the schema rules (SchemaSearcher.cpp),
        # executed by the shared staged executor
        from clp_spark.search.schema_search import schema_search

        enc, lt, vd, schema = _events_schema_corpus(spark, sf)
        return schema_search(enc, lt, vd, "* 7*", schema).select("event_id")

    def clp_multiline_assembly(spark, sf):
        # line→message assembly (MessageParser.cpp:48-95): synthetic log
        # lines derived from events; every 3rd line is a timestamp-less
        # continuation and must join the previous message
        from clp_spark.parse.assemble import assemble_messages

        ev = _read(spark, sf, "events")
        lines = ev.select(
            (F.col("event_id") % 10).alias("file"),
            F.col("event_id").alias("line_no"),
            F.when(
                F.col("event_id") % 3 == 0,
                F.concat(F.lit("    at frame "), F.col("event_id")),
            )
            .otherwise(
                F.concat(
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
                    F.lit(" "),
                    F.col("event_type"),
                )
            )
            .alias("line"),
        )
        out = assemble_messages(lines)
        return out.select(
            F.col("file").cast("long").alias("file"),
            F.col("msg_idx").cast("long").alias("msg_idx"),
            "message",
            F.col("n_lines").cast("long").alias("n_lines"),
        )

    def clp_json_range_index_filter(spark, sf):
        # '$'-namespace metadata filter → row-index range rewrite
        # (EvaluateRangeIndexFilters.cpp) combined with a typed predicate
        from clp_spark.clps import kql_query

        a = _events_json_ri_archive(spark, sf)
        return kql_query(
            a, '$_filename: "part3.log" AND type: "error"'
        ).select("event_id")

    def clp_stream_assembly(spark, sf):
        # STREAMING multi-line assembly (applyInPandasWithState, SURVEY
        # §2.9): the same derived log lines arrive in two micro-batches;
        # messages straddling the batch boundary complete in batch 2;
        # each file's final message stays buffered in state (a live tail
        # can't know it is complete), so the emitted set is the batch
        # assembly minus the last message per file.
        key = ("stream_asm", id(spark), sf)
        if key not in _CORPUS_CACHE:
            import tempfile

            from clp_spark.streaming.assemble import (
                OUT_SCHEMA,
                stream_assemble_messages,
            )

            ev = _read(spark, sf, "events")
            lines = ev.select(
                (F.col("event_id") % 10).cast("string").alias("file"),
                F.col("event_id").alias("line_no"),
                F.when(
                    F.col("event_id") % 3 == 0,
                    F.concat(F.lit("    at frame "), F.col("event_id")),
                )
                .otherwise(
                    F.concat(
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
                        F.lit(" "),
                        F.col("event_type"),
                    )
                )
                .alias("line"),
            )
            mid = lines.agg(F.max("line_no")).collect()[0][0] // 2
            base = tempfile.mkdtemp(prefix="clp_entry_stream_asm_")
            src = os.path.join(base, "src")
            sink = os.path.join(base, "sink")
            ckpt = os.path.join(base, "ckpt")

            def drain():
                stream = spark.readStream.schema(
                    "file string, line_no long, line string"
                ).parquet(src + "/*")
                qy = (
                    stream_assemble_messages(stream)
                    .writeStream.format("parquet")
                    .outputMode("append")
                    .option("path", sink)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                qy.awaitTermination(300)

            lines.filter(F.col("line_no") <= mid).coalesce(1).write.parquet(
                os.path.join(src, "c1")
            )
            drain()
            lines.filter(F.col("line_no") > mid).coalesce(1).write.parquet(
                os.path.join(src, "c2")
            )
            drain()
            _CORPUS_CACHE[key] = (sink, OUT_SCHEMA)
        sink, out_schema = _CORPUS_CACHE[key]
        return spark.read.schema(out_schema).parquet(sink).select(
            "file", "msg_idx", "message", F.col("n_lines").cast("long").alias("n_lines")
        )

    def clp_json_typed_filter(spark, sf):
        # KQL-style 'k < 50 AND type: "click"' over the encoded archive
        from clp_spark.clps import json_filter

        arch = _events_json_archive(spark, sf)
        a = json_filter(arch, "k", "lt", 50).select("event_id")
        b = json_filter(arch, "type", "eq", "click").select("event_id")
        return a.join(b, "event_id", "left_semi")

    def clp_json_clpstring_eq(spark, sf):
        # exact ClpString match: logtype + encoded-vars equality, no decode
        from clp_spark.clps import json_filter

        arch = _events_json_archive(spark, sf)
        return json_filter(arch, "msg", "eq", "user 7 did view").select(
            "event_id"
        )

    def clp_json_clpstring_wild(spark, sf):
        # wildcard value inside a CLP-encoded string
        # (QueryRunner.cpp:463-516): compiled logtype/var candidate
        # prefilter over the encoded frame + decode-confirm survivors
        from clp_spark.clps import kql_query

        arch = _events_json_archive(spark, sf)
        return kql_query(arch, 'msg: "user * did p*e"').select("event_id")

    def clp_json_roundtrip(spark, sf):
        # ordered JSON extract: reconstruct every record structurally
        from clp_spark.clps import reconstruct_json_df

        arch = _events_json_archive(spark, sf)
        rec = reconstruct_json_df(arch, "json")
        return rec.select(
            "event_id",
            F.get_json_object("json", "$.k").cast("long").alias("k"),
            F.get_json_object("json", "$.uid").cast("long").alias("uid"),
            F.get_json_object("json", "$.type").alias("type"),
            F.get_json_object("json", "$.msg").alias("msg"),
        )

    def clp_kql_count_by_time(spark, sf):
        # clp_s --count-by-time over KQL-filtered rows (daily buckets on
        # the archive's timestamp passthrough)
        from clp_spark.clps import kql_count_by_time

        arch = _events_json_archive(spark, sf)
        return kql_count_by_time(arch, 'type: "view"', 86_400_000, "ts")

    def clp_kql_query(spark, sf):
        # KQL front-end over the encoded JSON archive (Kql.g4 analog)
        from clp_spark.clps import kql_query

        arch = _events_json_archive(spark, sf)
        return kql_query(arch, "k < 30 AND (type: click OR type: view)").select(
            "event_id"
        )

    def clp_kql_list_nested(spark, sf):
        # grammar long tail: value list (OR-of-EQ) + nested-object
        # subquery with column prepend (Kql.g4 list_of_values /
        # NestedQuery; kql.cpp:211-218,298-328)
        from clp_spark.clps import kql_query

        arch = _events_json_archive(spark, sf)
        return kql_query(
            arch, "type: (click view) AND ctx: {r: 3} AND k >= 10"
        ).select("event_id")

    def clp_kql_bare_value(spark, sf):
        # bare value_expression: matches ANY column ('*' descriptor,
        # kql.cpp:289-296) — resolves via the var dictionary only
        from clp_spark.clps import kql_query

        arch = _events_json_archive(spark, sf)
        return kql_query(arch, '"purchase"').select("event_id")

    def clp_kql_federated(spark, sf):
        # column-index federated KQL (IndexManager analog): 'uid' exists
        # only in archive A's schema tree, so archive B is pruned by the
        # index and never loaded; results must equal plain SQL over the
        # rows archive A ingested
        from clp_spark.clps.index import search_archives_kql

        dirs = _events_fed_dirs(spark, sf)
        df, searched = search_archives_kql(spark, dirs, "uid > 40")
        assert searched == [dirs[0]], searched
        return df.select("event_id")

    def mcp_search_page(spark, sf):
        # MCP tool-surface analog (clp-mcp-server/server.py:111-166):
        # instruction-gated KQL search over a saved archive, entries
        # formatted + ordered newest-first by an ENGINE-side top-k,
        # capped at 1000 cached results, paged at 10/page — this
        # returns the second page
        from clp_spark.toolserver import LogToolServer

        key = ("mcp_dirs", id(spark), sf)
        if key not in _CORPUS_CACHE:
            import tempfile

            from clp_spark.clps import encode_json_df

            ev = _read(spark, sf, "events")
            j = ev.select(
                "event_id",
                F.expr("unix_millis(cast(ts as timestamp))").alias("ts_ms"),
                F.to_json(
                    F.struct(
                        F.col("event_type").alias("type"),
                        F.col("user_id").alias("uid"),
                    )
                ).alias("json"),
            )
            arch = encode_json_df(j, "json", passthrough=["event_id", "ts_ms"])
            d = os.path.join(tempfile.mkdtemp(prefix="clp_mcp_"), "ev")
            arch.save(d)
            _CORPUS_CACHE[key] = [d]

        srv = LogToolServer(
            spark, _CORPUS_CACHE[key], ts_col="ts_ms", link_cols=("event_id",)
        )
        srv.get_instructions("s")
        page0 = srv.search_by_kql("s", 'type: "click"')
        # the 1000-entry cached-results cap only engages once the corpus
        # has >1000 matches (sf >= 0.01); smaller SFs fit uncapped
        if page0.get("truncated"):
            assert page0["num_total_items"] == 1000
        assert page0["num_total_items"] >= 20, page0["num_total_items"]
        page = srv.get_nth_page("s", 1)
        return spark.createDataFrame(
            [(e,) for e in page["items"]], "entry string"
        )

    def clp_sql_over_archives(spark, sf):
        # Presto-connector analog (guides-using-presto.md:1-16): typed
        # Spark SQL over two saved archives with DIFFERENT schemas —
        # table schema derived from each archive's schema tree
        # (IndexManager.hpp:14-27, metadata only), records parsed
        # lazily in the scan, schemas unioned by name (missing fields
        # read null), arbitrary SQL on top
        from clp_spark.clps.sqlview import sql_over_archives

        dirs = _events_fed_dirs(spark, sf)
        df, searched = sql_over_archives(
            spark,
            dirs,
            "SELECT type, count(*) AS n, sum(uid) AS sum_uid, "
            "sum(amount) AS sum_amount FROM clp GROUP BY type",
        )
        assert searched == dirs, searched
        return df

    def clp_ts_ingest_roundtrip(spark, sf):
        # per-message timestamp parse at ingest + byte-exact regen at
        # decode (36-pattern table; oracle compares the raw line)
        from clp_spark.functions.timestamps import prepend_timestamps_df

        enc, dicts = _logs_ts_corpus(spark, sf)
        dec = dicts.decode(enc, "line")
        return prepend_timestamps_df(dec, "line").select("event_id", "line")

    def clp_ts_ingest_range_count(spark, sf):
        # ts-range search on the INGEST-EXTRACTED epoch-ms column (not a
        # pre-existing ts column) — proves the parsed values are right
        corpus = _logs_ts_corpus(spark, sf)
        m = _search(
            corpus,
            "*view*",
            ts_range=(1704412800000, 1705017600000),  # 2024-01-05 .. 01-12 UTC
            ts_col="ts_ms",
        )
        return count_matches(m)

    def clp_ts_tz_roundtrip(spark, sf):
        # timezone-bearing leading timestamps (\z{...} analog): parse
        # normalizes ts_ms to UTC, the tz text rides with the row, and
        # decode + prepend regenerates every line byte-exactly
        from clp_spark.functions.timestamps import prepend_timestamps_df

        enc, dicts = _logs_tz_corpus(spark, sf)
        dec = dicts.decode(enc, "line")
        return prepend_timestamps_df(dec, "line").select("event_id", "line")

    def clp_ts_tz_range_count(spark, sf):
        # ts-range over the tz-NORMALIZED epoch: identical wall-clock
        # strings with different offsets land at different UTC instants,
        # so this only matches the oracle if normalization is right
        corpus = _logs_tz_corpus(spark, sf)
        m = _search(
            corpus,
            "*view*",
            ts_range=(1704412800000, 1705017600000),
            ts_col="ts_ms",
        )
        return count_matches(m)

    def clp_json_array_filter(spark, sf):
        # structurized arrays: element-level predicate inside an array
        # plus an object-in-array field (SchemaTree.hpp:43
        # StructuredArray; JsonParser.cpp:336-476)
        from clp_spark.clps import kql_query

        arch = _events_json_sarchive(spark, sf)
        return kql_query(arch, "arr: 3 AND objs.n: 1").select("event_id")

    def clp_json_unstructured_array(spark, sf):
        # UNstructurized arrays: 'arr.b' dead-ends at an
        # UnstructuredArray node and is evaluated inside the array text
        # (incl. a nested array of ints and a wildcard string match)
        from clp_spark.clps import kql_query

        arch = _events_json_uarchive(spark, sf)
        return kql_query(
            arch, '(arr.b >= 9 AND tags: "tag3") OR nested: 10'
        ).select("event_id")

    q["clp_json_unstructured_array"] = clp_json_unstructured_array
    q["clp_grep"] = clp_grep
    q["clp_kql_query"] = clp_kql_query
    q["clp_kql_count_by_time"] = clp_kql_count_by_time
    q["clp_kql_list_nested"] = clp_kql_list_nested
    q["clp_kql_bare_value"] = clp_kql_bare_value
    q["clp_kql_federated"] = clp_kql_federated
    q["clp_sql_over_archives"] = clp_sql_over_archives
    q["mcp_search_page"] = mcp_search_page
    q["clp_json_array_filter"] = clp_json_array_filter
    q["clp_ts_ingest_roundtrip"] = clp_ts_ingest_roundtrip
    q["clp_ts_ingest_range_count"] = clp_ts_ingest_range_count
    q["clp_ts_tz_roundtrip"] = clp_ts_tz_roundtrip
    q["clp_ts_tz_range_count"] = clp_ts_tz_range_count
    q["clp_json_typed_filter"] = clp_json_typed_filter
    q["clp_json_clpstring_eq"] = clp_json_clpstring_eq
    q["clp_json_clpstring_wild"] = clp_json_clpstring_wild
    q["clp_json_roundtrip"] = clp_json_roundtrip
    q["clp_multiline_assembly"] = clp_multiline_assembly
    q["clp_stream_assembly"] = clp_stream_assembly
    q["clp_json_range_index_filter"] = clp_json_range_index_filter
    q["clp_grep_wildvar"] = clp_grep_wildvar
    q["clp_sink_pruned_grep"] = clp_sink_pruned_grep
    q["clp_seg_ts_pruned_grep"] = clp_seg_ts_pruned_grep
    q["clp_schema_dfa_grep"] = clp_schema_dfa_grep
    q["clp_grep_phrase"] = clp_grep_phrase
    q["clp_grep_count"] = clp_grep_count
    q["clp_grep_zero"] = clp_grep_zero
    q["clp_decode_roundtrip"] = clp_decode_roundtrip
    q["clp_events_grep_bucket_counts"] = clp_events_grep_bucket_counts
    q["clp_events_topk_latest"] = clp_events_topk_latest
    q["clp_events_ts_range_count"] = clp_events_ts_range_count
    q["clp_events_int_var_grep"] = clp_events_int_var_grep

    # ---- aggregates / joins (reducer + enrich operators) ----
    def agg_count_by_type(spark, sf):
        return (
            _read(spark, sf, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )

    def events_count_by_day(spark, sf):
        ev = _read(spark, sf, "events")
        bucket = (
            F.floor(F.expr("unix_millis(cast(ts as timestamp))") / F.lit(_DAY_MS))
            * F.lit(_DAY_MS)
        ).alias("bucket")
        return ev.groupBy(bucket).agg(F.count("*").alias("n"))

    def enrich_broadcast_join(spark, sf):
        orders = _read(spark, sf, "orders")
        cust = _read(spark, sf, "customer")
        nation = _read(spark, sf, "nation")
        return (
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.count("*").alias("n_orders"),
                F.expr("cast(floor(sum(o_totalprice)*100 + 0.5) as bigint)").alias(
                    "total_cents"
                ),
            )
        )

    def json_extract_props(spark, sf):
        ev = _read(spark, sf, "events")
        return ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )

    def grok_extract_props(spark, sf):
        from clp_spark.parse.grok import grok_extract_exprs

        ev = _read(spark, sf, "events")
        return ev.select(
            "event_id",
            *grok_extract_exprs('"k": %{INT:k}', text_col="props"),
        )

    q["agg_count_by_type"] = agg_count_by_type
    q["events_count_by_day"] = events_count_by_day
    q["enrich_broadcast_join"] = enrich_broadcast_join
    q["json_extract_props"] = json_extract_props
    q["grok_extract_props"] = grok_extract_props

    # ---- dedup family ----
    def dedup_exact(spark, sf):
        return exact_dedup(_read(spark, sf, "documents"))

    def dedup_ngram_jaccard(spark, sf):
        return ngram_jaccard_pairs(
            _read(spark, sf, "documents"), n=3, threshold=(4, 5)
        )

    def dedup_minhash_lsh(spark, sf):
        return minhash_lsh_pairs(
            _read(spark, sf, "documents"),
            num_hashes=16,
            bands=4,
            n=3,
            threshold=(4, 5),
        )

    def text_simhash(spark, sf):
        return simhash(_read(spark, sf, "documents"))

    def dedup_embedding(spark, sf):
        # scale path: LSH-plane blocking (no cartesian in the plan);
        # the oracle mirrors the same deterministic md5 planes
        return embedding_near_dup_pairs(
            _read(spark, sf, "embeddings"), threshold=(2, 5), num_planes=4, dim=64
        )

    def dedup_cluster_reps(spark, sf):
        # near-dup clustering: pair graph → connected components →
        # canonical (minimum-id) representative per document
        from clp_spark.textops.dedup import connected_components

        docs = _read(spark, sf, "documents")
        pairs = ngram_jaccard_pairs(docs, n=3, threshold=(4, 5))
        cc = connected_components(pairs, docs.select("doc_id"), id_col="doc_id")
        return cc.select(F.col("id").alias("doc_id"), "rep")

    def dedup_spans(spark, sf):
        # ExactSubstr dedup at fixed 5-word span granularity (Lee et al.
        # 2022 "Deduplicating Training Data Makes Language Models
        # Better"): cross-doc duplicate spans survive only in the
        # smallest doc_id; docs reassemble from surviving spans
        from clp_spark.textops.dedup import strip_duplicated_spans

        docs = _read(spark, sf, "documents")
        return strip_duplicated_spans(docs, span_words=5).select(
            "doc_id", "text"
        )

    def sample_stratified(spark, sf):
        # deterministic language-balanced sampling (training-data mix):
        # membership = pure md5-h60 function of doc_id — identical rows
        # at any parallelism / engine (df.sample is neither)
        from clp_spark.textops.sampling import stratified_sample

        docs = _read(spark, sf, "documents")
        return stratified_sample(
            docs, {"en": (1, 2), "de": (1, 4)}, strata_col="lang",
            default=(1, 10),
        ).select("doc_id", "lang")

    def sample_cap_per_source(spark, sf):
        # per-domain cap: keep the k smallest doc_ids per source — bounds
        # any one site's share of the training mix, deterministic at any
        # parallelism (one window shuffle)
        from clp_spark.textops.sampling import cap_per_stratum

        docs = _read(spark, sf, "documents")
        return cap_per_stratum(docs, 10, strata_col="source").select(
            "doc_id", "source"
        )

    def text_redact_pii(spark, sf):
        # PII scrub (emails / IPv4s / long digit runs) — synthetic PII is
        # appended as a deterministic function of doc_id on BOTH sides,
        # then redaction must be byte-identical to the RE2 oracle
        from clp_spark.textops.scrub import redact_pii

        docs = _read(spark, sf, "documents")
        wt = docs.select(
            "doc_id",
            F.concat(
                "text",
                F.lit(" contact u"), "doc_id",
                F.lit("@m"), F.col("doc_id") % 7,
                F.lit(".example via 10."), F.col("doc_id") % 200,
                F.lit(".0."), F.col("doc_id") % 50,
                F.lit(" acct "), F.col("doc_id") * 1000003 + 123456789,
            ).alias("text"),
        )
        return redact_pii(wt).select("doc_id", "text")

    def corpus_curation(spark, sf):
        # the composed training-data pipeline: near-dup collapse ->
        # language-quota sampling -> per-domain cap, every stage the
        # already-oracle-checked operator, the composition hash-checked
        # end-to-end against one composed SQL oracle
        from clp_spark.textops.curate import curate_corpus

        docs = _read(spark, sf, "documents")
        return curate_corpus(
            docs,
            quotas={"en": (1, 2), "de": (1, 4)},
            default_rate=(1, 10),
            cap_k=5,
            jaccard=(4, 5),
        ).select("doc_id", "lang", "source")

    def corpus_curation_minhash(spark, sf):
        # same composed pipeline with the 100 TB-scale dedup stage:
        # MinHash-LSH candidates + exact-Jaccard verify instead of the
        # capped shingle self-join (curate.py method="minhash")
        from clp_spark.textops.curate import curate_corpus

        docs = _read(spark, sf, "documents")
        return curate_corpus(
            docs,
            quotas={"en": (1, 2), "de": (1, 4)},
            default_rate=(1, 10),
            cap_k=5,
            jaccard=(4, 5),
            method="minhash",
        ).select("doc_id", "lang", "source")

    q["corpus_curation"] = corpus_curation
    q["corpus_curation_minhash"] = corpus_curation_minhash
    q["text_redact_pii"] = text_redact_pii
    q["sample_cap_per_source"] = sample_cap_per_source
    q["sample_stratified"] = sample_stratified
    q["dedup_spans"] = dedup_spans
    q["dedup_cluster_reps"] = dedup_cluster_reps
    q["dedup_exact"] = dedup_exact
    q["dedup_ngram_jaccard"] = dedup_ngram_jaccard
    q["dedup_minhash_lsh"] = dedup_minhash_lsh
    q["text_simhash"] = text_simhash
    q["dedup_embedding"] = dedup_embedding

    # ---- similarity search ----
    def ann_topk(spark, sf):
        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return brute_force_topk(emb.filter(F.col("vec_id") != 0), list(qv), k=10)

    def ann_lsh_topk(spark, sf):
        # LSH-bucketed approximate variant (scale path) — rows-only check
        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return lsh_bucketed_topk(
            emb.filter(F.col("vec_id") != 0), list(qv), k=10, num_planes=6
        )

    def ann_ivf_topk(spark, sf):
        # IVF-flat variant: deterministic md5-ranked centroids, map-side
        # argmax cell assignment (no shuffle), nprobe cell-pruned scan —
        # the partition-prunable ANN index shape
        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return ivf_topk(
            emb.filter(F.col("vec_id") != 0), list(qv), k=10, n_cells=8, nprobe=3
        )

    def ann_ivf_pruned(spark, sf):
        # the MATERIALIZED IVF index: cell-partitioned parquet written
        # once per (session, sf), probe reads only the nprobe cell
        # directories (PartitionFilters — unprobed cells are never
        # listed). Same semantics as ann_ivf_topk, so the same oracle.
        from clp_spark.textops.similarity import ivf_read_topk, ivf_write

        key = ("ivf_index", id(spark), sf)
        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        if key not in _CORPUS_CACHE:
            import tempfile

            out = tempfile.mkdtemp(prefix="clp_entry_ivf_")
            ivf_write(emb.filter(F.col("vec_id") != 0), out, n_cells=8)
            _CORPUS_CACHE[key] = out
        return ivf_read_topk(spark, _CORPUS_CACHE[key], list(qv), k=10, nprobe=3)

    q["ann_topk"] = ann_topk
    q["ann_lsh_topk"] = ann_lsh_topk
    q["ann_ivf_topk"] = ann_ivf_topk
    q["ann_ivf_pruned"] = ann_ivf_pruned

    # ---- text analysis ----
    def text_token_counts(spark, sf):
        r = token_counts(_read(spark, sf, "documents"))
        return r.select(
            "id",
            F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
            F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )

    def text_quality(spark, sf):
        r = quality_scores(_read(spark, sf, "documents"))
        return r.select(
            "id",
            *[
                F.col(c).cast("long").alias(c)
                for c in (
                    "n_chars",
                    "n_tokens",
                    "n_stopwords",
                    "n_punct",
                    "n_distinct_tokens",
                )
            ],
        )

    def text_langid(spark, sf):
        return lang_id(_read(spark, sf, "documents"))

    def text_fingerprint(spark, sf):
        return fingerprint(_read(spark, sf, "documents"))

    def text_top_term(spark, sf):
        from clp_spark.textops.stats import top_term

        return top_term(_read(spark, sf, "documents"))

    q["text_top_term"] = text_top_term
    q["text_token_counts"] = text_token_counts
    q["text_quality"] = text_quality
    q["text_langid"] = text_langid
    q["text_fingerprint"] = text_fingerprint

    # ---- multimodal plumbing ----
    def mm_binary_meta(spark, sf):
        docs = _read(spark, sf, "documents").withColumn(
            "payload", F.col("text").cast("binary")
        )
        r = binary_meta(docs, "payload", "doc_id")
        return r.select("id", F.col("n_bytes").cast("long").alias("n_bytes"), "magic_hex")

    def mm_decode_features(spark, sf):
        # REAL codec path: synthesize a deterministic 24-bit BMP per doc
        # (pixel k = (doc_id + k) % 256), decode it with the native BMP
        # parser (functions/multimodal.py decode_bmp — no fake anywhere),
        # and emit exact integer features the oracle recomputes in
        # closed form.
        import pandas as _pd

        from clp_spark.functions.multimodal import synth_bmp

        docs = _read(spark, sf, "documents").select("doc_id")

        def gen(batches):
            for pdf in batches:
                yield _pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "payload": [synth_bmp(int(i)) for i in pdf["doc_id"]],
                    }
                )

        with_payload = docs.mapInPandas(gen, schema="doc_id long, payload binary")
        return decode_features(with_payload, "payload", "doc_id").select(
            "id",
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.col("channels").cast("long").alias("channels"),
            "pix_sum",
        )

    def mm_frame_sample(spark, sf):
        from clp_spark.functions.multimodal import frame_sample

        docs = _read(spark, sf, "documents").withColumn(
            "payload", F.col("text").cast("binary")
        )
        r = frame_sample(docs, "payload", "doc_id", every_n_bytes=64, fake=True)
        return r.select(
            "id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.col("frame_offset").cast("long").alias("frame_offset"),
        )

    def mm_frame_sample_avi(spark, sf):
        # REAL demuxer path (no fake anywhere): synthesize a
        # deterministic uncompressed AVI per doc (synth_avi), walk the
        # RIFF chunks natively (demux_avi) and emit each video frame's
        # actual byte offset; the oracle recomputes the offsets in
        # closed form from the fixed header layout.
        import pandas as _pd

        from clp_spark.functions.multimodal import frame_sample, synth_avi

        docs = _read(spark, sf, "documents").select("doc_id")

        def gen(batches):
            for pdf in batches:
                yield _pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "payload": [synth_avi(int(i)) for i in pdf["doc_id"]],
                    }
                )

        with_payload = docs.mapInPandas(gen, schema="doc_id long, payload binary")
        return frame_sample(with_payload, "payload", "doc_id", fake=False)

    q["mm_binary_meta"] = mm_binary_meta
    q["mm_decode_features"] = mm_decode_features
    q["mm_frame_sample"] = mm_frame_sample
    q["mm_frame_sample_avi"] = mm_frame_sample_avi

    # ---- IR streams (clp/ffi/ir_stream; clp_s/kv_ir_search) ----
    def ir_kv_search(spark, sf):
        # search KV IR streams directly — no archive build
        # (kv_ir_search.hpp:26-36); KQL grammar + match semantics are
        # shared with the archive engine (ir/search.py)
        from clp_spark.ir import search_kv_ir

        streams = _events_kv_ir_streams(spark, sf)
        hits = search_kv_ir(streams, 'msg: "user * did click" AND k >= 40')
        return hits.select(
            F.get_json_object("auto", "$.event_id").cast("long").alias("event_id")
        )

    def ir_kv_roundtrip(spark, sf):
        # serialize → deserialize fidelity for the KV wire format
        # (Serializer.cpp ↔ ir_unit_deserialization_methods.cpp)
        from clp_spark.ir import read_kv_ir

        streams = _events_kv_ir_streams(spark, sf)
        ev = read_kv_ir(streams)
        return ev.select(
            F.get_json_object("auto", "$.event_id").cast("long").alias("event_id"),
            F.get_json_object("user", "$.type").alias("type"),
            F.get_json_object("user", "$.uid").cast("long").alias("uid"),
            F.get_json_object("user", "$.k").cast("long").alias("k"),
            F.get_json_object("user", "$.msg").alias("msg"),
        )

    def ir_grep(spark, sf):
        # unstructured IR (v0.0.2, four-byte deltas): wildcard grep +
        # ts range over streams without archiving; messages regenerate
        # byte-exactly from logtype + encoded vars
        from clp_spark.ir import grep_ir, serialize_ir_df

        ev = _read(spark, sf, "events")
        lines = ev.select(
            F.expr("unix_millis(cast(ts as timestamp))").alias("ts_ms"),
            F.concat(
                F.lit("user "), "user_id", F.lit(" did "), "event_type",
                F.lit(" eid="), "event_id",
            ).alias("message"),
        )
        streams = serialize_ir_df(lines, events_per_stream=8192)
        out = grep_ir(
            streams,
            "*did purchase*",
            ts_min=1704412800000,
            ts_max=1705017600000,
        )
        return out.select("ts_ms", "message")

    q["ir_kv_search"] = ir_kv_search
    q["ir_kv_roundtrip"] = ir_kv_roundtrip
    q["ir_grep"] = ir_grep

    return q


# ---------------------------------------------------------------- oracles

_SHINGLES_CTE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
sh AS (SELECT DISTINCT doc_id AS id, w[i]||' '||w[i+1]||' '||w[i+2] AS g
       FROM t, UNNEST(range(1, greatest(len(w)-1, 1))) AS u(i)
       WHERE len(w) >= 3),
sz AS (SELECT id, count(*) sz FROM sh GROUP BY id),
inter AS (SELECT a.id da, b.id db, count(*) inter
          FROM sh a JOIN sh b USING (g) WHERE a.id < b.id GROUP BY 1, 2),
jpairs AS (SELECT da AS doc_a, db AS doc_b, inter,
                  sa.sz + sb.sz - inter AS un
           FROM inter JOIN sz sa ON sa.id = da JOIN sz sb ON sb.id = db)
"""

_H60 = "CAST(('0x' || substr(md5({x}),1,15)) AS BIGINT)"


def _h60_sql(x: str) -> str:
    return _H60.format(x=x)


def _minhash_sql() -> str:
    """MinHash-LSH candidate pairs + exact-Jaccard verify, mirroring
    clp_spark.textops.dedup.minhash_lsh_pairs (16 hashes, 4 bands):
    ONE 60-bit md5 per shingle, then 16 rotate-xor permutations (same
    deterministic constants via minhash_mix_params)."""
    from clp_spark.textops.dedup import minhash_mix_params

    mins_parts = []
    for i, (r, c) in enumerate(minhash_mix_params(16)):
        lo = (1 << (60 - r)) - 1
        rot = f"(((h & {lo}) << {r}) | (h >> {60 - r}))"
        mins_parts.append(f"min(xor({rot}, {c})) AS h{i}")
    mins = ",\n       ".join(mins_parts)
    bands = []
    for j in range(4):
        cols = ", ".join(f"h{j * 4 + r}" for r in range(4))
        bands.append(
            f"SELECT id, {j} AS band, md5(concat_ws(',', {cols})) AS bh FROM sig"
        )
    banded = " UNION ALL ".join(bands)
    return f"""{_SHINGLES_CTE},
hs AS (SELECT id, {_h60_sql("'0:' || g")} AS h FROM sh),
sig AS (SELECT id, {mins} FROM hs GROUP BY id),
banded AS ({banded}),
cand AS (SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
         FROM banded a JOIN banded b USING (band, bh) WHERE a.id < b.id)
SELECT c.doc_a, c.doc_b FROM cand c
JOIN jpairs j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
WHERE 5 * j.inter >= 4 * j.un
"""


# curation tail shared by both corpus_curation oracles: pairs CTE `p`
# → undirected closure → min-id reps → stratified sample → per-source
# cap (mirrors curate.py's stage chain exactly)
_CURATION_TAIL = """,
e AS (SELECT doc_a AS a, doc_b AS b FROM p
      UNION SELECT doc_b, doc_a FROM p),
reach(a, b) AS (
    SELECT a, b FROM e
    UNION
    SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
),
reps AS (SELECT d.doc_id,
                least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS rep
         FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
         GROUP BY d.doc_id),
sampled AS (
  SELECT d.doc_id, d.lang, d.source
  FROM documents d JOIN reps USING (doc_id)
  WHERE reps.rep = d.doc_id
    AND CAST(('0x' || substr(md5('0:' || CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT)
        < CASE d.lang WHEN 'en' THEN 576460752303423488 WHEN 'de' THEN 288230376151711744 ELSE 115292150460684697 END
)
SELECT doc_id, lang, source FROM (
  SELECT sampled.*, row_number() OVER (PARTITION BY source ORDER BY doc_id) rn
  FROM sampled
) WHERE rn <= 5
"""


def _minhash_curation_sql() -> str:
    """corpus_curation with the MinHash-LSH dedup stage: the minhash
    pair query re-shaped into a `p` CTE, then the shared curation tail."""
    body = _minhash_sql()
    head, final = body.rsplit("SELECT c.doc_a, c.doc_b FROM cand c", 1)
    verify = final.strip()
    p_cte = (
        ",\np AS (SELECT c.doc_a, c.doc_b FROM cand c\n" + verify + ")"
    )
    return (
        head.rstrip().rstrip(",").replace("WITH ", "WITH RECURSIVE ", 1)
        + p_cte
        + _CURATION_TAIL
    )


def _simhash_sql() -> str:
    h = _h60_sql("'7:' || w"
                 )
    return f"""
WITH words AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w
               FROM documents),
hw AS (SELECT id, {h} AS h FROM words),
bits AS (SELECT id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) tot
         FROM hw, UNNEST(range(0, 60)) AS u(j) GROUP BY id, j)
SELECT id, CAST(sum(CASE WHEN tot > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
       AS simhash
FROM bits GROUP BY id
"""


_QUANT = "list_transform({v}, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT))"


def _duck_bucket(qvec_expr: str, num_planes: int, dim: int = 64) -> str:
    """DuckDB mirror of similarity.lsh_bucket_expr: sign-bit signature
    over the same deterministic md5-derived ±1 hyperplanes, applied to a
    quantized BIGINT list expr. Integer dots ⇒ identical buckets in both
    engines."""
    parts = []
    for p_ in range(num_planes):
        w = (
            f"list_transform(range(0, {dim}), i -> CASE WHEN "
            f"(CAST(('0x' || substr(md5('{p_}:' || i), 1, 15)) AS BIGINT) & 1) = 1 "
            f"THEN 1 ELSE -1 END)"
        )
        parts.append(
            f"(CASE WHEN CAST(list_dot_product({qvec_expr}, {w}) AS BIGINT) >= 0 "
            f"THEN {1 << p_} ELSE 0 END)"
        )
    return " + ".join(parts)


def oracle_sql() -> dict[str, str]:
    toks = "string_split_regex(trim(text), '\\s+')"
    stop = "'the','a','of','and','to','in','is','it'"
    bpe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
    ev_msg = "(event_type || ' ' || props)"
    markers = {
        "en": "'the','of','and','a','is'",
        "de": "'der','die','und','das','ist'",
        "fr": "'le','la','et','les','est'",
        "es": "'el','los','y','es','las'",
    }
    sc = {
        k: f"len(list_filter({toks}, t -> t IN ({v})))" for k, v in markers.items()
    }
    pred = (
        f"CASE WHEN ({sc['en']}) = 0 AND ({sc['de']}) = 0 AND ({sc['fr']}) = 0 "
        f"AND ({sc['es']}) = 0 THEN 'und' "
        f"WHEN ({sc['en']}) >= ({sc['de']}) AND ({sc['en']}) >= ({sc['fr']}) "
        f"AND ({sc['en']}) >= ({sc['es']}) THEN 'en' "
        f"WHEN ({sc['de']}) >= ({sc['fr']}) AND ({sc['de']}) >= ({sc['es']}) THEN 'de' "
        f"WHEN ({sc['fr']}) >= ({sc['es']}) THEN 'fr' ELSE 'es' END"
    )
    per_tok = f"list_transform({toks}, t -> length(t)*131 + ascii(t))"
    fold = (
        f"list_reduce(list_prepend(0::BIGINT, {per_tok}), "
        f"(acc, x) -> (acc*1000003 + x) % 1000000007)"
    )
    qe = _QUANT.format(v="e.embedding")
    qq = _QUANT.format(v="q.embedding")

    o = {
        "clp_grep": "SELECT doc_id FROM documents WHERE text LIKE '%value%fast%'",
        "clp_kql_query": """
            SELECT event_id FROM events
            WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) < 30
              AND event_type IN ('click', 'view')
        """,
        "clp_kql_list_nested": """
            SELECT event_id FROM events
            WHERE event_type IN ('click', 'view')
              AND user_id % 7 = 3
              AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 10
        """,
        "clp_kql_bare_value": """
            SELECT event_id FROM events WHERE event_type = 'purchase'
        """,
        "clp_kql_federated": """
            SELECT event_id FROM events
            WHERE user_id % 2 = 0 AND user_id > 40
        """,
        "mcp_search_page": """
            WITH e AS (
              SELECT epoch_ms(ts) AS ts_ms,
                     'timestamp: ' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%g')
                     || 'Z, message: {"type":"' || event_type
                     || '","uid":' || user_id
                     || '}, link: clp://ev/' || event_id AS entry
              FROM events WHERE event_type = 'click'
            )
            SELECT entry FROM e
            ORDER BY ts_ms DESC, entry ASC
            LIMIT 10 OFFSET 10
        """,
        "clp_sql_over_archives": """
            SELECT event_type AS type, count(*) AS n,
                   sum(CASE WHEN user_id % 2 = 0 THEN user_id END) AS sum_uid,
                   sum(CASE WHEN user_id % 2 = 1 THEN user_id * 2 END)
                       AS sum_amount
            FROM events GROUP BY event_type
        """,
        "clp_ts_ingest_roundtrip": """
            SELECT event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') || ' ' || event_type
                   || ' uid=' || user_id AS line
            FROM events
        """,
        "clp_ts_ingest_range_count": """
            SELECT count(*) AS n FROM events
            WHERE (' ' || event_type || ' uid=' || user_id) LIKE '%view%'
              AND (epoch_ms(ts) // 1000) * 1000 >= 1704412800000
              AND (epoch_ms(ts) // 1000) * 1000 <= 1705017600000
        """,
        "clp_ts_tz_roundtrip": """
            SELECT event_id,
                   strftime(ts, '%Y-%m-%dT%H:%M:%S')
                   || CASE user_id % 4
                        WHEN 0 THEN 'Z' WHEN 1 THEN '+05:30'
                        WHEN 2 THEN '-08:00' ELSE '+0200' END
                   || ' ' || event_type || ' uid=' || user_id AS line
            FROM events
        """,
        "clp_ts_tz_range_count": """
            SELECT count(*) AS n FROM events
            WHERE (' ' || event_type || ' uid=' || user_id) LIKE '%view%'
              AND (epoch_ms(ts) // 1000) * 1000
                  - CASE user_id % 4
                      WHEN 0 THEN 0 WHEN 1 THEN 330
                      WHEN 2 THEN -480 ELSE 120 END * 60000
                  >= 1704412800000
              AND (epoch_ms(ts) // 1000) * 1000
                  - CASE user_id % 4
                      WHEN 0 THEN 0 WHEN 1 THEN 330
                      WHEN 2 THEN -480 ELSE 120 END * 60000
                  <= 1705017600000
        """,
        "clp_json_array_filter": """
            SELECT event_id FROM events
            WHERE (user_id % 5 = 3 OR event_id % 7 = 3)
              AND user_id % 3 = 1
        """,
        "clp_json_unstructured_array": """
            SELECT event_id FROM events
            WHERE (user_id % 13 >= 9 AND user_id % 4 = 3)
               OR event_id % 11 = 10
        """,
        "clp_json_typed_filter": """
            SELECT event_id FROM events
            WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) < 50
              AND event_type = 'click'
        """,
        "clp_json_clpstring_eq": """
            SELECT event_id FROM events
            WHERE ('user ' || user_id || ' did ' || event_type) = 'user 7 did view'
        """,
        "clp_json_clpstring_wild": """
            SELECT event_id FROM events WHERE event_type LIKE 'p%e'
        """,
        "clp_json_roundtrip": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   user_id AS uid,
                   event_type AS type,
                   ('user ' || user_id || ' did ' || event_type) AS msg
            FROM events
        """,
        "clp_multiline_assembly": """
            WITH lines AS (
              SELECT event_id % 10 AS file, event_id AS line_no,
                     CASE WHEN event_id % 3 = 0
                          THEN '    at frame ' || event_id
                          ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') || ' ' || event_type
                     END AS line,
                     CASE WHEN event_id % 3 = 0 THEN 0 ELSE 1 END AS has_ts
              FROM events),
            idx AS (
              SELECT file, line_no, line,
                     sum(has_ts) OVER (PARTITION BY file ORDER BY line_no) AS mi
              FROM lines),
            grouped AS (
              SELECT file, mi,
                     string_agg(line, chr(10) ORDER BY line_no) AS message,
                     count(*) AS n_lines
              FROM idx GROUP BY file, mi)
            SELECT file,
                   CAST(mi - min(mi) OVER (PARTITION BY file) AS BIGINT)
                       AS msg_idx,
                   message, n_lines
            FROM grouped
        """,
        "clp_grep_wildvar": (
            "SELECT doc_id FROM documents WHERE text LIKE '%va_ue%'"
        ),
        "clp_sink_pruned_grep": (
            "SELECT doc_id FROM documents WHERE text LIKE '%merge batch%'"
        ),
        "clp_seg_ts_pruned_grep": f"""
            SELECT event_id FROM events
            WHERE {ev_msg} LIKE '%purchase%'
              AND ts >= TIMESTAMP '2024-01-25 00:00:00'
        """,
        "clp_schema_dfa_grep": (
            f"SELECT event_id FROM events WHERE {ev_msg} LIKE '% 7%'"
        ),
        "clp_json_range_index_filter": """
            SELECT event_id FROM events
            WHERE CAST(floor(event_id / 250) AS BIGINT) = 3
              AND event_type = 'error'
        """,
        "clp_kql_count_by_time": """
            SELECT CAST(floor(epoch_ms(ts) / 86400000) * 86400000 AS BIGINT)
                       AS bucket,
                   count(*) AS n
            FROM events WHERE event_type = 'view'
            GROUP BY 1 ORDER BY 1
        """,
        "clp_stream_assembly": """
            WITH lines AS (
              SELECT CAST(event_id % 10 AS VARCHAR) AS file,
                     event_id AS line_no,
                     CASE WHEN event_id % 3 = 0
                          THEN '    at frame ' || event_id
                          ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') || ' ' || event_type
                     END AS line,
                     CASE WHEN event_id % 3 = 0 THEN 0 ELSE 1 END AS has_ts
              FROM events),
            idx AS (
              SELECT file, line_no, line,
                     sum(has_ts) OVER (PARTITION BY file ORDER BY line_no) AS mi
              FROM lines),
            grouped AS (
              SELECT file, mi,
                     string_agg(line, chr(10) ORDER BY line_no) AS message,
                     count(*) AS n_lines
              FROM idx GROUP BY file, mi),
            shifted AS (
              SELECT file,
                     CAST(mi - min(mi) OVER (PARTITION BY file) AS BIGINT)
                         AS msg_idx,
                     message, n_lines
              FROM grouped)
            SELECT file, msg_idx, message, CAST(n_lines AS BIGINT) AS n_lines
            FROM shifted s
            WHERE msg_idx < (SELECT max(s2.msg_idx) FROM shifted s2
                             WHERE s2.file = s.file)
        """,
        "clp_grep_phrase": (
            "SELECT doc_id FROM documents WHERE text LIKE '%fast table%'"
        ),
        "clp_grep_count": (
            "SELECT count(*) AS n FROM documents WHERE text LIKE '%spark%'"
        ),
        "clp_grep_zero": (
            "SELECT doc_id FROM documents WHERE text LIKE '%qz9x8w7_no_such_token%'"
        ),
        "clp_decode_roundtrip": "SELECT doc_id, text FROM documents",
        "clp_events_grep_bucket_counts": f"""
            SELECT (epoch_ms(ts) // {_DAY_MS}) * {_DAY_MS} AS bucket,
                   count(*) AS n
            FROM events WHERE {ev_msg} LIKE '%error%'
            GROUP BY bucket ORDER BY bucket
        """,
        "clp_events_topk_latest": f"""
            SELECT event_id, epoch_ms(ts) AS ts_ms FROM events
            WHERE {ev_msg} LIKE '%click%'
            ORDER BY ts DESC, event_id DESC LIMIT 100
        """,
        "clp_events_ts_range_count": f"""
            SELECT count(*) AS n FROM events
            WHERE {ev_msg} LIKE '%view%'
              AND ts >= TIMESTAMP '2024-01-05 00:00:00'
              AND ts <= TIMESTAMP '2024-01-12 00:00:00'
        """,
        "clp_events_int_var_grep": (
            f"SELECT event_id FROM events WHERE {ev_msg} LIKE '% 69}}%'"
        ),
        "ir_kv_search": """
            SELECT event_id FROM events
            WHERE event_type = 'click'
              AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 40
        """,
        "ir_kv_roundtrip": """
            SELECT event_id, event_type AS type, user_id AS uid,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   'user ' || user_id || ' did ' || event_type AS msg
            FROM events
        """,
        "ir_grep": """
            SELECT epoch_ms(ts) AS ts_ms,
                   'user ' || user_id || ' did ' || event_type
                     || ' eid=' || event_id AS message
            FROM events
            WHERE event_type = 'purchase'
              AND epoch_ms(ts) >= 1704412800000
              AND epoch_ms(ts) <= 1705017600000
        """,
        "agg_count_by_type": (
            "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
        ),
        "events_count_by_day": f"""
            SELECT (epoch_ms(ts) // {_DAY_MS}) * {_DAY_MS} AS bucket,
                   count(*) AS n
            FROM events GROUP BY bucket
        """,
        "enrich_broadcast_join": """
            SELECT n_name, count(*) AS n_orders,
                   CAST(floor(sum(o_totalprice)*100 + 0.5) AS BIGINT) AS total_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "json_extract_props": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "grok_extract_props": """
            SELECT event_id,
                   regexp_extract(props, '"k": ([+-]?\\d+)', 1) AS k
            FROM events
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY text
        """,
        "dedup_ngram_jaccard": _SHINGLES_CTE
        + "SELECT doc_a, doc_b FROM jpairs WHERE 5 * inter >= 4 * un",
        "corpus_curation": """
WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
sh AS (SELECT DISTINCT doc_id AS id, w[i]||' '||w[i+1]||' '||w[i+2] AS g
       FROM t, UNNEST(range(1, greatest(len(w)-1, 1))) AS u(i)
       WHERE len(w) >= 3),
sz AS (SELECT id, count(*) sz FROM sh GROUP BY id),
inter AS (SELECT a.id da, b.id db, count(*) inter
          FROM sh a JOIN sh b USING (g) WHERE a.id < b.id GROUP BY 1, 2),
jpairs AS (SELECT da AS doc_a, db AS doc_b, inter,
                  sa.sz + sb.sz - inter AS un
           FROM inter JOIN sz sa ON sa.id = da JOIN sz sb ON sb.id = db),
p AS (SELECT doc_a, doc_b FROM jpairs WHERE 5 * inter >= 4 * un),
e AS (SELECT doc_a AS a, doc_b AS b FROM p
      UNION SELECT doc_b, doc_a FROM p),
reach(a, b) AS (
    SELECT a, b FROM e
    UNION
    SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
),
reps AS (SELECT d.doc_id,
                least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS rep
         FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
         GROUP BY d.doc_id),
sampled AS (
  SELECT d.doc_id, d.lang, d.source
  FROM documents d JOIN reps USING (doc_id)
  WHERE reps.rep = d.doc_id
    AND CAST(('0x' || substr(md5('0:' || CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT)
        < CASE d.lang WHEN 'en' THEN 576460752303423488 WHEN 'de' THEN 288230376151711744 ELSE 115292150460684697 END
)
SELECT doc_id, lang, source FROM (
  SELECT sampled.*, row_number() OVER (PARTITION BY source ORDER BY doc_id) rn
  FROM sampled
) WHERE rn <= 5
        """,
        "text_redact_pii": """
            SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
              text || ' contact u' || CAST(doc_id AS VARCHAR)
                   || '@m' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example via 10.' || CAST(doc_id % 200 AS VARCHAR)
                   || '.0.' || CAST(doc_id % 50 AS VARCHAR)
                   || ' acct ' || CAST(doc_id * 1000003 + 123456789 AS VARCHAR),
              '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
              '\\b\\d{9,}\\b', '<NUM>', 'g') AS text
            FROM documents
        """,
        "sample_cap_per_source": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              FROM documents) WHERE rn <= 10
        """,
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
                  < CASE lang WHEN 'en' THEN 576460752303423488
                              WHEN 'de' THEN 288230376151711744
                              ELSE 115292150460684697 END
        """,
        "dedup_spans": """
            WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ),
            chunks AS (
              SELECT doc_id, g.i AS ord,
                     array_to_string(ws[g.i*5+1 : g.i*5+5], ' ') AS chunk
              FROM w, LATERAL (
                SELECT unnest(generate_series(
                  0, CAST(ceil(len(ws)/5.0) - 1 AS BIGINT))) AS i) g
            ),
            stats AS (
              SELECT chunk, count(*) AS n, min(doc_id) AS keeper
              FROM chunks GROUP BY chunk
            )
            SELECT chunks.doc_id,
                   string_agg(chunks.chunk, ' ' ORDER BY chunks.ord) AS text
            FROM chunks JOIN stats USING (chunk)
            WHERE stats.n = 1 OR chunks.doc_id = stats.keeper
            GROUP BY chunks.doc_id
        """,
        "dedup_cluster_reps": _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
        + """,
p AS (SELECT doc_a, doc_b FROM jpairs WHERE 5 * inter >= 4 * un),
e AS (SELECT doc_a AS a, doc_b AS b FROM p
      UNION SELECT doc_b, doc_a FROM p),
reach(a, b) AS (
    SELECT a, b FROM e
    UNION
    SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
)
SELECT d.doc_id,
       least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS rep
FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
GROUP BY d.doc_id
""",
        "text_top_term": """
            WITH w AS (SELECT doc_id AS id,
                              unnest(string_split_regex(trim(text), '\\s+')) AS term
                       FROM documents),
            tf AS (SELECT id, term, count(*) AS tf FROM w GROUP BY id, term),
            dfx AS (SELECT term, count(DISTINCT id) AS df FROM w GROUP BY term),
            r AS (SELECT id, term, tf, df,
                         row_number() OVER (
                             PARTITION BY id
                             ORDER BY tf DESC, df ASC, term ASC) AS rk
                  FROM tf JOIN dfx USING (term))
            SELECT id, term, tf, df FROM r WHERE rk = 1
        """,
        "dedup_minhash_lsh": _minhash_sql(),
        "corpus_curation_minhash": _minhash_curation_sql(),
        "text_simhash": _simhash_sql(),
        "dedup_embedding": f"""
            WITH qv AS (SELECT vec_id, {_QUANT.format(v='embedding')} qv
                        FROM embeddings),
            blk AS (SELECT vec_id, qv, {_duck_bucket('qv', 4)} AS blk FROM qv)
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM blk a JOIN blk b
              ON a.blk = b.blk AND a.vec_id < b.vec_id
            WHERE CAST(list_dot_product(a.qv, b.qv) AS BIGINT) >= 0
              AND 25 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
                     * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
                  >= 4 * CAST(list_dot_product(a.qv, a.qv) AS BIGINT)
                       * CAST(list_dot_product(b.qv, b.qv) AS BIGINT)
        """,
        "ann_lsh_topk": f"""
            WITH e AS (SELECT vec_id, {_QUANT.format(v='embedding')} qv
                       FROM embeddings),
            q AS (SELECT qv AS qqv, {_duck_bucket('qv', 6)} AS qb
                  FROM e WHERE vec_id = 0),
            v AS (SELECT vec_id, qv, {_duck_bucket('qv', 6)} AS vb
                  FROM e WHERE vec_id != 0)
            SELECT v.vec_id,
                   CAST(list_dot_product(v.qv, q.qqv) AS BIGINT) AS dot
            FROM v, q
            WHERE xor(v.vb, q.qb) IN (0, 1, 2, 4, 8, 16, 32)
            ORDER BY dot DESC, v.vec_id ASC LIMIT 10
        """,
        "ann_topk": f"""
            SELECT e.vec_id,
                   CAST(list_dot_product({qe}, {qq}) AS BIGINT) AS dot
            FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id != 0
            ORDER BY dot DESC, e.vec_id ASC LIMIT 10
        """,
        "ann_ivf_topk": f"""
            WITH e AS (SELECT vec_id, {_QUANT.format(v='embedding')} AS qv
                       FROM embeddings),
            cent AS (SELECT vec_id AS cid, qv AS cqv
                     FROM e WHERE vec_id != 0
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
            q AS (SELECT qv AS qqv FROM e WHERE vec_id = 0),
            qc AS (SELECT c.cid FROM cent c, q
                   ORDER BY CAST(list_dot_product(c.cqv, q.qqv) AS BIGINT) DESC,
                            c.cid ASC LIMIT 3),
            a AS (SELECT v.vec_id, v.qv,
                    (SELECT c.cid FROM cent c
                     ORDER BY CAST(list_dot_product(v.qv, c.cqv) AS BIGINT) DESC,
                              c.cid ASC LIMIT 1) AS cell
                  FROM e v WHERE v.vec_id != 0)
            SELECT a.vec_id,
                   CAST(list_dot_product(a.qv, q.qqv) AS BIGINT) AS dot
            FROM a, q
            WHERE a.cell IN (SELECT cid FROM qc)
            ORDER BY dot DESC, a.vec_id ASC LIMIT 10
        """,
        "text_token_counts": f"""
            SELECT doc_id AS id,
                   len({toks}) AS n_ws_tokens,
                   len(regexp_extract_all(text, '{bpe}')) AS n_bpe_tokens
            FROM documents
        """,
        "text_quality": f"""
            SELECT doc_id AS id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   len({toks}) AS n_tokens,
                   len(list_filter({toks}, t -> t IN ({stop}))) AS n_stopwords,
                   len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
                   len(list_distinct({toks})) AS n_distinct_tokens
            FROM documents
        """,
        "text_langid": f"SELECT doc_id AS id, {pred} AS pred_lang FROM documents",
        "text_fingerprint": f"SELECT doc_id AS id, CAST({fold} AS BIGINT) AS fp FROM documents",
        "mm_binary_meta": """
            SELECT doc_id AS id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   substr(hex(encode(text)), 1, 8) AS magic_hex
            FROM documents
        """,
        "mm_frame_sample": """
            SELECT doc_id AS id,
                   CAST(u.i AS BIGINT) AS frame_idx,
                   CAST(u.i * 64 AS BIGINT) AS frame_offset
            FROM documents,
                 UNNEST(range(0, greatest(
                     CAST(floor(octet_length(encode(text)) / 64) AS BIGINT), 1
                 ))) AS u(i)
        """,
        # mm_frame_sample_avi: the Spark side builds an uncompressed AVI
        # per doc (w=1+id%13, h=1+id%7, n=1+id%4 frames) and demuxes it
        # by actually walking the RIFF chunks; the fixed header layout
        # puts frame k's DIB data at 232 + k*(8 + stride*h) with
        # stride = ((3w+3)//4)*4 — recomputed here in closed form.
        "mm_frame_sample_avi": """
            WITH p AS (
              SELECT doc_id,
                     1 + doc_id % 13 AS w,
                     1 + doc_id % 7 AS h,
                     1 + doc_id % 4 AS n
              FROM documents
            ), q AS (
              SELECT doc_id, n, (((3 * w + 3) // 4) * 4) * h AS fsz FROM p
            )
            SELECT doc_id AS id,
                   CAST(u.k AS BIGINT) AS frame_idx,
                   CAST(232 + u.k * (8 + fsz) AS BIGINT) AS frame_offset
            FROM q, UNNEST(range(0, n)) AS u(k)
        """,
        # mm_decode_features: the Spark side builds a BMP whose pixels
        # are (doc_id + k) % 256 for k in [0, w*h*3) and decodes it with
        # the real BMP parser; the oracle recomputes width/height and
        # the exact pixel-byte sum in closed form:
        # S(m) = (m//256)*32640 + r*(r-1)/2 with r = m%256, and
        # pix_sum = S(seed+n) - S(seed).
        "mm_decode_features": """
            WITH p AS (
              SELECT doc_id AS id,
                     1 + doc_id % 31 AS width,
                     1 + doc_id % 17 AS height,
                     doc_id % 256 AS seed,
                     (1 + doc_id % 31) * (1 + doc_id % 17) * 3 AS n
              FROM documents)
            SELECT CAST(id AS BIGINT) AS id,
                   CAST(width AS BIGINT) AS width,
                   CAST(height AS BIGINT) AS height,
                   CAST(3 AS BIGINT) AS channels,
                   CAST(
                     ((seed + n) // 256) * 32640
                     + ((seed + n) % 256) * ((seed + n) % 256 - 1) // 2
                     - (seed * (seed - 1) // 2)
                   AS BIGINT) AS pix_sum
            FROM p
        """,
    }
    # the materialized IVF index probes the same nprobe cells with the
    # same quantized dots as the in-memory path, so the two oracles are
    # one string — aliased, not copied, so they cannot drift
    o["ann_ivf_pruned"] = o["ann_ivf_topk"]
    return o
