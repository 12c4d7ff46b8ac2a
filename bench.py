"""Benchmark runner: headline queries + pipeline throughput.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: cold_sec, ...},       # first run vs warm archives
   "queries_warm": {name: warm_sec, ...},  # immediate re-run
   "archive_build_sec": ...,               # compress-once cost, untimed in value
   "sf": ...,
   "pipeline": {docs, raw_mb, wall_sec, docs_per_sec, mb_per_sec}}

value = sum(cold query secs) + pipeline wall.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     CLP_BENCH_PAGES (override pipeline fixture row count).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pyspark.sql.functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )

    from clp_spark.session import get_spark

    spark = get_spark("clp_spark_bench", cores=cpus)
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.1

    import __spark_entry__ as em

    queries = em.queries()
    headline = [
        "clp_grep",
        "clp_decode_roundtrip",
        "clp_events_grep_bucket_counts",
        "clp_events_topk_latest",
        "clp_sink_pruned_grep",
        "clp_json_typed_filter",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_cluster_reps",
        "text_simhash",
        "ann_topk",
        "text_quality",
        "text_fingerprint",
    ]
    # Archive build (untimed relative to queries, reported separately):
    # builds ONLY the shared encoded archives (compress_df corpora,
    # persisted sinks, clp_s JSON archive) — CLP's model is
    # compress-once / search-many. The timed queries themselves are NOT
    # pre-run (round 2 did, which also warmed persisted frames, shuffle
    # files and the page cache — its "query" numbers were hot repeats).
    # Each query is then timed twice: `queries` = first (cold) run
    # against the warm archives; `queries_warm` = immediate re-run.
    t0 = time.time()
    em.warm_archives(spark, sf_dir)
    archive_build_sec = round(time.time() - t0, 3)

    times: dict[str, float] = {}
    times_warm: dict[str, float] = {}
    for name in headline:
        t0 = time.time()
        df = queries[name](spark, sf_dir)
        # noop sink forces full materialization without collect overhead
        df.write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 3)
        t0 = time.time()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        times_warm[name] = round(time.time() - t0, 3)

    # ---- pipeline throughput: parse → dicts → encode → route → metrics ----
    # release the query corpora first: the pipeline measurement should
    # not pay the queries' persisted frames' memory pressure
    try:
        em._CORPUS_CACHE.clear()
    except Exception:
        pass
    spark.catalog.clearCache()

    from clp_spark.config import PipelineConfig
    from clp_spark.fixtures.pages import generate_pages_df
    from clp_spark.pipeline import compress

    n_pages = int(os.environ.get("CLP_BENCH_PAGES", str(max(int(1_000_000 * sf), 2000))))
    pages = generate_pages_df(spark, n_pages).persist()
    raw_bytes = pages.select(
        F.sum(F.octet_length("text")).alias("b")
    ).collect()[0]["b"]
    pages.count()  # materialize cache so generation isn't timed

    out = tempfile.mkdtemp(prefix="clp_bench_")
    t0 = time.time()
    compress(spark, pages, out, PipelineConfig(num_checkpoint_buckets=1))
    pipeline_wall = time.time() - t0
    shutil.rmtree(out, ignore_errors=True)
    # second, fresh-dir run: the sandbox host's hypervisor steal swings
    # single-run walls by ±30%; the repeat gives the reader a same-moment
    # second sample (headline wall_sec stays the FIRST run — accounting
    # unchanged across rounds)
    out2 = tempfile.mkdtemp(prefix="clp_bench2_")
    t0 = time.time()
    compress(spark, pages, out2, PipelineConfig(num_checkpoint_buckets=1))
    pipeline_wall2 = time.time() - t0
    pages.unpersist()

    # ---- var-manifest probe (REPORTED SEPARATELY): dict-var-selective
    # IN-probe against the just-written range-sorted var manifest (the
    # pages corpus carries dict vars; the sf parquet corpora do not).
    # The min/max layout guarantee is asserted by
    # test_var_manifest_pruning; this line prices the probe ----
    vm = spark.read.parquet(os.path.join(out2, "manifest", "var"))
    vid = vm.selectExpr("max(var_id) v").collect()[0]["v"]
    if vid is None:
        var_probe_sec = 0.0
    else:
        t0 = time.time()
        vm.filter(f"var_id IN ({int(vid)})").count()
        var_probe_sec = round(time.time() - t0, 3)
    shutil.rmtree(out2, ignore_errors=True)

    # ---- distributed clp_s build (REPORTED SEPARATELY — headline
    # accounting unchanged): force driver_dict_cap below the sf's
    # dictionary cardinalities so the fully distributed build
    # (assign_stable_ids ranks + join-based encode, encoder.py
    # _encode_json_distributed) gets a measured cost at bench scale,
    # not just a 7-record pytest ----
    from clp_spark.clps import encode_json_df

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    j = ev.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("event_type").alias("type"),
                F.col("user_id").alias("uid"),
                F.concat(
                    F.lit("user "), "user_id", F.lit(" did "), "event_type"
                ).alias("msg"),
            )
        ).alias("json"),
    )
    t0 = time.time()
    dist_arch = encode_json_df(
        j, "json", passthrough=["event_id"], driver_dict_cap=1
    )
    dist_rows = dist_arch.encoded.count()
    clps_dist_sec = round(time.time() - t0, 3)
    spark.catalog.clearCache()

    # ---- minhash-backed composed curation (REPORTED SEPARATELY —
    # headline accounting unchanged): the 100 TB-scale path of the
    # corpus_curation pipeline (LSH candidates instead of the capped
    # shingle self-join) gets a measured cost at bench scale ----
    t0 = time.time()
    queries["corpus_curation_minhash"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    curation_minhash_sec = round(time.time() - t0, 3)

    # ---- KV IR streams (REPORTED SEPARATELY — headline accounting
    # unchanged): serialize events to the v0.1.0 wire format once,
    # then search the streams directly (kv_ir_search analog). First
    # call pays the one-time stream serialization (the producer side —
    # in production the logging library already emitted the streams);
    # the repeat searches the persisted streams, which is the cost
    # kv_ir_search itself pays. ----
    t0 = time.time()
    ir_streams_rows = queries["ir_kv_search"](spark, sf_dir).count()
    ir_build_and_search_sec = round(time.time() - t0, 3)
    t0 = time.time()
    queries["ir_kv_search"](spark, sf_dir).count()
    ir_search_sec = round(time.time() - t0, 3)

    # SQL view over archives (Presto-connector analog), separately
    # reported: first call builds+saves the archive fixture, second
    # measures the warm query (typed view + projection pushdown)
    queries["clp_sql_over_archives"](spark, sf_dir).count()
    t0 = time.time()
    sql_view_rows = queries["clp_sql_over_archives"](spark, sf_dir).count()
    sql_view_sec = round(time.time() - t0, 3)

    total = round(sum(times.values()) + pipeline_wall, 3)
    result = {
        "metric": "clp_spark headline queries + compress pipeline",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_warm": times_warm,
        "sf": sf,
        "pipeline": {
            "docs": n_pages,
            "raw_mb": round(raw_bytes / 1e6, 2),
            "wall_sec": round(pipeline_wall, 3),
            "docs_per_sec": round(n_pages / pipeline_wall, 1),
            "mb_per_sec": round(raw_bytes / 1e6 / pipeline_wall, 2),
            "wall_sec_repeat": round(pipeline_wall2, 3),
            "docs_per_sec_repeat": round(n_pages / pipeline_wall2, 1),
        },
        "archive_build_sec": archive_build_sec,
        "clps_distributed": {"rows": dist_rows, "build_sec": clps_dist_sec},
        "curation_minhash_sec": curation_minhash_sec,
        "ir_kv_search": {
            "hits": ir_streams_rows,
            "sec": ir_search_sec,
            "serialize_and_search_sec": ir_build_and_search_sec,
        },
        "sql_view": {"rows": sql_view_rows, "warm_sec": sql_view_sec},
        "var_manifest_probe_sec": var_probe_sec,
        "cpus": cpus,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
