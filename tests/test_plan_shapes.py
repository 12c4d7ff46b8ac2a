"""Physical-plan shape guards: the 100-TB-safety properties the code
claims (no cartesian fallbacks in dedup defaults, partition pruning
reaching scans) asserted against the actual executed plans, so a
refactor can't silently regress them."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"alpha beta {i % 97} gamma delta {i} x{i % 11}") for i in range(500)],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        [(i, [float((i * j) % 13) / 13 for j in range(1, 9)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )


class TestDedupPlans:
    def test_embedding_near_dup_default_is_not_cartesian(self, emb):
        from clp_spark.textops.dedup import embedding_near_dup_pairs

        plan = _plan(embedding_near_dup_pairs(emb))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_embedding_near_dup_allpairs_is_optin_only(self, emb):
        from clp_spark.textops.dedup import embedding_near_dup_pairs

        plan = _plan(embedding_near_dup_pairs(emb, num_planes=None))
        # the explicit opt-in IS the nested-loop plan — documents intent
        assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan

    def test_simhash_near_dup_default_is_hash_join(self, docs):
        from clp_spark.textops.dedup import simhash_near_dup_pairs

        plan = _plan(simhash_near_dup_pairs(docs))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_minhash_lsh_is_not_cartesian(self, docs):
        from clp_spark.textops.dedup import minhash_lsh_pairs

        plan = _plan(minhash_lsh_pairs(docs))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_ngram_jaccard_is_not_cartesian(self, docs):
        from clp_spark.textops.dedup import ngram_jaccard_pairs

        plan = _plan(ngram_jaccard_pairs(docs))
        assert "CartesianProduct" not in plan


class TestArchivePlans:
    def test_schema_id_filter_is_partition_pruned(self, spark, tmp_path_factory):
        """A loaded JSON archive partitions tables by schema_id; a typed
        filter's schema pruning must reach the scan as PartitionFilters
        (the per-schema-table layout, SchemaWriter.cpp analog)."""
        from clp_spark.clps import encode_json_df, json_filter
        from clp_spark.clps.encoder import JsonArchive

        rows = [
            (i, json.dumps({"a": i} if i % 2 else {"a": i, "b": "x"}))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "rid long, json string")
        out = str(tmp_path_factory.mktemp("plan_arch"))
        encode_json_df(df, "json", passthrough=["rid"]).save(out)
        loaded = JsonArchive.load(spark, out)
        hits = json_filter(loaded, "b", "eq", "x")
        plan = _plan(hits)
        assert "PartitionFilters" in plan and "schema_id" in plan
        assert hits.count() == 100

    def test_range_index_rewrite_prunes_row_groups(self, spark, tmp_path_factory):
        """'$'-filters rewrite to idx-range predicates that reach the
        parquet scan as PushedFilters (row-group min/max pruning)."""
        from clp_spark.clps import encode_json_df, kql_query
        from clp_spark.clps.encoder import JsonArchive

        rows = [
            (i, f"f{i // 100}.log", json.dumps({"a": i % 5}))
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "rid long, _filename string, json string")
        out = str(tmp_path_factory.mktemp("plan_ri"))
        encode_json_df(
            df,
            "json",
            passthrough=["rid"],
            range_index_fields=["_filename"],
            range_index_idx_col="rid",
        ).save(out)
        loaded = JsonArchive.load(spark, out)
        hits = kql_query(loaded, '$_filename: "f1.log"')
        plan = _plan(hits)
        assert "PushedFilters" in plan and "rid" in plan
        assert hits.count() == 100


class TestCurationPlans:
    """Sampling / scrub / span-dedup stay the cheap plans they claim."""

    def test_deterministic_sample_is_scan_pushed_filter(self, docs):
        from clp_spark.textops.sampling import deterministic_sample

        plan = _plan(deterministic_sample(docs, (1, 3)))
        # pure narrow filter: no shuffle anywhere in the plan
        assert "Exchange" not in plan

    def test_stratified_sample_no_shuffle(self, spark):
        from clp_spark.textops.sampling import stratified_sample

        df = spark.createDataFrame(
            [(i, ["en", "de"][i % 2]) for i in range(100)],
            "doc_id long, lang string",
        )
        plan = _plan(stratified_sample(df, {"en": (1, 2)}, default=(0, 1)))
        assert "Exchange" not in plan

    def test_cap_per_stratum_single_shuffle(self, spark):
        from clp_spark.textops.sampling import cap_per_stratum

        df = spark.createDataFrame(
            [(i, f"s{i % 5}") for i in range(100)], "doc_id long, source string"
        )
        # default two-phase: bucket pre-cap + exact cap = two window
        # exchanges, never a single-task hot-stratum sort
        plan = _plan(cap_per_stratum(df, 3, strata_col="source"))
        assert plan.count("Exchange") == 2
        plan1 = _plan(
            cap_per_stratum(df, 3, strata_col="source", presalt_buckets=1)
        )
        assert plan1.count("Exchange") == 1

    def test_redact_pii_no_shuffle_no_python(self, docs):
        from clp_spark.textops.scrub import redact_pii

        plan = _plan(redact_pii(docs))
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_span_dedup_no_cartesian(self, docs):
        from clp_spark.textops.dedup import strip_duplicated_spans

        plan = _plan(strip_duplicated_spans(docs, span_words=4))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestSearchPlans:
    def test_warm_search_decodes_and_confirms_in_one_arrow_map(
        self, spark, tmp_path_factory
    ):
        """Stage 4 is one mapInArrow that decodes and confirms: no
        pandas row map, and no JVM regex over the decoded text."""
        from clp_spark.config import PipelineConfig
        from clp_spark.fixtures.pages import generate_pages_pdf
        from clp_spark.pipeline import compress
        from clp_spark.search.sinks import search_sinks

        out = str(tmp_path_factory.mktemp("plan_search"))
        pages = spark.createDataFrame(generate_pages_pdf(0, 200))
        compress(spark, pages, out, PipelineConfig(num_checkpoint_buckets=1))
        q = "*request handled status=200*"
        search_sinks(spark, out, q).count()
        hits = search_sinks(spark, out, q)
        assert hits.count() > 0
        plan = _plan(hits)
        assert "MapInPandas" not in plan
        at = plan.find("MapInArrow")
        assert at >= 0, plan
        assert "RLIKE" not in plan[:at].upper()
