"""Physical-plan regression tests — the plan IS the product at 100 TB.

Pins the three plan properties the engine's design depends on:
column pruning reaches the parquet scan (never read ``html`` unless a
rule needs it), filters push down to the scan, and N merged rules cost
exactly ONE scan with map-side partial aggregation; and each text
operator's gram UDF is evaluated once per document."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from validatelite_spark.core.rules import enum, length, not_null, range_rule
from validatelite_spark.operators.dedup import _shingle_table
from validatelite_spark.operators.substrings import positional_grams
from validatelite_spark.operators.winnowing import winnow_fingerprints
from validatelite_spark.pipeline.pages import synthesize_pages
from validatelite_spark.pipeline.quality import QualityPipeline
from validatelite_spark.plans.compiler import compile_rule
from validatelite_spark.plans.merger import build_merge_groups


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "pages")
    synthesize_pages(spark, 500).write.parquet(p)
    return p


class TestPlanShape:
    def test_html_pruned_from_pipeline_scan(self, spark, pages_path):
        pages = spark.read.parquet(pages_path)
        ann = QualityPipeline(spark).annotate(pages).select("url", "keep")
        plan = plan_of(ann)
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        assert "html" not in scan, f"binary column not pruned: {scan}"
        assert "url" in scan and "text" in scan

    def test_filter_pushdown_reaches_parquet(self, spark, sf_dir):
        df = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .filter(F.col("n_chars") > 300).agg(F.count("*")))
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,300)" \
            in plan

    def test_merged_rules_single_scan_partial_agg(self, spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rules = [not_null("text"), range_rule("n_chars", 0, 400),
                 enum("lang", ["en"]), length("text", 1, 10_000)]
        [group] = build_merge_groups([compile_rule(r, df.schema)
                                       for r in rules])
        agg = df.agg(*group.agg_columns())
        plan = plan_of(agg)
        assert plan.count("FileScan") == 1, "merged rules must scan once"
        assert plan.count("HashAggregate") == 2, "partial+final agg expected"
        # scan reads only the rule columns
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        assert "doc_id" not in scan and "source" not in scan

    def test_broadcast_join_in_topk(self, spark, sf_dir):
        import __spark_entry__ as em
        plan = plan_of(em._q_top_customers(spark, sf_dir))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        # top-k must be TakeOrderedAndProject (per-partition top-k),
        # never a global window over ALL aggregated customers; the only
        # single-partition exchange allowed is the post-limit k-row rank
        assert "TakeOrderedAndProject" in plan
        win_inputs = plan.split("Window")[1] if "Window" in plan else ""
        assert "TakeOrderedAndProject" in win_inputs, (
            "rank window must consume the k-row limit, not the full join")


@pytest.mark.parametrize("build", [
    lambda d: _shingle_table(d, "text", "doc_id", 3),
    positional_grams,
    winnow_fingerprints,
], ids=["shingle_table", "positional_grams", "winnow_fingerprints"])
def test_gram_udf_evaluated_once(spark, sf_dir, build):
    # the size(...) > 0 filter above each gram projection (explicit, or
    # the one Spark infers for the explode) must not carry a second copy
    # of the Arrow UDF below the projection
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert plan_of(build(docs)).count("ArrowEvalPython") == 1
