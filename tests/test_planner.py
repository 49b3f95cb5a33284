"""The rule planner (plans/planner.py) behind the engine and the pipeline.

Pins the planner's two promises: the pipeline's flags ARE the engine's
verdicts (same compiler, same planner — for any rule set, including two
rules of one type), and every planned scan crosses into Python once: one
``ArrowEvalPython`` node holding one UDF, also under ``filter("keep")``."""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from validatelite_spark.core.rules import Rule, RuleType, SeverityLevel
from validatelite_spark.operators.engine import RuleEngine
from validatelite_spark.pipeline.pages import synthesize_pages
from validatelite_spark.pipeline.quality import (PipelineConfig,
                                                 QualityPipeline,
                                                 default_rules)
from validatelite_spark.plans.compiler import compile_rule
from validatelite_spark.plans.merger import count_query, sample_query

HIGH, LOW = SeverityLevel.HIGH, SeverityLevel.LOW


def _rule(t, params=None, name=None, severity=HIGH, column="text"):
    return Rule(t, column, params or {}, name=name, severity=severity)


def engine_frames(df, rules):
    """The frames ``RuleEngine.execute`` runs for the row-level
    ``rules``: the counts' noop write and the sample query."""
    compiled = [compile_rule(r, df.schema) for r in rules]
    return [count_query(df, compiled)[1],
            sample_query(df, compiled, df.columns, df.columns[0], 5)]


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def python_passes(df) -> list[int]:
    """UDFs per ``ArrowEvalPython`` node of the executed plan."""
    plan = executed_plan(df)
    return [line.count("pythonUDF") for line in plan.splitlines()
            if "ArrowEvalPython" in line]


def extra_rules() -> list[Rule]:
    """A Python-``re`` REGEX (``\\w`` keeps it off ``rlike``) and a
    REPETITION rule, every UDF-tier kernel kind, beside a DATE_FORMAT
    (a native Column)."""
    return [_rule(RuleType.REGEX, {"pattern": r"^\w+://\w+\."},
                  name="url_host", column="url", severity=LOW),
            _rule(RuleType.DATE_FORMAT, {"format": "YYYY-MM-DD"},
                  name="day_valid", column="day", severity=LOW),
            _rule("REPETITION", {"n": 2, "max_dup_ngram_frac": 0.02},
                  name="repetition_text", severity=LOW)]


def with_day(df):
    """A ``day`` string column, 2024-02-01..31: the 30th and 31st fail
    the DATE_FORMAT round trip."""
    d = F.pmod(F.xxhash64("url", "text"), F.lit(31)) + 1
    return df.withColumn(
        "day", F.concat(F.lit("2024-02-"), F.lpad(d.cast("string"), 2, "0")))


@pytest.fixture(scope="module")
def pages(spark):
    return with_day(synthesize_pages(spark, 2000)).cache()


@pytest.fixture(scope="module")
def mixed_rules():
    return default_rules() + extra_rules()


def flag_sums(spark, df, rules) -> dict[str, int]:
    _, results = QualityPipeline(spark, PipelineConfig(), rules).run(df)
    return {r.rule_name: r.failed_records for r in results}


def engine_counts(spark, df, rules) -> dict[str, int]:
    return {r.rule_name: r.failed_records
            for r in RuleEngine(spark).execute(df, rules,
                                               collect_samples=False)}


@pytest.mark.parametrize("rules", [
    [_rule(RuleType.LANG_ID, {"allowed_langs": "en"}, name="lang")],
    [_rule(RuleType.PERPLEXITY, {"max_ppl": 13.5}, name="ppl_hi"),
     _rule(RuleType.PERPLEXITY, {"max_ppl": 10.0}, name="ppl_lo",
           severity=LOW)],
    [_rule(RuleType.LANG_ID, {"allowed_langs": ["en"]}, name="lang_en"),
     _rule(RuleType.LANG_ID, {"allowed_langs": ["en", "de"]},
           name="lang_en_de", severity=LOW),
     _rule(RuleType.PII_SCRUB, name="pii", severity=LOW)],
    [_rule(RuleType.PII_SCRUB, name="pii_low", severity=LOW),
     _rule(RuleType.PII_SCRUB, name="pii_high")],
], ids=["string_allowed_langs", "two_perplexity", "two_lang_id_with_pii",
        "two_pii"])
def test_pipeline_flags_equal_engine_counts(spark, pages, rules):
    got = flag_sums(spark, pages, rules)
    assert list(got) == [r.name for r in rules]  # one result per rule
    assert got == engine_counts(spark, pages, rules)
    assert any(got.values())


def test_flag_name_collision_is_refused(spark, pages):
    rules = [_rule(RuleType.NOT_NULL, name="a-b"),
             _rule(RuleType.NOT_NULL, name="a_b")]
    with pytest.raises(ValueError, match="fail_a_b"):
        QualityPipeline(spark, PipelineConfig(), rules).annotate(pages)


def test_second_rule_scrub_gate(spark, pages):
    """Two PII rules, one dropping: every hit document is dropped, so
    nothing is scrubbed and no kept text carries a pattern."""
    rules = [_rule(RuleType.NOT_NULL, severity=SeverityLevel.CRITICAL,
                   name="nn"),
             _rule(RuleType.PII_SCRUB, name="pii_low", severity=LOW),
             _rule(RuleType.PII_SCRUB, name="pii_high")]
    ann = QualityPipeline(spark, PipelineConfig(), rules).annotate(pages)
    row = ann.agg(
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum((F.col("keep") & (F.col("text_scrubbed") != F.col("text")))
              .cast("long")).alias("changed"),
        F.sum((F.col("keep") & F.col("fail_pii_low")).cast("long"))
        .alias("kept_hits")).collect()[0]
    assert row["kept"] > 0 and row["changed"] == 0 and row["kept_hits"] == 0


@pytest.mark.parametrize("source", ["pages", "documents"])
def test_engine_matches_pipeline_rule_by_rule(spark, sf_dir, source,
                                             mixed_rules):
    """Default rules + one kernel of every UDF-tier kind: the engine's
    failed counts equal the pipeline's flag sums, rule by rule."""
    if source == "pages":
        df = with_day(synthesize_pages(spark, 20_000, partitions=8))
    else:
        docs = spark.read.parquet(os.path.join(
            os.path.dirname(sf_dir), "sf0.01", "documents.parquet"))
        host = F.when(F.col("doc_id") % 3 == 0, F.lit("my-")).otherwise("")
        df = with_day(docs.withColumn("url", F.concat(
            F.lit("https://"), host, F.col("source"), F.lit(".example/"),
            F.col("doc_id").cast("string"))))
    df = df.cache()
    got = flag_sums(spark, df, mixed_rules)
    assert got == engine_counts(spark, df, mixed_rules)
    assert all(0 < got[r.name] < df.count()
               for r in extra_rules()), sorted(got.items())
    df.unpersist()


class TestOneArrowPass:
    def test_default_rules(self, spark, pages):
        ann = QualityPipeline(spark).annotate(pages)
        assert python_passes(ann) == [1]
        # GOPHER's and LANG_ID's Column forms (regexp_count is
        # size(regexp_extract_all)) stay out: both ride the Arrow pass
        plan = executed_plan(ann)
        assert "regexp_extract_all" not in plan
        assert "array_distinct" not in plan

    def test_gopher_alone_stays_native(self, spark, pages):
        """No other kernel reads the text: GOPHER takes its Column
        form, with no Python."""
        for frame in engine_frames(pages, [_rule(RuleType.GOPHER)]):
            plan = executed_plan(frame)
            assert "ArrowEvalPython" not in plan and "array_distinct" in plan

    def test_min_ppl_and_pii(self, spark, pages):
        rules = [_rule(RuleType.PERPLEXITY, {"min_ppl": 2.0}, name="ppl"),
                 _rule(RuleType.PII_SCRUB, name="pii", severity=LOW)]
        ann = QualityPipeline(spark, PipelineConfig(), rules).annotate(pages)
        assert python_passes(ann) == [1]

    def test_filter_keep(self, spark, pages):
        ann = QualityPipeline(spark).annotate(pages)
        kept = ann.filter("keep").select("url", "text_scrubbed")
        assert python_passes(kept) == [1]

    def test_engine_merged_group(self, spark, pages, mixed_rules):
        for frame in engine_frames(pages, mixed_rules):
            assert python_passes(frame) == [1]

    def test_curation_rules_stay_native(self, spark, sf_dir):
        """NOT_NULL + GOPHER + LANG_ID with the scrub pruned away: no
        rule kernel shares LANG_ID's column, so no Python at all."""
        from validatelite_spark.pipeline.curation import curate
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assert python_passes(curate(spark, docs, token_budget=2000)) == []
        spark.catalog.clearCache()


#: the scopes of ``scoped_rules``: NOT_NULL is a native flag, GOPHER a
#: kernel flag in the Arrow pass (PERPLEXITY and PII read its column)
SCOPES = {"not_null_text": "xxhash64(url) % 4 = 0",
          "gopher_text": "xxhash64(url) % 2 = 0"}


def scoped_rules() -> list[Rule]:
    return [dataclasses.replace(r, filter_condition=SCOPES.get(r.name))
            for r in default_rules()]


class TestFilteredRule:
    """A rule's ``filter_condition`` means the same in the engine, the
    pipeline, ``rule_overlap`` and the scrub gate: the planner ANDs the
    scope into the rule's flag."""

    @pytest.fixture(scope="class")
    def engine(self, spark, pages):
        return {r.rule_name: (r.total_records, r.failed_records)
                for r in RuleEngine(spark).execute(
                    pages, scoped_rules(), collect_samples=False)}

    def test_pipeline_counts_equal_engine(self, spark, pages, engine):
        _, results = QualityPipeline(spark, PipelineConfig(),
                                     scoped_rules()).run(pages)
        got = {r.rule_name: (r.total_records, r.failed_records)
               for r in results}
        assert got == engine
        n = pages.count()
        assert 0 < engine["not_null_text"][0] < engine["gopher_text"][0] < n
        assert engine["lang_id_text"][0] == n

    def test_marginals_equal_engine(self, spark, pages, engine):
        from validatelite_spark.operators.overlap import rule_marginals
        got = {r["rule_name"]: r["fail_count"]
               for r in rule_marginals(pages, scoped_rules()).collect()}
        assert got == {name: failed for name, (_, failed) in engine.items()}

    def test_flags_stay_in_scope_and_the_scrub_agrees(self, spark, pages):
        ann = QualityPipeline(spark, PipelineConfig(),
                              scoped_rules()).annotate(pages)
        scrubbed = F.col("text_scrubbed").isNotNull()
        row = ann.agg(
            *[F.count_if(F.col(f"fail_{name}") & ~F.expr(cond)).alias(name)
              for name, cond in SCOPES.items()],
            F.count_if(F.col("keep") & ~scrubbed
                       & F.col("text").isNotNull()).alias("kept_unscrubbed"),
            F.count_if(~F.col("keep") & scrubbed).alias("dropped_scrubbed"),
            F.count_if(F.col("fail_gopher_text")).alias("gopher"),
        ).first().asDict()
        assert row.pop("gopher") > 0
        assert row == {"not_null_text": 0, "gopher_text": 0,
                       "kept_unscrubbed": 0, "dropped_scrubbed": 0}
