"""QualityPipeline — the north-star web-text quality filter.

Runs ValidateLite-shaped rules over a pages table
(url, warc_ts, html, text, lang) and produces, in ONE scan:

- per-rule boolean failure flags (``fail_<rule_name>``)
- the keep/drop decision (``keep``): a document is dropped when any
  *dropping* rule fails (severity >= HIGH; the reference's
  severity/action fields decide consequence, shared/schema/base.py:229-231)
- byte-stable scrubbed text (``text_scrubbed``) via the compiled-regex
  PII/toxicity pass
- per-rule metrics via ``pyspark.sql.Observation`` — collected DURING the
  output write, so metrics cost zero extra scans (Spark-native upgrade of
  the reference's separate COUNT queries, rule_engine.py:440-484)

Scale notes (100 TB design point):
- The whole pipeline is one projection + one write: no shuffle at all.
  Catalyst prunes ``html`` out of the scan unless a rule references it.
- Per-domain metrics (skewed: a few domains own most rows) use explicit
  two-stage salted aggregation (``domain_metrics``) per north_rule.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from validatelite_spark.core.results import (
    DatasetMetrics,
    RuleResult,
    status_for,
)
from validatelite_spark.core.rules import Rule, RuleType, SeverityLevel
from validatelite_spark.functions import textquality
from validatelite_spark.functions.fused_text import fused_text_eval
from validatelite_spark.functions.pii import scrub
from validatelite_spark.plans.compiler import compile_rule


@dataclass
class PipelineConfig:
    allowed_langs: tuple[str, ...] = ("en",)
    max_ppl: float = 13.5  # calibrated: clean en<=12, pii 12.4 | fr 14.6, boiler 16.7, de 17.6, junk 38.7
    gopher_params: Optional[dict] = None
    text_column: str = "text"
    scrub_output_column: str = "text_scrubbed"
    drop_severities: tuple[str, ...] = ("HIGH", "CRITICAL")


def default_rules(cfg: PipelineConfig) -> list[Rule]:
    """The standard web-text rule set: each is an ordinary engine rule —
    a user can add/remove/override exactly like reference rules."""
    c = cfg.text_column
    return [
        Rule(RuleType.NOT_NULL, c, name="not_null_text",
             severity=SeverityLevel.CRITICAL),
        Rule(RuleType.GOPHER, c, dict(cfg.gopher_params or {}),
             name="gopher_text", severity=SeverityLevel.HIGH),
        Rule(RuleType.LANG_ID, c, {"allowed_langs": list(cfg.allowed_langs)},
             name="lang_id_text", severity=SeverityLevel.HIGH),
        Rule(RuleType.PERPLEXITY, c, {"max_ppl": cfg.max_ppl},
             name="perplexity_text", severity=SeverityLevel.HIGH),
        # PII is scrubbed, not dropped: LOW severity
        Rule(RuleType.PII_SCRUB, c, name="pii_text",
             severity=SeverityLevel.LOW),
    ]


def _flag_name(rule: Rule) -> str:
    return "fail_" + re.sub(r"\W+", "_", rule.name)


class QualityPipeline:
    def __init__(self, spark: SparkSession,
                 config: Optional[PipelineConfig] = None,
                 rules: Optional[list[Rule]] = None) -> None:
        self.spark = spark
        self.config = config or PipelineConfig()
        self.rules = rules if rules is not None else default_rules(self.config)

    # ----------------------------------------------------------- annotate
    def annotate(self, df: DataFrame) -> DataFrame:
        """One-projection annotation: fail flags + keep + scrubbed text.

        Physical shape (the fused fast path, SURVEY.md §7 step 4):
        - text is tokenized ONCE into a hidden column shared by every
          native rule (gopher + langid would otherwise re-split per
          signal);
        - ALL Python-side signals (perplexity, PII hit, scrub) ride ONE
          pandas UDF → one Arrow round-trip instead of three, and the
          scrub regexes only run on docs the native rules + perplexity
          kept.
        Rules outside the standard shapes fall back to the generic
        compiler — semantics never change, only the physical plan."""
        cfg = self.config
        text = F.col(cfg.text_column)
        toks = "__toks"
        out = df.withColumn(toks, textquality.tokens(text))

        # a LANG_ID rule rides the fused Arrow pass when one exists
        # (PERPLEXITY/PII present): the language signal is 4 marker
        # regexes + a CJK scan natively — the single most expensive
        # native signal — while in the fused UDF it reuses the text
        # batch already crossing the boundary (lang_id_series parity
        # pinned in tests). Without a fused pass it stays native.
        fused_exists = any(
            r.column == cfg.text_column
            and ((r.type == RuleType.PERPLEXITY
                  and r.parameters.get("min_ppl") is None
                  and r.parameters.get("max_ppl") is not None)
                 or r.type == RuleType.PII_SCRUB)
            for r in self.rules)

        flags: dict[str, Column] = {}
        drop_names: list[str] = []
        ppl_rule = None
        pii_rule = None
        lang_rule = None
        for rule in self.rules:
            name = _flag_name(rule)
            if rule.severity.value in cfg.drop_severities:
                drop_names.append(name)
            # fast paths on the shared tokens column / fused UDF
            if (rule.type == RuleType.GOPHER
                    and rule.column == cfg.text_column):
                flags[name] = textquality.gopher_fail_t(
                    text, F.col(toks), rule.parameters)
            elif (rule.type == RuleType.LANG_ID
                    and rule.column == cfg.text_column
                    and fused_exists):
                lang_rule = rule
                flags[name] = None  # filled from the fused struct below
            elif (rule.type == RuleType.LANG_ID
                    and rule.column == cfg.text_column):
                allowed = list(rule.parameters["allowed_langs"])
                flags[name] = ~textquality.lang_id_t(
                    text, F.col(toks)).isin(allowed)
            elif (rule.type == RuleType.PERPLEXITY
                    and rule.column == cfg.text_column
                    and rule.parameters.get("min_ppl") is None
                    and rule.parameters.get("max_ppl") is not None):
                ppl_rule = rule
                flags[name] = None  # filled from the fused struct below
            elif (rule.type == RuleType.PII_SCRUB
                    and rule.column == cfg.text_column):
                pii_rule = rule
                flags[name] = None
            else:
                flags[name] = compile_rule(rule, df.schema).fail_predicate

        # native flags first (one projection)
        for name, pred in flags.items():
            if pred is not None:
                out = out.withColumn(name, pred)

        native_drop = F.lit(False)
        for name in drop_names:
            if flags[name] is not None:
                native_drop = native_drop | F.coalesce(F.col(name),
                                                       F.lit(False))

        fused_scrub = None
        if ppl_rule is not None or pii_rule is not None:
            max_ppl = (float(ppl_rule.parameters["max_ppl"])
                       if ppl_rule else float("inf"))
            # only fold the ppl threshold into the fused keep when the
            # PERPLEXITY rule actually drops (its severity is in
            # drop_severities) — otherwise a kept doc with ppl > max_ppl
            # would silently lose its scrub output (ADVICE r1)
            ppl_drops = (ppl_rule is not None
                         and ppl_rule.severity.value in cfg.drop_severities)
            lang_allowed = (list(lang_rule.parameters["allowed_langs"])
                            if lang_rule is not None else None)
            lang_drops = (lang_rule is not None
                          and lang_rule.severity.value
                          in cfg.drop_severities)
            out = out.withColumn(
                "__fx", fused_text_eval(text, native_drop, max_ppl,
                                        ppl_drops=ppl_drops,
                                        lang_allowed=lang_allowed,
                                        lang_drops=lang_drops))
            if ppl_rule is not None:
                out = out.withColumn(_flag_name(ppl_rule),
                                     F.col("__fx.ppl") > max_ppl)
            if pii_rule is not None:
                out = out.withColumn(_flag_name(pii_rule), F.col("__fx.pii"))
            if lang_rule is not None:
                out = out.withColumn(
                    _flag_name(lang_rule),
                    ~F.col("__fx.lang").isin(lang_allowed))
            fused_scrub = F.col("__fx.scrubbed")

        keep = F.lit(True)
        for name in drop_names:
            keep = keep & ~F.coalesce(F.col(name), F.lit(False))
        out = out.withColumn("keep", keep)
        out = out.withColumn(
            cfg.scrub_output_column,
            F.when(F.col("keep"),
                   fused_scrub if fused_scrub is not None
                   else scrub(text)).otherwise(F.lit(None)))
        return out.drop(toks, "__fx")

    def metric_exprs(self) -> list[Column]:
        cols = [F.count(F.lit(1)).alias("__total"),
                F.sum(F.col("keep").cast("long")).alias("__kept")]
        for rule in self.rules:
            name = _flag_name(rule)
            cols.append(F.sum(F.col(name).cast("long")).alias(name))
        return cols

    # ---------------------------------------------------------------- run
    def run(
        self,
        df: DataFrame,
        output_path: Optional[str] = None,
        table_name: str = "pages",
    ) -> tuple[DataFrame, list[RuleResult]]:
        """Annotate + (optionally) write + per-rule metrics in ONE scan.

        With ``output_path``: metrics ride the write via Observation.
        Without: a single fused agg (same shape as the engine's merged
        scan) computes them.
        """
        t0 = time.time()
        annotated = self.annotate(df)
        if output_path is not None:
            obs = Observation("rule_metrics")
            observed = annotated.observe(obs, *self.metric_exprs())
            (observed.write.mode("overwrite").parquet(output_path))
            row = obs.get
        else:
            row = annotated.agg(*self.metric_exprs()).collect()[0].asDict()
        elapsed = time.time() - t0

        total = int(row["__total"] or 0)
        results: list[RuleResult] = []
        for rule in self.rules:
            failed = int(row[_flag_name(rule)] or 0)
            status = status_for(failed, total, rule.threshold)
            results.append(RuleResult(
                rule_id=rule.id, rule_name=rule.name,
                rule_type=rule.type.value, status=status,
                dataset_metrics=[DatasetMetrics(table_name, total, failed,
                                                elapsed)],
                execution_time=elapsed,
                execution_message=(
                    f"{rule.type.value}: {failed}/{total} failed; "
                    f"kept={int(row['__kept'] or 0)}"),
                execution_plan={"execution_type": "observed_single_scan"
                                if output_path else "merged_agg"},
            ))
        return annotated, results

    def metrics_df(self, results: list[RuleResult]) -> DataFrame:
        """Results as a DataFrame, writable to a metrics table mirroring
        the reference's validation-report schema
        (reference: docs/schemas/schema_results.schema.json)."""
        from validatelite_spark.core.results import (
            METRICS_TABLE_SCHEMA,
            results_to_rows,
        )
        return self.spark.createDataFrame(
            results_to_rows(results), METRICS_TABLE_SCHEMA)


# ------------------------------------------------------------- skew path
def domain_of(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


def domain_metrics(annotated: DataFrame, n_salts: int = 16) -> DataFrame:
    """Per-domain keep/drop metrics with explicit two-stage salted
    aggregation: stage 1 groups on (domain, salt) so a hot domain's rows
    spread over ``n_salts`` reducers; stage 2 merges the partials. AQE's
    skew handling covers joins, but a straight groupBy on a 40%-hot key
    still funnels into one task without this (north_rule requirement).

    Returns (domain, total, kept, dropped, keep_rate)."""
    salted = annotated.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("url")), F.lit(n_salts)))
    partial = (
        salted.groupBy(domain_of(F.col("url")).alias("domain"), "__salt")
        .agg(F.count(F.lit(1)).alias("t"),
             F.sum(F.col("keep").cast("long")).alias("k"))
    )
    return (
        partial.groupBy("domain")
        .agg(F.sum("t").alias("total"),
             F.sum("k").alias("kept"),
             (F.sum("t") - F.sum("k")).alias("dropped"),
             F.round(F.sum("k") / F.sum("t"), 6).alias("keep_rate"))
    )
