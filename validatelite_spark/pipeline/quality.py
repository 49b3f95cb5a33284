"""QualityPipeline — the north-star web-text quality filter.

Runs ValidateLite-shaped rules over a pages table
(url, warc_ts, html, text, lang) and produces, in ONE scan:

- per-rule boolean failure flags (``fail_<rule_name>``), planned by the
  engine's own compiler and planner (plans/compiler.py,
  plans/planner.py) — the pipeline has no per-rule-type code, so its
  counts are the engine's by construction;
- the keep/drop decision (``keep``): a document is dropped when any
  *dropping* rule fails (severity >= HIGH; the reference's
  severity/action fields decide consequence, shared/schema/base.py:229-231)
- byte-stable scrubbed text (``text_scrubbed``) via the compiled-regex
  PII/toxicity pass, inside the planner's one Arrow pass
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
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from validatelite_spark.core.results import (
    DatasetMetrics,
    RuleResult,
    status_for,
)
from validatelite_spark.core.rules import Rule, RuleType, SeverityLevel
from validatelite_spark.plans.compiler import CompiledRule, compile_rule
from validatelite_spark.plans.planner import plan_rules


#: severities of the rules that drop a document
DROP_SEVERITIES = ("HIGH", "CRITICAL")


@dataclass
class PipelineConfig:
    #: the column ``annotate`` scrubs into ``text_scrubbed``
    text_column: str = "text"


def default_rules(
    text_column: str = "text",
    *,
    allowed_langs: tuple[str, ...] = ("en",),
    # calibrated: clean en<=12, pii 12.4 | fr 14.6, boiler 16.7,
    # de 17.6, junk 38.7
    max_ppl: float = 13.5,
) -> list[Rule]:
    """The standard web-text rule set: each is an ordinary engine rule —
    a user can add/remove/override exactly like reference rules. The
    language list and the perplexity ceiling are parameters of this
    set, not of the pipeline: a caller passing its own ``rules`` sets
    them in those rules."""
    c = text_column
    return [
        Rule(RuleType.NOT_NULL, c, name="not_null_text",
             severity=SeverityLevel.CRITICAL),
        Rule(RuleType.GOPHER, c, name="gopher_text",
             severity=SeverityLevel.HIGH),
        Rule(RuleType.LANG_ID, c, {"allowed_langs": list(allowed_langs)},
             name="lang_id_text", severity=SeverityLevel.HIGH),
        Rule(RuleType.PERPLEXITY, c, {"max_ppl": max_ppl},
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
        self.rules = (rules if rules is not None
                      else default_rules(self.config.text_column))

    # ----------------------------------------------------------- annotate
    def annotate(self, df: DataFrame) -> DataFrame:
        """One-projection annotation through the engine's planner
        (plans/planner.py): a ``fail_<rule>`` flag per rule, ``keep`` (no
        HIGH/CRITICAL rule fails) and ``text_scrubbed`` (kept documents
        scrubbed, NULL for dropped ones) — all Python-tier rules and the
        scrub ride ONE pandas UDF. It is nondeterministic, so
        ``annotate(df).filter("keep")`` runs it once per row, but a filter
        on an INPUT column stays above it too: filter ``df`` first
        (curation and ``run_checkpointed`` do)."""
        flags: dict[str, CompiledRule] = {}
        for rule in self.rules:
            name = _flag_name(rule)
            if name in flags:
                raise ValueError(
                    f"rules {flags[name].rule.name!r} and {rule.name!r} "
                    f"share the flag column {name!r}; rename one")
            flags[name] = compile_rule(rule, df.schema)
        drop = [name for name, cr in flags.items()
                if cr.rule.severity.value in DROP_SEVERITIES]
        out = plan_rules(df, flags, scrub=self.config.text_column,
                         drop=drop)
        keep = F.lit(True)
        for name in drop:
            keep = keep & ~F.coalesce(F.col(name), F.lit(False))
        return out.withColumn("keep", keep)

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
