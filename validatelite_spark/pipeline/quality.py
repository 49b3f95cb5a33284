"""QualityPipeline — the north-star web-text quality filter.

Runs ValidateLite-shaped rules over a pages table
(url, warc_ts, html, text, lang) and produces, in ONE scan:

- per-rule boolean failure flags (``fail_<rule_name>``), planned by the
  engine's own compiler and planner (plans/compiler.py,
  plans/planner.py), each the rule's verdict within its
  ``filter_condition`` scope — the pipeline has no per-rule-type code;
- the keep/drop decision (``keep``): a document is dropped when any
  *dropping* rule fails (severity >= HIGH; the reference's
  severity/action fields decide consequence, shared/schema/base.py:229-231)
- byte-stable scrubbed text (``text_scrubbed``) via the compiled-regex
  PII/toxicity pass, inside the planner's one Arrow pass
- per-rule results (``results``) counted by the engine's own
  ``count_exprs`` (plans/merger.py), so its counts are the engine's by
  construction, on an ``Observation`` DURING the output write: zero
  extra scans (Spark-native upgrade of the reference's separate COUNT
  queries, rule_engine.py:440-484)

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

from validatelite_spark.core.results import RuleResult
from validatelite_spark.core.rules import Rule, RuleType, SeverityLevel
from validatelite_spark.plans.compiler import CompiledRule, compile_rule
from validatelite_spark.plans.merger import count_exprs, read_counts
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
    them in those rules.

    ``allowed_langs`` widens LANG_ID only. GOPHER's stopword gate
    (``EN_STOPWORDS``) and the perplexity model are English, so a
    French page that LANG_ID now passes is still dropped by GOPHER
    (and by ``max_ppl`` below ~14.6): keeping another language needs
    per-language stopwords, which this set does not have."""
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
        scrub ride ONE Arrow UDF. It is nondeterministic, so
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

    # ---------------------------------------------------------------- run
    def run(
        self,
        df: DataFrame,
        output_path: Optional[str] = None,
        table_name: str = "pages",
    ) -> tuple[DataFrame, list[RuleResult]]:
        """``annotate`` then ``results``: annotation, the optional write
        and the per-rule counts in ONE scan."""
        annotated = self.annotate(df)
        return annotated, self.results(annotated, output_path, table_name)

    def results(
        self,
        annotated: DataFrame,
        output_path: Optional[str] = None,
        table_name: str = "pages",
    ) -> list[RuleResult]:
        """The rules' results from the flags of ``annotated``, an
        ``annotate`` output or one stored earlier (no rule runs again):
        ``count_exprs`` and ``count_if(keep)`` (``execution_plan["kept"]``)
        are observed on one write, the parquet at ``output_path`` or a
        column-free ``noop``."""
        t0 = time.time()
        flags = {_flag_name(rule): rule for rule in self.rules}
        obs = Observation()
        observed = annotated.observe(
            obs, *count_exprs(flags), F.count_if("keep").alias("__kept"))
        if output_path is not None:
            observed.write.mode("overwrite").parquet(output_path)
        else:
            observed.select().write.format("noop").mode("overwrite").save()
        m = obs.get
        elapsed = time.time() - t0
        kept = m["__kept"]
        return [RuleResult.counted(
                    rule, table_name, total, failed, elapsed,
                    plan={"execution_type": "observed_single_scan",
                          "kept": kept},
                    note=f"kept={kept}")
                for rule, (total, failed) in zip(
                    self.rules, read_counts(m, len(flags)))]


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
