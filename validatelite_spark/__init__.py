"""vlite-spark: a from-scratch PySpark-native reimplementation of
litedatum/validatelite's rule engine, re-targeted as a web-text
quality-filter pipeline.

Public API:

    from validatelite_spark import RuleEngine, Rule, RuleType
    engine = RuleEngine(spark)
    results = engine.execute(df, rules)

    from validatelite_spark.pipeline import QualityPipeline
    annotated, metrics = QualityPipeline(spark).run(pages_df)

Design (see SURVEY.md for the full mapping to the reference):

- Rules are a *logical plan*; the compiler (`plans.compiler`) turns each
  rule into a Spark ``Column`` failure predicate; the merger
  (`plans.merger`) fuses every rule of a filter group into ONE
  ``df.agg(F.count("*"), F.count_if(pred_i), ...)`` scan — the
  Spark-native analogue of the reference's fused
  ``COUNT(CASE WHEN ...)`` query (reference:
  core/engine/rule_merger.py:142-299).
- Rules whose semantics need Python (``re`` regex parity, strptime
  round-trip date checks, langid, perplexity) compile to *vectorized*
  pandas/Arrow UDF predicates — never per-row Python — and still fuse
  into the same single-scan agg.
- UNIQUE compiles to ``count(c) - count_distinct(c)``, one more column
  of that same agg (reference: core/executors/uniqueness_executor.py:
  95-200 runs a separate GROUP BY … HAVING); SCHEMA is a
  metadata-only check over ``df.schema`` (reference:
  core/executors/schema_executor.py:120-455).
"""

from validatelite_spark.core.rules import Rule, RuleType, SeverityLevel
from validatelite_spark.core.results import (
    DatasetMetrics,
    ExecutionStatus,
    RuleResult,
)
from validatelite_spark.operators.engine import RuleEngine

__version__ = "0.1.0"

__all__ = [
    "Rule",
    "RuleType",
    "SeverityLevel",
    "RuleEngine",
    "RuleResult",
    "DatasetMetrics",
    "ExecutionStatus",
]
