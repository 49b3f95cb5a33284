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
  row-level rule into a Spark ``Column`` failure predicate or a
  ``BatchKernel``; the merger (`plans.merger`) plans all their flags
  once and counts them with ONE ``Observation``
  (``count(1)``, ``count_if(scope_i & flag_i)``, ...) on a pruned
  ``noop`` write, then samples only the rules that failed — the
  Spark-native analogue of the reference's fused ``COUNT(CASE WHEN
  ...)`` query (reference: core/engine/rule_merger.py:142-299).
- Rules whose semantics need Python (``re`` regex parity, langid,
  perplexity) compile to *vectorized* Arrow kernels — never per-row
  Python — that all run in the scan's one Arrow UDF.
- UNIQUE runs one ``GROUP BY`` query that observes its counts above
  the shuffle and takes its duplicate samples (reference:
  core/executors/uniqueness_executor.py:95-200); SCHEMA is a
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
