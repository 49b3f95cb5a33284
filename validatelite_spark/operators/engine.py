"""RuleEngine — the execution core.

The Spark-native analogue of the reference's RuleEngine
(reference: core/engine/rule_engine.py:504-680), with the same lifecycle:

1. **prevalidation** (driver-side over df.schema — no job; reference
   rule_engine.py:609-735) → invalid rules short-circuit to ERROR results;
2. **compile** every valid data rule to its form against ``df.schema``
   (plans/compiler.py; REGEX's pattern and column type pick the form);
3. **one counting pass** for every row-level rule (plans/merger.py):
   their flags are planned once (plans/planner.py runs all their
   kernels in one Arrow pass and scopes each flag by its rule's
   ``filter_condition``), and an ``Observation`` on that plan counts the
   total, each rule's failures and each filtered rule's scope during a
   ``noop`` write pruned to the rule columns, so K rules cost one scan
   and one job, and the counts stay exact when Spark re-runs a task
   (the observation is in the write's result stage). A rule's
   ``filter_condition`` is analysed on the driver at compile time, so
   one that does not resolve is an ERROR for its rule alone; a
   predicate that fails at run time makes every row-level rule ERROR;
4. **UNIQUE** rules run one grouped query each, which counts and
   samples them (operators/uniqueness.py); **SCHEMA** rules run
   metadata-only (operators/schema_check.py);
5. **lazy failure sampling** (reference O7: base_executor.py:292-347):
   one query for the row-level rules that failed, ``row_number() <=
   limit`` per rule, deterministically ordered so resumed or
   re-partitioned runs produce identical samples (SURVEY §7). Only
   there do a failing rule's kernels run a second time; a run where
   every rule passes never reads the wide columns. Samples never cost a
   rule its counts: a sample query that fails leaves ``sample_data``
   empty, with a warning.

Error taxonomy preserved: per-rule exceptions become ERROR results and the
run continues (reference: rule_engine.py:230-256) — mandatory isolation at
10^12-doc scale.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from validatelite_spark.core.results import RuleResult
from validatelite_spark.core.rules import Rule, RuleType
from validatelite_spark.operators import uniqueness
from validatelite_spark.operators.schema_check import check_schema
from validatelite_spark.plans.compiler import CompiledRule, compile_rule
from validatelite_spark.plans.merger import failure_samples, rule_counts
from validatelite_spark.plans.prevalidation import prevalidate

logger = logging.getLogger(__name__)


def _orderable(dt: T.DataType) -> bool:
    """Whether Spark can sort by a column of type ``dt``: a map or a
    VARIANT anywhere in it makes ``ORDER BY`` fail at analysis."""
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return not isinstance(dt, (T.MapType, T.VariantType))


@dataclass
class EngineConfig:
    """The sample settings of the reference's core config (reference:
    core/config.py:14-55); the rules alone choose the plan."""

    sample_data_max_records: int = 5
    # deterministic sample ordering column; default = the first kept
    # column Spark can sort by (no map or VARIANT in it)
    sample_order_column: Optional[str] = None
    # exclude wide/binary columns from collected samples
    sample_exclude_columns: tuple[str, ...] = ("html",)


class RuleEngine:
    def __init__(self, spark: SparkSession,
                 config: Optional[EngineConfig] = None) -> None:
        self.spark = spark
        self.config = config or EngineConfig()

    # ------------------------------------------------------------- public
    def execute(
        self,
        df: DataFrame,
        rules: list[Rule],
        table_name: str = "table",
        collect_samples: bool = True,
    ) -> list[RuleResult]:
        rules = [r for r in rules if r.is_active]
        errors = prevalidate(df, rules)
        results: dict[str, RuleResult] = {}

        compiled: list[CompiledRule] = []
        unique_rules: list[Rule] = []
        schema_rules: list[Rule] = []
        for rule in rules:
            if errors.get(rule.id):
                results[rule.id] = RuleResult.error(
                    rule, table_name, errors[rule.id])
            elif rule.type == RuleType.SCHEMA:
                schema_rules.append(rule)
            else:
                try:
                    if rule.filter_condition:  # analysed here, no job
                        df.filter(F.expr(rule.filter_condition))
                    if rule.type == RuleType.UNIQUE:
                        unique_rules.append(rule)
                    else:
                        compiled.append(compile_rule(rule, df.schema))
                except Exception as e:  # per-rule isolation
                    results[rule.id] = RuleResult.error(
                        rule, table_name, str(e))

        # ---- one pruned pass counts every row-level rule (O1) ----
        cfg = self.config
        failing: list[CompiledRule] = []
        if compiled:
            g0 = time.time()
            try:
                counts = rule_counts(df, compiled)
            except Exception as e:
                for cr in compiled:
                    results[cr.rule.id] = RuleResult.error(
                        cr.rule, table_name, str(e))
            else:
                elapsed = time.time() - g0
                for cr, (total, failed) in zip(compiled, counts):
                    results[cr.rule.id] = RuleResult.counted(
                        cr.rule, table_name, total, failed, elapsed,
                        plan={"execution_type": "merged_agg",
                              "group_size": len(compiled),
                              "filter": cr.rule.filter_condition})
                    if failed > 0:
                        failing.append(cr)

        # ---- one sample query for the failing ones (O7) ----
        if collect_samples and failing:
            keep_cols = [c for c in df.columns
                         if c not in cfg.sample_exclude_columns]
            order = cfg.sample_order_column or next(
                (c for c in keep_cols if _orderable(df.schema[c].dataType)),
                (keep_cols or df.columns)[0])
            try:
                samples = failure_samples(df, failing, keep_cols, order,
                                          cfg.sample_data_max_records)
            except Exception as e:  # the counts stand without samples
                logger.warning("sample query for %s failed, their "
                               "sample_data stays empty: %s",
                               [cr.rule.name for cr in failing], e,
                               exc_info=True)
            else:
                for cr, sample in zip(failing, samples):
                    results[cr.rule.id].sample_data = sample

        # ---- UNIQUE: one grouped query each ----
        for rule in unique_rules:
            g0 = time.time()
            try:
                total, failed, sample = uniqueness.unique_counts(
                    df, rule.column, rule.filter_condition,
                    2 * cfg.sample_data_max_records,
                    collect_samples
                    and _orderable(df.schema[rule.column].dataType))
            except Exception as e:
                results[rule.id] = RuleResult.error(
                    rule, table_name, str(e))
                continue
            results[rule.id] = RuleResult.counted(
                rule, table_name, total, failed, time.time() - g0,
                plan={"execution_type": "unique_groupby",
                      "filter": rule.filter_condition},
                samples=sample)

        # ---- SCHEMA (metadata only, no scan) ----
        for rule in schema_rules:
            g0 = time.time()
            p = rule.parameters
            try:
                sc = check_schema(
                    df, p["columns"], bool(p.get("strict_mode")),
                    bool(p.get("case_insensitive")))
            except Exception as e:
                results[rule.id] = RuleResult.error(
                    rule, table_name, str(e))
                continue
            results[rule.id] = RuleResult.counted(
                rule, table_name, sc.total, sc.failed,
                time.time() - g0, plan={"execution_type": "metadata"},
                samples=[{"column": fc.column, "status": fc.status,
                          "declared_type": fc.declared_type,
                          "native_type": fc.native_type}
                         for fc in sc.field_checks
                         if fc.status != "PASSED"])

        return [results[r.id] for r in rules if r.id in results]
