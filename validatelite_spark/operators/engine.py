"""RuleEngine — the execution core.

The Spark-native analogue of the reference's RuleEngine
(reference: core/engine/rule_engine.py:504-680), with the same lifecycle:

1. **prevalidation** (driver-side over df.schema — no job; reference
   rule_engine.py:609-735) → invalid rules short-circuit to ERROR results;
2. **compile** every valid rule to its tier against ``df.schema``
   (plans/compiler.py; REGEX's pattern and column type pick the tier);
3. **merge** all NATIVE+UDF rules with the same filter into ONE fused
   ``df.agg()`` scan per filter group (plans/merger.py) — this also folds
   in the total row count, so K mergeable rules cost exactly one scan;
4. **UNIQUE** rules run one aggregate job each (operators/uniqueness.py);
5. **SCHEMA** rules run metadata-only (operators/schema_check.py);
6. **lazy failure sampling** — all merged rules with failed > 0 share
   ONE windowed query (plans/merger.py ``failure_samples``; reference
   O7: base_executor.py:292-347), deterministically ordered so resumed
   or re-partitioned runs produce identical samples (SURVEY §7).

Error taxonomy preserved: per-rule exceptions become ERROR results and the
run continues (reference: rule_engine.py:230-256) — mandatory isolation at
10^12-doc scale.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from validatelite_spark.core.results import (
    DatasetMetrics,
    ExecutionStatus,
    RuleResult,
    status_for,
)
from validatelite_spark.core.rules import Rule, RuleType
from validatelite_spark.operators import uniqueness
from validatelite_spark.operators.schema_check import check_schema
from validatelite_spark.plans.compiler import CompiledRule, Tier, compile_rule
from validatelite_spark.plans.merger import (
    TOTAL_ALIAS,
    build_merge_groups,
    failure_samples,
)
from validatelite_spark.plans.prevalidation import prevalidate


@dataclass
class EngineConfig:
    """The sample settings of the reference's core config (reference:
    core/config.py:14-55); the rules alone choose the plan."""

    sample_data_max_records: int = 5
    # deterministic sample ordering column; default = first kept column
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
        for rule in rules:
            if errors.get(rule.id):
                results[rule.id] = self._error_result(
                    rule, table_name, errors[rule.id])
                continue
            try:
                compiled.append(compile_rule(rule, df.schema))
            except Exception as e:  # per-rule isolation
                results[rule.id] = self._error_result(rule, table_name, str(e))

        mergeable = [c for c in compiled if c.mergeable]
        unique_rules = [c for c in compiled if c.tier == Tier.GROUPBY]
        schema_rules = [c for c in compiled if c.tier == Tier.METADATA]

        # ---- fused single-scan aggregates (O1) ----
        failing: list[CompiledRule] = []
        for group in build_merge_groups(mergeable):
            g0 = time.time()
            try:
                counts = group.run(df)
            except Exception as e:
                for cr in group.rules:
                    results[cr.rule.id] = self._error_result(
                        cr.rule, table_name, str(e))
                continue
            elapsed = time.time() - g0
            total = counts[TOTAL_ALIAS]
            for cr in group.rules:
                failed = counts[cr.rule.id]
                results[cr.rule.id] = self._data_result(
                    cr.rule, table_name, total, failed, elapsed,
                    plan={"execution_type": "merged_agg",
                          "group_size": len(group.rules),
                          "filter": group.filter_condition})
                if failed > 0:
                    failing.append(cr)

        # ---- failure samples of every failing merged rule (one query) ----
        if collect_samples and failing:
            cfg = self.config
            keep_cols = [c for c in df.columns
                         if c not in cfg.sample_exclude_columns]
            samples = failure_samples(
                df, failing, keep_cols,
                cfg.sample_order_column or keep_cols[0],
                cfg.sample_data_max_records)
            for cr, rows in zip(failing, samples):
                results[cr.rule.id].sample_data = rows

        # ---- UNIQUE (one agg job each) ----
        for cr in unique_rules:
            g0 = time.time()
            try:
                counts = uniqueness.unique_counts(
                    df, cr.rule.column, cr.rule.filter_condition)
            except Exception as e:
                results[cr.rule.id] = self._error_result(
                    cr.rule, table_name, str(e))
                continue
            elapsed = time.time() - g0
            res = self._data_result(
                cr.rule, table_name, counts["total"], counts["failed"],
                elapsed, plan={"execution_type": "groupby_unique"})
            if collect_samples and counts["failed"] > 0:
                res.sample_data = uniqueness.duplicate_samples(
                    df, cr.rule.column, cr.rule.filter_condition,
                    limit=2 * self.config.sample_data_max_records)
            results[cr.rule.id] = res

        # ---- SCHEMA (metadata only, no scan) ----
        for cr in schema_rules:
            g0 = time.time()
            p = cr.rule.parameters
            try:
                sc = check_schema(
                    df, p["columns"], bool(p.get("strict_mode")),
                    bool(p.get("case_insensitive")))
            except Exception as e:
                results[cr.rule.id] = self._error_result(
                    cr.rule, table_name, str(e))
                continue
            res = self._data_result(
                cr.rule, table_name, sc.total, sc.failed,
                time.time() - g0, plan={"execution_type": "metadata"})
            res.sample_data = [
                {"column": fc.column, "status": fc.status,
                 "declared_type": fc.declared_type,
                 "native_type": fc.native_type}
                for fc in sc.field_checks if fc.status != "PASSED"
            ]
            results[cr.rule.id] = res

        return [results[r.id] for r in rules if r.id in results]

    # ------------------------------------------------------------ helpers
    def _data_result(self, rule: Rule, table: str, total: int, failed: int,
                     elapsed: float, plan: dict) -> RuleResult:
        status = status_for(failed, total, rule.threshold)
        msg = (
            f"{rule.type.value} check "
            + ("passed" if status == ExecutionStatus.PASSED
               else f"found {failed} failed records")
        )
        return RuleResult(
            rule_id=rule.id, rule_name=rule.name, rule_type=rule.type.value,
            status=status,
            dataset_metrics=[DatasetMetrics(table, total, failed, elapsed)],
            execution_time=elapsed, execution_message=msg,
            execution_plan=plan)

    def _error_result(self, rule: Rule, table: str, msg: str) -> RuleResult:
        return RuleResult(
            rule_id=rule.id, rule_name=rule.name, rule_type=rule.type.value,
            status=ExecutionStatus.ERROR,
            dataset_metrics=[DatasetMetrics(table, 0, 0)],
            error_message=msg,
            execution_plan={"execution_type": "error"})
