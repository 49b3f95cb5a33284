"""RuleEngine — the execution core.

The Spark-native analogue of the reference's RuleEngine
(reference: core/engine/rule_engine.py:504-680), with the same lifecycle:

1. **prevalidation** (driver-side over df.schema — no job; reference
   rule_engine.py:609-735) → invalid rules short-circuit to ERROR results;
2. **compile** every valid data rule to its form against ``df.schema``
   (plans/compiler.py; REGEX's pattern and column type pick the form);
3. **merge** all rules with the same filter into ONE fused ``df.agg()``
   scan per filter group (plans/merger.py) — row-level rules as
   ``count_if`` of their flags (the planner, plans/planner.py, runs all
   their kernels in one Arrow pass), UNIQUE as ``count(c) -
   count_distinct(c)``, and the total row count beside them, so K rules
   cost exactly one scan;
4. **SCHEMA** rules run metadata-only (operators/schema_check.py);
5. **lazy failure sampling** — all row-level rules with failed > 0 share
   ONE windowed query (plans/merger.py ``failure_samples``; reference
   O7: base_executor.py:292-347), deterministically ordered so resumed
   or re-partitioned runs produce identical samples (SURVEY §7); a
   failing UNIQUE rule samples its duplicate groups
   (operators/uniqueness.py). Samples never cost a rule its counts: a
   sample query that fails leaves ``sample_data`` empty, with a
   warning.

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
from pyspark.sql import types as T

from validatelite_spark.core.results import (
    DatasetMetrics,
    ExecutionStatus,
    RuleResult,
    status_for,
)
from validatelite_spark.core.rules import Rule, RuleType
from validatelite_spark.operators import uniqueness
from validatelite_spark.operators.schema_check import check_schema
from validatelite_spark.plans.compiler import CompiledRule, compile_rule
from validatelite_spark.plans.merger import (
    TOTAL_ALIAS,
    build_merge_groups,
    failure_samples,
)
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
        schema_rules: list[Rule] = []
        for rule in rules:
            if errors.get(rule.id):
                results[rule.id] = self._error_result(
                    rule, table_name, errors[rule.id])
            elif rule.type == RuleType.SCHEMA:
                schema_rules.append(rule)
            else:
                try:
                    compiled.append(compile_rule(rule, df.schema))
                except Exception as e:  # per-rule isolation
                    results[rule.id] = self._error_result(
                        rule, table_name, str(e))

        # ---- one fused aggregate per filter group (O1) ----
        failing: list[CompiledRule] = []
        for group in build_merge_groups(compiled):
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

        if collect_samples and failing:
            self._samples(df, failing, results)

        # ---- SCHEMA (metadata only, no scan) ----
        for rule in schema_rules:
            g0 = time.time()
            p = rule.parameters
            try:
                sc = check_schema(
                    df, p["columns"], bool(p.get("strict_mode")),
                    bool(p.get("case_insensitive")))
            except Exception as e:
                results[rule.id] = self._error_result(
                    rule, table_name, str(e))
                continue
            res = self._data_result(
                rule, table_name, sc.total, sc.failed,
                time.time() - g0, plan={"execution_type": "metadata"})
            res.sample_data = [
                {"column": fc.column, "status": fc.status,
                 "declared_type": fc.declared_type,
                 "native_type": fc.native_type}
                for fc in sc.field_checks if fc.status != "PASSED"
            ]
            results[rule.id] = res

        return [results[r.id] for r in rules if r.id in results]

    # ------------------------------------------------------------ helpers
    def _samples(self, df: DataFrame, failing: list[CompiledRule],
                 results: dict[str, RuleResult]) -> None:
        """``sample_data`` of the failing rules: one windowed query for
        every row-level rule, one duplicate-group query per UNIQUE."""
        cfg = self.config
        keep_cols = [c for c in df.columns
                     if c not in cfg.sample_exclude_columns]
        rows = [cr for cr in failing if cr.count is None]
        order = cfg.sample_order_column or next(
            (c for c in keep_cols if _orderable(df.schema[c].dataType)),
            keep_cols[0])
        queries = [(rows, lambda: failure_samples(
            df, rows, keep_cols, order,
            cfg.sample_data_max_records))] if rows else []
        for cr in failing:
            if cr.count is not None:
                queries.append(([cr], lambda r=cr.rule: [
                    uniqueness.duplicate_samples(
                        df, r.column, r.filter_condition,
                        limit=2 * cfg.sample_data_max_records)]))
        for crs, query in queries:
            try:
                samples = query()
            except Exception as e:  # the counts stand without samples
                logger.warning("sample query for %s failed, their "
                               "sample_data stays empty: %s",
                               [cr.rule.name for cr in crs], e,
                               exc_info=True)
                continue
            for cr, sample in zip(crs, samples):
                results[cr.rule.id].sample_data = sample

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
