"""Declarative schema-payload decomposition + two-phase execution.

The reference's ``vlite schema`` command (reference:
cli/commands/schema.py:765-1341): a JSON payload declares per-table field
items; each decomposes into atomic rules —

    {"field": f, "type": t}            → part of the table SCHEMA rule
    {"required": true}                 → NOT_NULL(f)
    {"min": a, "max": b}               → RANGE(f, a, b)
    {"enum": [...]}                    → ENUM(f, ...)
    {"max_length": n}                  → LENGTH(f, max n)
    {"desired_type": decl}             → desired-type compiler rules
                                         (plans/desired_type.py)

Execution is two-phase (reference: schema.py:1699-2204): phase 1 runs
only the metadata SCHEMA check; the resulting skip map (missing table →
skip everything; FIELD_MISSING → skip that column's dependent rules;
TYPE_MISMATCH does NOT skip) gates phase 2, which runs the surviving
data rules in one fused scan. Skipped rules surface as SKIPPED results,
exactly like the reference's ResultMerger (schema.py:2207-2278)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from validatelite_spark.core.results import (
    DatasetMetrics,
    ExecutionStatus,
    RuleResult,
)
from validatelite_spark.core.rules import Rule, RuleType, schema_rule
from validatelite_spark.plans.desired_type import (
    Compatibility,
    compile_desired_type,
)


class SchemaPayloadError(ValueError):
    pass


@dataclass
class TablePlan:
    table: str
    schema_rule: Rule
    field_rules: list[Rule] = field(default_factory=list)
    desired_rules: list[Rule] = field(default_factory=list)
    #: column each rule depends on (for FIELD_MISSING skips)
    rule_columns: dict[str, str] = field(default_factory=dict)
    conflicts: list[str] = field(default_factory=list)


def decompose_table(table: str, payload: dict[str, Any]) -> TablePlan:
    """Decompose one table's payload into the atomic-rule plan
    (reference: schema.py:1033-1275)."""
    items = payload.get("rules", [])
    columns: dict[str, str] = {}
    plan_rules: list[Rule] = []
    desired_rules: list[Rule] = []
    conflicts: list[str] = []
    for item in items:
        col = item.get("field")
        if not col:
            raise SchemaPayloadError(f"{table}: field item missing 'field'")
        decl = item.get("type", "string")
        columns[col] = decl
        if item.get("required"):
            plan_rules.append(Rule(RuleType.NOT_NULL, col,
                                   name=f"required_{col}"))
        if item.get("min") is not None or item.get("max") is not None:
            params: dict[str, Any] = {}
            if item.get("min") is not None:
                params["min"] = item["min"]
            if item.get("max") is not None:
                params["max"] = item["max"]
            plan_rules.append(Rule(RuleType.RANGE, col, params,
                                   name=f"range_{col}"))
        if item.get("enum"):
            plan_rules.append(Rule(
                RuleType.ENUM, col, {"allowed_values": list(item["enum"])},
                name=f"enum_{col}"))
        if item.get("max_length") is not None:
            plan_rules.append(Rule(
                RuleType.LENGTH, col, {"max_length": int(item["max_length"])},
                name=f"maxlen_{col}"))
        if item.get("desired_type"):
            dec = compile_desired_type(col, decl, item["desired_type"])
            if dec.compatibility == Compatibility.CONFLICTING:
                conflicts.append(dec.error or f"{col}: conflicting type")
            else:
                desired_rules.extend(dec.generated_rules)

    srule = schema_rule(columns,
                        strict_mode=bool(payload.get("strict_mode")),
                        case_insensitive=bool(payload.get("case_insensitive")))
    plan = TablePlan(table, srule, plan_rules, desired_rules, conflicts=conflicts)
    for r in plan.field_rules + plan.desired_rules:
        plan.rule_columns[r.id] = r.column or ""
    return plan


def run_two_phase(
    spark: SparkSession,
    dfs: dict[str, Optional[DataFrame]],
    payload: dict[str, dict[str, Any]],
) -> dict[str, list[RuleResult]]:
    """Phase 1 (metadata) → skip map → phase 2 (fused data scan) for a
    multi-table payload. ``dfs[table] = None`` marks a missing table."""
    out, _plans = run_two_phase_with_plans(spark, dfs, payload)
    return out


def run_two_phase_with_plans(
    spark: SparkSession,
    dfs: dict[str, Optional[DataFrame]],
    payload: dict[str, dict[str, Any]],
) -> tuple[dict[str, list[RuleResult]], dict[str, TablePlan]]:
    """run_two_phase plus the decomposed plans (rule → column mapping),
    which the JSON payload builder needs for the per-field check matrix."""
    from validatelite_spark.operators.engine import RuleEngine

    engine = RuleEngine(spark)
    out: dict[str, list[RuleResult]] = {}
    plans: dict[str, TablePlan] = {}
    for table, tbl_payload in payload.items():
        plan = decompose_table(table, tbl_payload)
        plans[table] = plan
        if plan.conflicts:
            raise SchemaPayloadError("; ".join(plan.conflicts))
        results: list[RuleResult] = []
        df = dfs.get(table)
        data_rules = plan.field_rules + plan.desired_rules
        if df is None:
            # missing table: SCHEMA rule fails, everything else skips
            # (reference: schema.py:1278-1341 table-missing priority)
            results.append(RuleResult(
                rule_id=plan.schema_rule.id, rule_name=plan.schema_rule.name,
                rule_type="SCHEMA", status=ExecutionStatus.FAILED,
                dataset_metrics=[DatasetMetrics(table, 0, 0)],
                execution_message=f"table {table} does not exist"))
            results.extend(RuleResult.skipped(r, table, "table missing")
                           for r in data_rules)
            out[table] = results
            continue
        # phase 1: metadata only
        [schema_res] = engine.execute(df, [plan.schema_rule],
                                      table_name=table)
        results.append(schema_res)
        missing = {s["column"] for s in schema_res.sample_data
                   if s.get("status") == "FIELD_MISSING"}
        # phase 2: prune rules on missing fields (TYPE_MISMATCH still runs)
        runnable = [r for r in data_rules
                    if plan.rule_columns[r.id] not in missing]
        skipped = [r for r in data_rules
                   if plan.rule_columns[r.id] in missing]
        if runnable:
            results.extend(engine.execute(df, runnable, table_name=table))
        results.extend(RuleResult.skipped(r, table, "field missing")
                       for r in skipped)
        out[table] = results
    return out, plans


# ---------------------------------------------------- JSON payload parity
#: rule type → per-field check key (reference: schema.py:1614-1645)
_CHECK_KEY = {
    "NOT_NULL": "not_null", "RANGE": "range", "ENUM": "enum",
    "REGEX": "regex", "DATE_FORMAT": "date_format", "LENGTH": "length",
}


def build_json_payload(
    source: str,
    rules_file: str,
    out: dict[str, list[RuleResult]],
    plans: dict[str, TablePlan],
    exec_seconds: float,
) -> dict[str, Any]:
    """Aggregated ``vlite schema`` JSON output matching the reference
    contract (reference: docs/schemas/schema_results.schema.json,
    cli/commands/schema.py:1485-1696): top-level status/source/rules_file/
    rules_count/summary/results/fields (+ schema_extras when strict mode
    found extra columns). ``fields`` is the per-column check matrix —
    existence/type from the metadata phase, one entry per data rule keyed
    by check name, SKIPPED checks carrying their skip_reason. Columns are
    '<table>.<column>'-qualified when the payload spans multiple tables
    (the contract allows only column+checks per item)."""
    multi = len(out) > 1

    def qual(table: str, column: str) -> str:
        return f"{table}.{column}" if multi else column

    fields: list[dict[str, Any]] = []
    index: dict[str, dict[str, Any]] = {}

    def entry_for(table: str, column: str) -> dict[str, Any]:
        key = f"{table}.{column}"
        if key not in index:
            e = {"column": qual(table, column), "checks": {}}
            fields.append(e)
            index[key] = e
        return index[key]

    results_json: list[dict[str, Any]] = []
    extras: set[str] = set()
    rules_count = 0

    for table, results in out.items():
        plan = plans.get(table)
        desired_ids = ({r.id for r in plan.desired_rules} if plan else set())
        rules_count += 1 + (len(plan.field_rules) + len(plan.desired_rules)
                            if plan else 0)
        for r in results:
            rd = r.to_dict()
            rd["message"] = r.execution_message
            if r.status == ExecutionStatus.SKIPPED:
                rd["skip_reason"] = "FIELD_MISSING"
            results_json.append(rd)

            if r.rule_type == "SCHEMA":
                schema_ran = (r.execution_plan or {}).get(
                    "execution_type") == "metadata"
                # declared columns absent from sample_data passed both
                # checks (the engine samples only non-PASSED); for a
                # missing table nothing ran → UNKNOWN (reference
                # schema.py:1563-1576)
                declared = (plan.schema_rule.parameters.get("columns") or {}
                            if plan else {})
                flagged = {str(i.get("column")) for i in r.sample_data or []}
                for col in declared:
                    if col in flagged:
                        continue
                    e = entry_for(table, col)
                    if schema_ran:
                        e["checks"]["existence"] = {
                            "status": "PASSED", "failure_code": "NONE"}
                        e["checks"]["type"] = {
                            "status": "PASSED", "failure_code": "NONE"}
                    else:
                        e["checks"]["existence"] = {"status": "UNKNOWN"}
                        e["checks"]["type"] = {"status": "UNKNOWN"}
                for item in r.sample_data or []:
                    col, st = str(item.get("column")), item.get("status")
                    if st == "EXTRA_FIELD":
                        extras.add(qual(table, col))
                        continue
                    e = entry_for(table, col)
                    if st == "FIELD_MISSING":
                        e["checks"]["existence"] = {
                            "status": "FAILED",
                            "failure_code": "FIELD_MISSING"}
                        e["checks"]["type"] = {
                            "status": "SKIPPED",
                            "skip_reason": "FIELD_MISSING"}
                    elif st == "TYPE_MISMATCH":
                        e["checks"]["existence"] = {
                            "status": "PASSED", "failure_code": "NONE"}
                        e["checks"]["type"] = {
                            "status": "FAILED",
                            "failure_code": "TYPE_MISMATCH"}
                    else:
                        e["checks"]["existence"] = {
                            "status": "PASSED", "failure_code": "NONE"}
                        e["checks"]["type"] = {
                            "status": "PASSED", "failure_code": "NONE"}
                continue

            column = plan.rule_columns.get(r.rule_id, "") if plan else ""
            if not column:
                continue
            key = ("desired_type" if r.rule_id in desired_ids
                   else _CHECK_KEY.get(r.rule_type, r.rule_type.lower()))
            check: dict[str, Any] = {"status": r.status.value}
            if r.status == ExecutionStatus.SKIPPED:
                check["skip_reason"] = "FIELD_MISSING"
            if r.failed_records:
                check["failed_records"] = r.failed_records
            entry_for(table, column)["checks"][key] = check

    all_results = [r for rs in out.values() for r in rs]
    payload: dict[str, Any] = {
        "status": "ok",
        "source": source,
        "rules_file": rules_file,
        "rules_count": rules_count,
        "summary": {
            "total_rules": len(all_results),
            "passed_rules": sum(r.status == ExecutionStatus.PASSED
                                for r in all_results),
            "failed_rules": sum(r.status == ExecutionStatus.FAILED
                                for r in all_results),
            "skipped_rules": sum(r.status == ExecutionStatus.SKIPPED
                                 for r in all_results),
            "total_failed_records": sum(r.failed_records
                                        for r in all_results),
            "execution_time_s": round(exec_seconds, 3),
        },
        "results": results_json,
        "fields": fields,
    }
    if extras:
        payload["schema_extras"] = sorted(extras)
    return payload
