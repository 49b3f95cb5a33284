"""Result model — ValidateLite-shaped execution results.

Mirrors ExecutionResultSchema / DatasetMetrics
(reference: shared/schema/base.py:242-326, shared/schema/result_schema.py:16-279).
Status is PASSED iff failure *rate* <= rule threshold (the reference's
standard path is threshold=0 → PASSED iff failed==0,
reference: shared/schema/result_schema.py:178-184).

The two-level error taxonomy is preserved: EngineError aborts the run;
RuleExecutionError becomes a per-rule ERROR result and the run continues
(reference: core/engine/rule_engine.py:230-256). Per-rule failure isolation
is mandatory at web scale.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from enum import Enum
from typing import TYPE_CHECKING, Any, Optional

if TYPE_CHECKING:
    from validatelite_spark.core.rules import Rule


class ExecutionStatus(str, Enum):
    PASSED = "PASSED"
    FAILED = "FAILED"
    ERROR = "ERROR"
    SKIPPED = "SKIPPED"


class EngineError(RuntimeError):
    """System-level error: aborts the whole run."""


class RuleExecutionError(RuntimeError):
    """Per-rule error: becomes an ERROR result, run continues."""


@dataclass
class DatasetMetrics:
    entity_name: str
    total_records: int
    failed_records: int = 0
    processing_time: Optional[float] = None

    @property
    def success_rate(self) -> float:
        return _success_rate(self.total_records, self.failed_records)


def _success_rate(total: int, failed: int) -> float:
    return 1.0 if total == 0 else (total - failed) / total


@dataclass
class RuleResult:
    rule_id: str
    rule_name: str
    rule_type: str
    status: ExecutionStatus
    dataset_metrics: list[DatasetMetrics] = field(default_factory=list)
    execution_time: float = 0.0
    execution_message: Optional[str] = None
    error_message: Optional[str] = None
    sample_data: list[dict[str, Any]] = field(default_factory=list)
    execution_plan: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def counted(cls, rule: Rule, table: str, total: int, failed: int,
                elapsed: float, plan: dict[str, Any],
                samples: list[dict[str, Any]] = (),
                note: Optional[str] = None) -> RuleResult:
        """The result of ``rule`` judged over ``total`` rows of which
        ``failed`` fail: PASSED iff the failure rate is within the
        rule's threshold (``status_for``)."""
        status = status_for(failed, total, rule.threshold)
        msg = (f"{rule.type.value} check "
               + ("passed" if status == ExecutionStatus.PASSED
                  else f"found {failed} failed records"))
        return cls(
            rule_id=rule.id, rule_name=rule.name, rule_type=rule.type.value,
            status=status,
            dataset_metrics=[DatasetMetrics(table, total, failed, elapsed)],
            execution_time=elapsed,
            execution_message=msg if note is None else f"{msg}; {note}",
            execution_plan=plan, sample_data=list(samples))

    @classmethod
    def error(cls, rule: Rule, table: str, msg: str) -> RuleResult:
        """``rule`` could not run: an ERROR result, and the run goes on."""
        return cls(
            rule_id=rule.id, rule_name=rule.name, rule_type=rule.type.value,
            status=ExecutionStatus.ERROR,
            dataset_metrics=[DatasetMetrics(table, 0, 0)],
            error_message=msg, execution_plan={"execution_type": "error"})

    @classmethod
    def skipped(cls, rule: Rule, table: str, why: str) -> RuleResult:
        """``rule`` was not run, because ``why``."""
        return cls(
            rule_id=rule.id, rule_name=rule.name, rule_type=rule.type.value,
            status=ExecutionStatus.SKIPPED,
            dataset_metrics=[DatasetMetrics(table, 0, 0)],
            execution_message=f"skipped: {why}")

    @property
    def total_records(self) -> int:
        return sum(m.total_records for m in self.dataset_metrics)

    @property
    def failed_records(self) -> int:
        return sum(m.failed_records for m in self.dataset_metrics)

    @property
    def passed(self) -> bool:
        return self.status == ExecutionStatus.PASSED

    def to_dict(self) -> dict[str, Any]:
        return {
            "rule_id": self.rule_id,
            "rule_name": self.rule_name,
            "rule_type": self.rule_type,
            "status": self.status.value,
            "total_records": self.total_records,
            "failed_records": self.failed_records,
            "success_rate": _success_rate(self.total_records,
                                          self.failed_records),
            "execution_time": self.execution_time,
            "execution_message": self.execution_message,
            "error_message": self.error_message,
            "sample_data": self.sample_data,
            "execution_plan": self.execution_plan,
        }

    def to_json(self) -> str:
        return json.dumps(self.to_dict(), default=str)


def status_for(failed: int, total: int, threshold: float) -> ExecutionStatus:
    """PASSED iff failure rate <= threshold (threshold=0 → failed==0)."""
    if total == 0:
        return ExecutionStatus.PASSED
    rate = failed / total
    return ExecutionStatus.PASSED if rate <= threshold else ExecutionStatus.FAILED


#: Spark schema of ``results_to_rows`` (``jobs/filter_job.py``'s metrics
#: table) — the validation-report payload (reference:
#: docs/schemas/schema_results.schema.json).
METRICS_TABLE_SCHEMA = (
    "rule_id string, rule_name string, rule_type string, status string, "
    "total_records long, failed_records long, success_rate double, "
    "execution_time double, execution_message string, error_message string"
)


def results_to_rows(results: list[RuleResult]) -> list[dict[str, Any]]:
    """``results`` as rows of ``METRICS_TABLE_SCHEMA``: those columns
    of ``RuleResult.to_dict``."""
    cols = [c.split()[0] for c in METRICS_TABLE_SCHEMA.split(", ")]
    return [{c: d[c] for c in cols} for d in map(RuleResult.to_dict, results)]
