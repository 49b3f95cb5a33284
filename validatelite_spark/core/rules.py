"""Rule model — the logical plan of the engine.

Mirrors the reference's RuleSchema/RuleBase
(reference: shared/schema/base.py:193-239, shared/schema/rule_schema.py:24-145)
as a plain dataclass with the same parameter-validation rules
(reference: shared/schema/rule_schema.py:255-343), reimplemented.

A Rule names a column (or the whole table), a type, and typed parameters;
the compiler turns it into a Spark failure predicate. NULL semantics are
rule-specific and preserved exactly (SURVEY.md §2.2):

=============  =============================================================
rule type      failure predicate (NULL behavior)
=============  =============================================================
NOT_NULL       col IS NULL                       (NULL fails, obviously)
LENGTH         len<min OR len>max OR col IS NULL (NULL fails)
RANGE          col IS NULL OR col<min OR col>max (NULL fails)
ENUM           col NOT IN (...)                  (NULL does NOT fail)
REGEX          NOT re.match                      (NULL does NOT fail)
DATE_FORMAT    strptime round-trip fails         (NULL/blank does NOT fail;
                                                  blank = str.isspace only)
UNIQUE         extra rows in duplicate groups    (NULLs excluded entirely)
SCHEMA         metadata mismatch                 (no data rows scanned)
=============  =============================================================
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Optional


class RuleType(str, Enum):
    # Reference rule types (reference: shared/enums/rule_types.py)
    NOT_NULL = "NOT_NULL"
    UNIQUE = "UNIQUE"
    RANGE = "RANGE"
    ENUM = "ENUM"
    REGEX = "REGEX"
    LENGTH = "LENGTH"
    DATE_FORMAT = "DATE_FORMAT"
    SCHEMA = "SCHEMA"
    # Quality-filter payload rule types (north_rule re-targeting); each is
    # registered on the same engine, same result shape.
    LANG_ID = "LANG_ID"
    PERPLEXITY = "PERPLEXITY"
    GOPHER = "GOPHER"
    PII_SCRUB = "PII_SCRUB"
    # Extension point mirroring the reference's rule-type registry
    # (reference: core/registry/rule_type_registry.py).
    CUSTOM = "CUSTOM"


class DynamicRuleType(str):
    """Type tag for a runtime-REGISTERED rule type (core/registry.py).
    A plain str plus the ``.value`` property every ``rule.type.value``
    call site expects — so registered types flow through the engine,
    results, and serialization exactly like RuleType members."""

    @property
    def value(self) -> str:
        return str(self)


class SeverityLevel(str, Enum):
    LOW = "LOW"
    MEDIUM = "MEDIUM"
    HIGH = "HIGH"
    CRITICAL = "CRITICAL"


class RuleValidationError(ValueError):
    pass


@dataclass
class Rule:
    """One validation rule. ``column=None`` means table-level
    (reference TargetEntity, shared/schema/base.py:106-126)."""

    type: RuleType
    column: Optional[str] = None
    parameters: dict[str, Any] = field(default_factory=dict)
    name: str = ""
    id: str = field(default_factory=lambda: str(uuid.uuid4()))
    filter_condition: Optional[str] = None  # raw SQL ANDed into the scan
    threshold: float = 0.0  # max allowed failure *rate* before FAILED
    severity: SeverityLevel = SeverityLevel.MEDIUM
    is_active: bool = True
    description: Optional[str] = None

    def __post_init__(self) -> None:
        if isinstance(self.type, str) and not isinstance(self.type, RuleType):
            try:
                self.type = RuleType(str(self.type).upper())
            except ValueError:
                # not a builtin enum member: must be runtime-registered
                from validatelite_spark.core.registry import get_rule_type
                spec = get_rule_type(self.type)
                if spec is None:
                    raise RuleValidationError(
                        f"unknown rule type: {self.type!r} (register it "
                        f"via core.registry.register_rule_type)") from None
                self.type = DynamicRuleType(spec.name)
        if not self.name:
            self.name = f"{self.type.value.lower()}_{self.column or 'table'}"
        self._validate_parameters()

    # -- parameter validation (reference: shared/schema/rule_schema.py:255-343)
    def _validate_parameters(self) -> None:
        t, p = self.type, self.parameters
        if self.threshold < 0.0 or self.threshold > 1.0:
            raise RuleValidationError("threshold must be a rate in [0, 1]")
        # a registered type's param schema is its contract, enum or not;
        # the enum checks below stay: the compiler registers the builtins
        from validatelite_spark.core.registry import (
            get_rule_type,
            validate_params,
        )
        spec = get_rule_type(t)
        if spec is not None:
            if spec.needs_column and not self.column:
                raise RuleValidationError(f"{t.value} rule requires a column")
            try:
                validate_params(spec, p)
            except ValueError as e:
                raise RuleValidationError(str(e)) from e
        if isinstance(t, DynamicRuleType):
            return
        needs_column = t not in (RuleType.SCHEMA, RuleType.CUSTOM)
        if needs_column and not self.column:
            raise RuleValidationError(f"{t.value} rule requires a column")
        if t == RuleType.RANGE:
            mn, mx = p.get("min"), p.get("max")
            if mn is None and mx is None:
                raise RuleValidationError("RANGE needs min and/or max")
            if mn is not None and mx is not None and mn > mx:
                raise RuleValidationError(f"RANGE min {mn} > max {mx}")
        elif t == RuleType.LENGTH:
            mn, mx = p.get("min_length"), p.get("max_length")
            if mn is None and mx is None:
                raise RuleValidationError("LENGTH needs min_length and/or max_length")
            for v in (mn, mx):
                if v is not None and (not isinstance(v, int) or v < 0):
                    raise RuleValidationError(f"LENGTH bounds must be ints >= 0: {v!r}")
            if mn is not None and mx is not None and mn > mx:
                raise RuleValidationError(f"LENGTH min {mn} > max {mx}")
        elif t == RuleType.ENUM:
            vals = p.get("allowed_values")
            if not vals or not isinstance(vals, (list, tuple)):
                raise RuleValidationError("ENUM needs non-empty allowed_values list")
        elif t == RuleType.REGEX:
            pat = p.get("pattern")
            if not pat:
                raise RuleValidationError("REGEX needs a pattern")
            try:
                re.compile(pat)
            except re.error as e:
                raise RuleValidationError(f"invalid regex {pat!r}: {e}") from e
        elif t == RuleType.DATE_FORMAT:
            if not p.get("format"):
                raise RuleValidationError("DATE_FORMAT needs a format")
        elif t == RuleType.SCHEMA:
            cols = p.get("columns")
            if not cols or not isinstance(cols, dict):
                raise RuleValidationError("SCHEMA needs a columns {name: type} map")
        elif t == RuleType.LANG_ID:
            allowed = p.get("allowed_langs")
            if not allowed:
                raise RuleValidationError("LANG_ID needs allowed_langs")
        elif t == RuleType.PERPLEXITY:
            if p.get("max_ppl") is None and p.get("min_ppl") is None:
                raise RuleValidationError("PERPLEXITY needs min_ppl and/or max_ppl")

    # -- serialization round-trip (property-tested)
    def to_dict(self) -> dict[str, Any]:
        return {
            "id": self.id,
            "name": self.name,
            "type": self.type.value,
            "column": self.column,
            "parameters": dict(self.parameters),
            "filter_condition": self.filter_condition,
            "threshold": self.threshold,
            "severity": self.severity.value,
            "is_active": self.is_active,
            "description": self.description,
        }

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "Rule":
        return cls(
            type=d["type"],  # __post_init__ resolves enum vs registered
            column=d.get("column"),
            parameters=dict(d.get("parameters") or {}),
            name=d.get("name") or "",
            id=d.get("id") or str(uuid.uuid4()),
            filter_condition=d.get("filter_condition"),
            threshold=float(d.get("threshold") or 0.0),
            severity=SeverityLevel(d.get("severity", "MEDIUM")),
            is_active=bool(d.get("is_active", True)),
            description=d.get("description"),
        )


# ---------------------------------------------------------------- helpers
def not_null(column: str, **kw: Any) -> Rule:
    return Rule(RuleType.NOT_NULL, column, **kw)


def unique(column: str, **kw: Any) -> Rule:
    return Rule(RuleType.UNIQUE, column, **kw)


def range_rule(column: str, min: Any = None, max: Any = None, **kw: Any) -> Rule:
    params = {}
    if min is not None:
        params["min"] = min
    if max is not None:
        params["max"] = max
    return Rule(RuleType.RANGE, column, params, **kw)


def length(column: str, min_length: Optional[int] = None,
           max_length: Optional[int] = None, **kw: Any) -> Rule:
    params: dict[str, Any] = {}
    if min_length is not None:
        params["min_length"] = min_length
    if max_length is not None:
        params["max_length"] = max_length
    return Rule(RuleType.LENGTH, column, params, **kw)


def enum(column: str, allowed_values: list, **kw: Any) -> Rule:
    return Rule(RuleType.ENUM, column, {"allowed_values": list(allowed_values)}, **kw)


def regex(column: str, pattern: str, **kw: Any) -> Rule:
    return Rule(RuleType.REGEX, column, {"pattern": pattern}, **kw)


def date_format(column: str, format: str, **kw: Any) -> Rule:
    return Rule(RuleType.DATE_FORMAT, column, {"format": format}, **kw)


def schema_rule(columns: dict[str, str], strict_mode: bool = False,
                case_insensitive: bool = False, **kw: Any) -> Rule:
    return Rule(
        RuleType.SCHEMA, None,
        {"columns": dict(columns), "strict_mode": strict_mode,
         "case_insensitive": case_insensitive},
        **kw,
    )
