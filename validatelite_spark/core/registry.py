"""Runtime rule-type registry — the engine's extension seam.

Mirrors the reference's registry-of-rule-types
(reference: core/registry/rule_type_registry.py, builtin_rule_types.py:23-120),
which SURVEY.md §2.7 calls "the pattern to keep": a user registers a new
rule type at runtime — a name, a parameter schema, and a compile
function — and the whole engine picks it up with no compiler changes:

- ``Rule`` accepts the registered name as its ``type`` and validates
  parameters against the registered schema;
- ``plans/compiler.compile_rule`` dispatches to the registered compile
  function (checked FIRST, so ``replace=True`` can override a builtin);
- registered rules share the engine's one counting action exactly like
  builtins (plans/merger.py counts every compiled form).

The quality-filter rule types (LANG_ID / GOPHER / PERPLEXITY /
PII_SCRUB) are themselves registered through this seam — see
core/builtin_rule_types.py — proving the extension point is the real
dispatch path, not a parallel one.

The registry stores a *compile function*, not a SQL-string generator
(the Spark-native analogue of the reference's per-dialect SQL builders).
It returns what the type is: a failure-predicate ``Column``, or a
``BatchKernel``, never its own UDF — anything else is an ERROR result
for the rule. ``plans/planner.py`` runs
every kernel of a scan in one Arrow UDF, calling each distinct
(column, signal) once per batch — so build a parameterized signal with
a cached factory (same parameters → same function object).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Optional


class RuleTypeRegistrationError(ValueError):
    pass


#: compile function: Rule -> Column failure predicate or BatchKernel
CompileFn = Callable[[Any], Any]


@dataclass(frozen=True)
class BatchKernel:
    """A Python-exact rule over its column's Arrow batch (a
    ``pyarrow.Array``): ``signal`` maps it to a per-row signal (an Arrow
    or numpy array), ``fail`` that signal to a non-NULL boolean Arrow or
    numpy array. ``native``, if set, builds an equivalent
    failure-predicate Column; the planner calls it unless another rule
    kernel reads the same column in the scan."""

    signal: Callable[[Any], Any]
    fail: Callable[[Any], Any]
    native: Optional[Callable[[], Any]] = None


@dataclass(frozen=True)
class RuleTypeSpec:
    name: str
    compile_fn: CompileFn
    #: {"required": [names...], "validator": callable(params) -> None}
    param_schema: dict[str, Any] = field(default_factory=dict)
    needs_column: bool = True
    description: str = ""


_REGISTRY: dict[str, RuleTypeSpec] = {}


def register_rule_type(
    name: str,
    compile_fn: CompileFn,
    *,
    param_schema: Optional[dict[str, Any]] = None,
    needs_column: bool = True,
    description: str = "",
    replace: bool = False,
) -> RuleTypeSpec:
    """Register (or with ``replace=True`` override) a rule type."""
    key = str(name).upper()
    if not key.isidentifier():
        raise RuleTypeRegistrationError(
            f"rule type name must be an identifier: {name!r}")
    if key in _REGISTRY and not replace:
        raise RuleTypeRegistrationError(
            f"rule type {key} already registered (pass replace=True)")
    spec = RuleTypeSpec(key, compile_fn, dict(param_schema or {}),
                        needs_column, description)
    _REGISTRY[key] = spec
    return spec


def unregister_rule_type(name: str) -> None:
    _REGISTRY.pop(str(name).upper(), None)


def get_rule_type(name: Any) -> Optional[RuleTypeSpec]:
    """Spec for an enum member or string name; None when unregistered."""
    key = getattr(name, "value", name)
    return _REGISTRY.get(str(key).upper())


def validate_params(spec: RuleTypeSpec, params: dict[str, Any]) -> None:
    """Check params against the spec's schema; raises ValueError (the
    Rule model wraps it into RuleValidationError)."""
    schema = spec.param_schema
    for req in schema.get("required", ()):
        if params.get(req) is None:
            raise ValueError(
                f"{spec.name} rule requires parameter {req!r}")
    validator = schema.get("validator")
    if validator is not None:
        validator(params)
