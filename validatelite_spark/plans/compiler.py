"""Rule compiler: Rule (logical) → its row-level form against a schema.

The analogue of the reference's executor dispatch
(reference: core/executors/__init__.py:19-79) — but instead of generating
dialect SQL strings, each rule compiles to one of two forms, both turned
into a per-row flag by ``plans/planner.plan_rules`` and counted by the
engine's one counting pass (plans/merger.py):

- ``fail_predicate`` — a per-row failure ``Column`` (whole-stage codegen;
  DATE_FORMAT's strptime round trip too, ``_date_fail``);
- ``kernel`` — a ``BatchKernel`` (core/registry.py) for Python-exact
  semantics: ``re`` regex parity, perplexity — all of a scan's kernels
  share one Arrow UDF.

UNIQUE and SCHEMA have no row-level form, and the engine runs them by
their rule type without compiling them: UNIQUE as one grouped query
(operators/uniqueness.py), SCHEMA over ``df.schema`` only (reference
schema_executor.py:120-134 ``execution_type="metadata"``). NULL
semantics per rule type are the reference's (see core/rules.py table
and SURVEY.md §2.2). REGEX takes ``rlike`` only when its column is a
string and ``java_regex`` can rebuild its pattern with the same meaning.
"""

from __future__ import annotations

import functools
import re
import re._constants as sre
import re._parser as sre_parse
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from validatelite_spark.core import builtin_rule_types  # noqa: F401 (registers)
from validatelite_spark.core.registry import BatchKernel, get_rule_type
from validatelite_spark.core.results import RuleExecutionError
from validatelite_spark.core.rules import Rule, RuleType
from validatelite_spark.core.types import format_to_strptime
from validatelite_spark.functions import udf_tier


@dataclass
class CompiledRule:
    """Exactly one form is set: ``fail_predicate`` or ``kernel``."""

    rule: Rule
    fail_predicate: Optional[Column] = None
    kernel: Optional[BatchKernel] = None


#: ``re`` anchors that mean the same in Java (``\Z`` is Java's ``\z``)
_ANCHORS = {sre.AT_BEGINNING: "^", sre.AT_BEGINNING_STRING: r"\A",
            sre.AT_END: "$", sre.AT_END_STRING: r"\z"}


def _cp(c: int) -> str:
    return f"\\x{{{c:x}}}"


def _java(nodes) -> str:
    """Java source of an ``re`` parse (sub)tree; ValueError for any node
    outside the subset both engines read alike."""
    out = []
    for op, av in nodes:
        if op is sre.LITERAL:
            out.append(_cp(av))
        elif op is sre.NOT_LITERAL:
            out.append(f"[^{_cp(av)}]")
        elif op is sre.ANY:
            out.append(".")
        elif op is sre.IN:
            neg = av[0][0] is sre.NEGATE
            out.append("[^" if neg else "[")
            for o, a in av[neg:]:
                if o is sre.LITERAL:
                    out.append(_cp(a))
                elif o is sre.RANGE:
                    out.append(f"{_cp(a[0])}-{_cp(a[1])}")
                else:  # CATEGORY: \d \s \w are Unicode-aware in re
                    raise ValueError(o)
            out.append("]")
        elif op in (sre.MAX_REPEAT, sre.MIN_REPEAT):
            lo, hi, sub = av
            if max(lo, hi % sre.MAXREPEAT) >= 2**31:  # Java's int bounds
                raise ValueError(av)
            hi = "" if hi == sre.MAXREPEAT else hi
            lazy = "?" if op is sre.MIN_REPEAT else ""
            out.append(f"(?:{_java(sub)}){{{lo},{hi}}}{lazy}")
        elif op is sre.SUBPATTERN and av[1] == av[2] == 0:
            out.append(f"(?:{_java(av[3])})")
        elif op is sre.BRANCH:
            out.append(f"(?:{'|'.join(_java(b) for b in av[1])})")
        elif op is sre.AT and av in _ANCHORS:
            out.append(_ANCHORS[av])
        else:
            raise ValueError(op)
    return "".join(out)


def java_regex(pattern: str) -> Optional[str]:
    r"""The ``rlike`` pattern that finds what ``re.search(pattern)`` finds,
    or None if only ``re`` can run it (CLAUDE.md rule 19): rebuilt from
    the parse tree under UNIX_LINES ``(?d)``, every code point ``\x{…}``."""
    parsed = sre_parse.parse(pattern)
    if parsed.state.flags & ~sre.SRE_FLAG_UNICODE:
        return None
    try:
        return "(?d)" + _java(parsed)
    except ValueError:
        return None


#: strptime directive → (``strftime``'s rendering as ``rlike``, Java letters)
_DIRECTIVES = {"%Y": ("[1-9][0-9]{3}", "yyyy"), "%m": ("[0-9]{2}", "MM"),
               "%d": ("[0-9]{2}", "dd"), "%H": ("[0-9]{2}", "HH"),
               "%M": ("[0-9]{2}", "mm"), "%S": ("[0-9]{2}", "ss")}


@functools.cache
def _blank() -> str:  # ``rlike``: a value ``str.strip`` empties
    return r"\A[%s]*\z" % "".join(
        _cp(c) for c in range(0x110000) if chr(c).isspace())


def _date_fail(r: Column, fmt: str) -> Column:
    """The reference's ``IS_VALID_DATE`` fails on a string ``r``: it is
    not NULL or blank, nor ``strftime``'s layout (a year below 1000
    renders unpadded) with fields ``try_to_timestamp`` accepts (no
    re-render: a wall time in a DST gap keeps its verdict).
    RuleExecutionError for a repeated directive or another ``%``."""
    pieces = re.split("(%.?)", format_to_strptime(fmt), flags=re.S)
    ds = pieces[1::2]
    if set(ds) - _DIRECTIVES.keys() or len(set(ds)) < len(ds):
        raise RuleExecutionError(f"DATE_FORMAT {fmt!r}: a directive twice, "
                                 f"or a % outside YYYY MM DD HH MI SS")
    shape = "".join(_DIRECTIVES[p][0] if p in _DIRECTIVES
                    else "".join(_cp(ord(c)) for c in p) for p in pieces)
    java = "".join(_DIRECTIVES[p][1] if p in _DIRECTIVES
                   else "'" + p.replace("'", "''") + "'" for p in pieces if p)
    valid = (r.rlike(rf"\A{shape}\z")
             & F.try_to_timestamp(r, F.lit(java)).isNotNull())
    return r.isNotNull() & ~valid & ~r.rlike(_blank())


def compile_rule(rule: Rule, schema: T.StructType) -> CompiledRule:
    """Compile one rule against the frame's ``schema``. Raises
    RuleExecutionError for unsupported shapes (per-rule isolation: the
    engine turns it into an ERROR result).

    Runtime-registered rule types (core/registry.py) dispatch FIRST —
    the quality-filter builtins (LANG_ID/GOPHER/PERPLEXITY/PII_SCRUB)
    live there (core/builtin_rule_types.py), and a user registration
    with replace=True can override any type's compilation without
    touching this file."""
    t, p = rule.type, rule.parameters
    col = F.col(rule.column) if rule.column else None

    spec = get_rule_type(t)
    if spec is not None:
        try:
            out = spec.compile_fn(rule)
        except RuleExecutionError:
            raise
        except Exception as e:
            raise RuleExecutionError(
                f"registered rule type {spec.name} failed to compile "
                f"{rule.name}: {e}") from e
        if isinstance(out, BatchKernel):
            return CompiledRule(rule, kernel=out)
        if isinstance(out, Column):
            return CompiledRule(rule, out)
        raise RuleExecutionError(
            f"registered rule type {spec.name} compiled {rule.name} to "
            f"{type(out).__name__}, not a Column or a BatchKernel")

    if t == RuleType.NOT_NULL:
        return CompiledRule(rule, col.isNull())

    if t == RuleType.LENGTH:
        # individual-path semantics are canonical: NULL counts as failure
        # (reference: completeness_executor.py:266-269; the merged path's
        # omission of the NULL clause is a reference inconsistency —
        # SURVEY.md §7 "What's hard").
        ln = F.length(col.cast("string"))
        pred = col.isNull()
        if p.get("min_length") is not None:
            pred = pred | (ln < int(p["min_length"]))
        if p.get("max_length") is not None:
            pred = pred | (ln > int(p["max_length"]))
        return CompiledRule(rule, pred)

    if t == RuleType.RANGE:
        # NULL is a failure (reference: validity_executor.py:398-471)
        pred = col.isNull()
        if p.get("min") is not None:
            pred = pred | (col < F.lit(p["min"]))
        if p.get("max") is not None:
            pred = pred | (col > F.lit(p["max"]))
        return CompiledRule(rule, pred)

    if t == RuleType.ENUM:
        vals = list(p["allowed_values"])
        if p.get("extract_domain"):
            # email-domain variant (reference: validity_executor.py:473-517)
            dom = F.substring_index(col, "@", -1)
            pred = col.isNotNull() & col.like("%@%") & ~dom.isin(vals)
        else:
            # SQL NOT IN: NULL does not fail — replicate explicitly
            pred = col.isNotNull() & ~col.isin(vals)
        return CompiledRule(rule, pred)

    if t == RuleType.REGEX:
        # the re kernel renders other types through pandas (1e+20)
        java = (java_regex(p["pattern"]) if rule.column in schema.names
                and schema[rule.column].dataType == T.StringType() else None)
        if java is None:
            return CompiledRule(rule,
                                kernel=udf_tier.regex_kernel(p["pattern"]))
        return CompiledRule(rule, col.isNotNull() & ~col.rlike(java))

    if t == RuleType.DATE_FORMAT:
        return CompiledRule(rule, _date_fail(col.cast("string"), p["format"]))

    # LANG_ID / GOPHER / PERPLEXITY / PII_SCRUB compile via the registry
    # dispatch above (core/builtin_rule_types.py) — no branches here.

    if t == RuleType.CUSTOM:
        expr = p.get("fail_expr")
        if not expr:
            raise RuleExecutionError(
                f"CUSTOM rule {rule.name} needs parameters.fail_expr")
        return CompiledRule(rule, F.expr(expr))

    # UNIQUE and SCHEMA have no row-level form: the engine runs them by
    # type, uncompiled
    raise RuleExecutionError(f"unsupported rule type: {t}")
