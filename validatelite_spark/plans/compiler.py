"""Rule compiler: Rule (logical) → Spark failure predicate (physical).

The analogue of the reference's executor dispatch
(reference: core/executors/__init__.py:19-79) — but instead of generating
dialect SQL strings, each rule type compiles to a Spark ``Column`` failure
predicate in one of four tiers:

- NATIVE   — pure built-in ``pyspark.sql.functions`` (whole-stage codegen)
- UDF      — vectorized pandas/Arrow UDF (Python-exact semantics: ``re``
             regex parity, strptime round-trip, perplexity)
- GROUPBY  — needs its own aggregation shape (UNIQUE)
- METADATA — no data scan at all (SCHEMA, reference
             schema_executor.py:120-134 ``execution_type="metadata"``)

NATIVE and UDF predicates both fuse into ONE ``df.agg()`` scan downstream
(plans/merger.py). NULL semantics per rule type are the reference's
(see core/rules.py table and SURVEY.md §2.2). REGEX takes NATIVE
``rlike`` only when its column is a string and ``java_regex`` can
rebuild its pattern with the same meaning (CLAUDE.md rule 19).
"""

from __future__ import annotations

import re._constants as sre
import re._parser as sre_parse
from dataclasses import dataclass
from enum import Enum
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from validatelite_spark.core import builtin_rule_types  # noqa: F401 (registers)
from validatelite_spark.core.registry import get_rule_type
from validatelite_spark.core.results import RuleExecutionError
from validatelite_spark.core.rules import Rule, RuleType
from validatelite_spark.functions import udf_tier


class Tier(str, Enum):
    NATIVE = "NATIVE"
    UDF = "UDF"
    GROUPBY = "GROUPBY"
    METADATA = "METADATA"


@dataclass
class CompiledRule:
    rule: Rule
    tier: Tier
    fail_predicate: Optional[Column] = None  # NATIVE / UDF tiers only

    @property
    def mergeable(self) -> bool:
        """Can fuse into the shared single-scan agg (reference analogue:
        rule_merger.py:813-914 MERGED strategy; UNIQUE/SCHEMA are always
        INDIVIDUAL there too)."""
        return self.tier in (Tier.NATIVE, Tier.UDF)


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
            pred = spec.compile_fn(rule) if spec.compile_fn else None
        except RuleExecutionError:
            raise
        except Exception as e:
            raise RuleExecutionError(
                f"registered rule type {spec.name} failed to compile "
                f"{rule.name}: {e}") from e
        return CompiledRule(rule, Tier(spec.tier), pred)

    if t == RuleType.NOT_NULL:
        return CompiledRule(rule, Tier.NATIVE, col.isNull())

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
        return CompiledRule(rule, Tier.NATIVE, pred)

    if t == RuleType.RANGE:
        # NULL is a failure (reference: validity_executor.py:398-471)
        pred = col.isNull()
        if p.get("min") is not None:
            pred = pred | (col < F.lit(p["min"]))
        if p.get("max") is not None:
            pred = pred | (col > F.lit(p["max"]))
        return CompiledRule(rule, Tier.NATIVE, pred)

    if t == RuleType.ENUM:
        vals = list(p["allowed_values"])
        if p.get("extract_domain"):
            # email-domain variant (reference: validity_executor.py:473-517)
            dom = F.substring_index(col, "@", -1)
            pred = col.isNotNull() & col.like("%@%") & ~dom.isin(vals)
        else:
            # SQL NOT IN: NULL does not fail — replicate explicitly
            pred = col.isNotNull() & ~col.isin(vals)
        return CompiledRule(rule, Tier.NATIVE, pred)

    if t == RuleType.REGEX:
        # the UDF renders other types through pandas (1e+20, +00:00)
        java = (java_regex(p["pattern"]) if rule.column in schema.names
                and schema[rule.column].dataType == T.StringType() else None)
        if java is None:
            return CompiledRule(
                rule, Tier.UDF, udf_tier.regex_fail(col, p["pattern"]))
        return CompiledRule(rule, Tier.NATIVE,
                            col.isNotNull() & ~col.rlike(java))

    if t == RuleType.DATE_FORMAT:
        return CompiledRule(
            rule, Tier.UDF, udf_tier.date_format_fail(col, p["format"]))

    # LANG_ID / GOPHER / PERPLEXITY / PII_SCRUB compile via the registry
    # dispatch above (core/builtin_rule_types.py) — no branches here.

    if t == RuleType.UNIQUE:
        return CompiledRule(rule, Tier.GROUPBY)

    if t == RuleType.SCHEMA:
        return CompiledRule(rule, Tier.METADATA)

    if t == RuleType.CUSTOM:
        expr = p.get("fail_expr")
        if not expr:
            raise RuleExecutionError(
                f"CUSTOM rule {rule.name} needs parameters.fail_expr")
        return CompiledRule(rule, Tier.NATIVE, F.expr(expr))

    raise RuleExecutionError(f"unsupported rule type: {t}")
