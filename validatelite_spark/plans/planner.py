"""Rule planner: compiled rules → one flag column per rule, in ONE
projection with at most ONE Arrow pass (SURVEY §7 step 4).

The engine's one counting and sampling action, ``rule_overlap``, the
registered-rule queries of ``__spark_entry__`` and
``QualityPipeline.annotate`` all plan their per-row verdicts here, and
here alone a rule's ``filter_condition`` applies: each flag is
``scope(rule) & verdict``, ANDed inside the Arrow UDF for a kernel (so
the scrub gate reads it too) and in the projection otherwise. The
projection holds the shared inputs (the ``tokens`` split of each string
column a native predicate reads via ``tokens_of``), the native
predicates, and one Arrow UDF (``F.arrow_udf``) for every
``BatchKernel`` rule plus the optional scrub. Inside it each distinct
(column, signal) pair runs once per batch: two PERPLEXITY rules share
one perplexity pass, a PII rule and the scrub share one hit scan. A
dual-form kernel (LANG_ID, GOPHER) joins the UDF only when another rule
kernel already reads its column; otherwise its Column form runs, and
the scan stays free of Python. The pass is pyarrow.compute and numpy over
the batch's Arrow arrays, and builds no pandas object: only a kernel
that needs Python semantics (``functions/udf_tier.py``, REPETITION)
converts its own column.

The UDF is nondeterministic although pure: Catalyst copies a
deterministic one into any filter pushed below the projection
(``annotate(df).filter("keep")`` ran every kernel twice per row). The
price: a filter on an INPUT column stays above the UDF too — filter
before planning.
"""

from __future__ import annotations

from functools import reduce
from typing import TYPE_CHECKING, Any, Callable, Collection, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from validatelite_spark.core.registry import BatchKernel
from validatelite_spark.functions.pii import hit_array, scrub_array
from validatelite_spark.functions.textquality import tokens

if TYPE_CHECKING:
    from validatelite_spark.core.rules import Rule
    from validatelite_spark.plans.compiler import CompiledRule

#: the scrubbed text column ``plan_rules(scrub=...)`` adds
SCRUBBED = "text_scrubbed"

_TOKENS = "__tokens_"
_FX = "__fx"


def tokens_of(column: str) -> Column:
    """``textquality.tokens(column)``, computed once per row by the
    planned projection for every predicate that reads it. GOPHER's
    Column form is the one reader; it stays because the split shared as
    a column beats the split shared by Catalyst's subexpression
    elimination (noop projection of 40k cached pages on 4 vCPUs,
    median of 5 warm reps: 2.00 s against 2.23 s, and 4.23 s when a
    CASE branch hid the split from it)."""
    return F.col(_TOKENS + column)


def _arrow(values) -> pa.Array:
    """A kernel's output (an Arrow or numpy array) as an Arrow array; a
    numpy NaN becomes NULL."""
    if isinstance(values, pa.Array):
        return values
    return pa.array(values, from_pandas=True)


def batch_udf(fn: Callable[[pa.Array], Any], return_type: str):
    """``fn`` as a standalone one-column Arrow UDF: the Column form of a
    kernel's signal or verdict, for parity references and one-off
    columns. Rule scans run their kernels in ``plan_rules``' one UDF."""
    return F.arrow_udf(lambda values: _arrow(fn(values)), return_type)


def kernel_udf(inputs: list[Column],
               kernels: dict[str, tuple[int, BatchKernel]],
               scrub: Optional[int] = None, drop: Optional[Column] = None,
               drops: Collection[str] = (),
               scopes: Optional[dict[str, int]] = None) -> Column:
    """The planner's one Arrow UDF: a struct with a boolean field per
    ``kernels`` entry (field → (index into ``inputs``, kernel)), ANDed
    with the boolean input ``scopes`` maps it to, and, when ``scrub``
    indexes a text input, a ``scrubbed`` field — that text scrubbed
    where neither ``drop`` nor a kernel named in ``drops`` fails, NULL
    elsewhere. A kept row with no pattern hit scrubs to itself, so only
    hit rows pay the substitution passes."""
    signals: list[tuple[int, Callable]] = []

    def slot(i: int, signal: Callable) -> int:
        if (i, signal) not in signals:
            signals.append((i, signal))
        return signals.index((i, signal))

    plan = [(name, slot(i, k.signal), k.fail)
            for name, (i, k) in kernels.items()]
    fields = [T.StructField(name, T.BooleanType()) for name in kernels]
    gates = [name for name in kernels if name in drops]
    args = list(inputs)
    if scrub is not None:
        hit = slot(scrub, hit_array)
        fields.append(T.StructField("scrubbed", T.StringType()))
        args.append(drop)
    schema = T.StructType(fields)

    # no type hints: arrow_udf infers its kind from them, and reads an
    # Array -> StructArray function as an aggregate
    def rule_kernels(*cols):
        sig = [signal(cols[i]) for i, signal in signals]
        out = {name: np.asarray(fail(sig[j]), dtype=bool)
               for name, j, fail in plan}
        for name, i in (scopes or {}).items():
            out[name] = out[name] & pc.fill_null(cols[i], False).to_numpy(
                zero_copy_only=False)
        arrays = [pa.array(flags) for flags in out.values()]
        if scrub is not None:
            text = cols[scrub]
            keep = ~pc.fill_null(cols[-1], False).to_numpy(
                zero_copy_only=False)
            for name in gates:
                keep &= ~out[name]
            hits = np.asarray(sig[hit], dtype=bool)
            clean, dirty = pa.array(keep & ~hits), pa.array(keep & hits)
            scrubbed = pc.if_else(clean, text, pa.scalar(None, pa.string()))
            if pc.any(dirty).as_py():
                scrubbed = pc.replace_with_mask(
                    scrubbed, dirty, scrub_array(text.filter(dirty)))
            arrays.append(scrubbed)
        return pa.StructArray.from_arrays(arrays, schema.fieldNames())

    return F.arrow_udf(rule_kernels, schema).asNondeterministic()(*args)


def scope(rule: Rule) -> Optional[Column]:
    """The rows ``rule`` judges: ``coalesce(filter_condition, false)``
    (a row whose filter is NULL is out of scope), or None when the rule
    has no filter and judges every row."""
    if not rule.filter_condition:
        return None
    return F.coalesce(F.expr(rule.filter_condition), F.lit(False))


def plan_rules(df: DataFrame, flags: dict[str, CompiledRule],
               scrub: Optional[str] = None,
               drop: Collection[str] = ()) -> DataFrame:
    """``df`` plus one boolean column per ``flags`` entry (column name →
    row-level compiled rule): the rule's verdict within its ``scope``,
    false outside it. With ``scrub`` naming a text column, also
    ``SCRUBBED``: that text scrubbed on the rows no rule named in
    ``drop`` fails (a NULL native flag does not fail), NULL on the
    others. A native flag keeps its predicate's NULLs in scope; kernel
    flags are never NULL."""
    strings = {f.name for f in df.schema.fields
               if isinstance(f.dataType, T.StringType)}
    kernel_cols = {cr.rule.column for cr in flags.values()
                   if cr.kernel is not None and cr.kernel.native is None}
    native: dict[str, Column] = {}
    kernels: dict[str, CompiledRule] = {}
    for name, cr in flags.items():
        if cr.kernel is not None and (cr.kernel.native is None
                                      or cr.rule.column in kernel_cols):
            kernels[name] = cr
            continue
        pred = cr.fail_predicate if cr.kernel is None else cr.kernel.native()
        native[name] = (scope(cr.rule) & pred if cr.rule.filter_condition
                        else pred)
    # a predicate reading ``tokens_of(c)`` names the hidden column
    texts = [str(pred) for pred in native.values()]
    split = [c for c in sorted(strings)
             if any(_TOKENS + c in text for text in texts)]
    out = df.withColumns({_TOKENS + c: tokens(F.col(c)) for c in split})
    if not kernels and scrub is None:
        return out.withColumns(native).drop(*[_TOKENS + c for c in split])
    columns = sorted({cr.rule.column for cr in kernels.values()}
                     | {scrub} - {None})
    at = {c: i for i, c in enumerate(columns)}
    fx = {n: (at[cr.rule.column], cr.kernel) for n, cr in kernels.items()}
    scoped = [n for n, cr in kernels.items() if cr.rule.filter_condition]
    inputs = ([F.col(c) for c in columns]
              + [scope(kernels[n].rule) for n in scoped])
    scopes = {n: len(columns) + i for i, n in enumerate(scoped)}
    if scrub is None:
        out = out.withColumns(
            {**native, _FX: kernel_udf(inputs, fx, scopes=scopes)})
    else:
        native_drop = reduce(
            Column.__or__,
            [F.coalesce(F.col(n), F.lit(False)) for n in native if n in drop],
            F.lit(False))
        out = out.withColumns(native).withColumn(_FX, kernel_udf(
            inputs, fx, scrub=at[scrub], drop=native_drop, drops=drop,
            scopes=scopes))
    fields = {n: F.col(_FX).getField(n) for n in kernels}
    if scrub is not None:
        fields[SCRUBBED] = F.col(_FX).getField("scrubbed")
    return out.withColumns(fields).drop(_FX, *[_TOKENS + c for c in split])
