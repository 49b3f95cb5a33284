"""Rule-failure overlap analysis: which filter rules fire together.

Quality-filter ablation work (the C4 → Gopher → FineWeb lineage)
needs more than per-rule failure counts — it needs the JOINT failure
structure: how many documents fail exactly {length}, how many fail
{length, repetition} together, which rule uniquely removes documents
nothing else would catch. ``rule_overlap`` computes the full Venn
decomposition in ONE corpus scan: each rule's compiled fail predicate
(the same Column the engine's merged aggregate uses —
plans/compiler.py, so the analysis can never drift from the engine's
verdicts) becomes one bit of a failure bitmask, and a single groupBy
on the mask counts every observed combination. ``rule_marginals``
derives the per-rule summary (total fails, unique fails, docs it
alone would remove) from that tiny mask table.

Scale shape: one FileScan → one partial+final aggregate on an
integer key with at most 2^|rules| distinct values (rules ≤ ~20 by
contract) — the same shape as the fused rule scan, no UDFs, no second
pass. The decode of mask → rule-name list happens AFTER the
aggregation, on the tiny result.

Reference: the reference reports per-rule results independently
(core/executors/*, one row per rule); the joint decomposition has no
reference analogue — it exists for the filter-ablation mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from validatelite_spark.core.rules import Rule
from validatelite_spark.plans.compiler import compile_rule

#: bitmask width guard: 2^n groups must stay a "tiny" aggregate
MAX_OVERLAP_RULES = 20


def rule_overlap(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """One row per OBSERVED failure combination: ``fail_mask`` (bit i
    set = rules[i] fails the row), ``failed_rules`` (comma-joined rule
    names in rules order; ``""`` for the all-pass row), ``n_rows``.

    NULL semantics per rule type are exactly the engine's (a rule's
    fail predicate is never NULL — the compiler folds the NULL
    verdict into it), so the mask is total: every row lands in exactly
    one combination and ``sum(n_rows)`` is the corpus size."""
    if not rules:
        raise ValueError("rule_overlap needs at least one rule")
    if len(rules) > MAX_OVERLAP_RULES:
        raise ValueError(
            f"rule_overlap supports at most {MAX_OVERLAP_RULES} rules "
            f"(got {len(rules)}) — 2^n mask cardinality must stay tiny")
    compiled = [compile_rule(r, df.schema) for r in rules]
    bad = [c.rule.name for c in compiled if c.fail_predicate is None]
    if bad:
        raise ValueError(
            "rule_overlap needs row-level fail predicates; these rules "
            f"compile to non-mergeable tiers: {bad} (UNIQUE/SCHEMA "
            "have no per-row verdict)")
    mask = F.lit(0).cast("long")
    for i, c in enumerate(compiled):
        mask = mask + F.when(c.fail_predicate, F.lit(1 << i)) \
            .otherwise(F.lit(0)).cast("long")
    agg = (df.groupBy(mask.alias("fail_mask"))
           .agg(F.count(F.lit(1)).alias("n_rows")))
    label = F.concat_ws(",", *[
        F.when(F.col("fail_mask").bitwiseAND(F.lit(1 << i)) != 0,
               F.lit(c.rule.name))
        for i, c in enumerate(compiled)])
    return agg.select("fail_mask", label.alias("failed_rules"),
                      "n_rows")


def rule_marginals(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Per-rule ablation summary derived from the mask table (still
    one corpus scan): ``rule_name``, ``fail_count`` (rows the rule
    fails), ``unique_fail_count`` (rows ONLY this rule fails — its
    irreplaceable contribution: dropping the rule admits exactly these
    rows into the kept set)."""
    masks = rule_overlap(df, rules)
    # cross the TINY mask table with the rule indices (explode of a
    # literal array — n × 2^n rows at most) instead of unioning n
    # aggregates: a union of n legs would re-evaluate the corpus scan
    # once per rule; this shape keeps exactly one scan in the plan
    idx = F.explode(F.array(*[F.lit(i) for i in
                              range(len(rules))])).alias("i")
    name = F.lit(None).cast("string")
    for i, r in enumerate(rules):
        name = F.when(F.col("i") == i, F.lit(r.name)).otherwise(name)
    # F.shiftleft's numBits arg is python-int-only — go through expr
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), i)")
    return (masks.select(idx, "fail_mask", "n_rows")
            .groupBy("i")
            .agg(F.sum(F.when(F.col("fail_mask").bitwiseAND(bit) != 0,
                              F.col("n_rows")).otherwise(0))
                 .cast("long").alias("fail_count"),
                 F.sum(F.when(F.col("fail_mask") == bit,
                              F.col("n_rows")).otherwise(0))
                 .cast("long").alias("unique_fail_count"))
            .select(name.alias("rule_name"), "fail_count",
                    "unique_fail_count"))
