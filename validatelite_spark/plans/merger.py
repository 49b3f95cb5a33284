"""Rule merger: fuse N mergeable rules into ONE single-scan aggregate.

The Spark-native realization of the reference's flagship optimization O1
(reference: core/engine/rule_merger.py:142-299): N rules over the same
table and same filter become one

    df.agg(F.count(lit(1)).alias("__total"),
           F.sum(when(fail_1, 1)).alias("r0"),
           ...,
           F.sum(when(fail_N, 1)).alias("rN-1"))

— one table scan, one job, partial (map-side) aggregation for free, with
Catalyst pruning the scan down to exactly the referenced columns. Unlike
the reference we also fold the total-row-count query into the SAME scan
(the reference runs COUNT(*) separately, rule_engine.py:440-484 — a second
full scan we don't pay).

Rules with different ``filter_condition``s land in different groups
(reference requires identical filters to merge, rule_merger.py:135-139).
The reference's width cap of 10 rules/query bounds SQL complexity
(rule_merger.py:876-901); Spark handles hundreds of agg columns fine, so
the cap here is much higher and exists only to bound codegen size.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from validatelite_spark.plans.compiler import CompiledRule

TOTAL_ALIAS = "__total"

#: codegen-size guard, not a SQL-complexity guard like the reference's 10.
MAX_RULES_PER_MERGE = 200


@dataclass
class MergeGroup:
    """A batch of rules answered by one aggregate scan
    (reference MergeGroup: core/engine/rule_merger.py:37-72)."""

    filter_condition: Optional[str]
    rules: list[CompiledRule] = field(default_factory=list)

    def alias_for(self, i: int) -> str:
        return f"r{i}"

    def agg_columns(self) -> list[Column]:
        cols = [F.count(F.lit(1)).alias(TOTAL_ALIAS)]
        for i, cr in enumerate(self.rules):
            cols.append(
                F.sum(F.when(cr.fail_predicate, 1).otherwise(0))
                .alias(self.alias_for(i))
            )
        return cols

    def run(self, df: DataFrame) -> dict[str, int]:
        """Execute the fused scan; returns {rule_id: failed} + total."""
        scoped = df.filter(F.expr(self.filter_condition)) if self.filter_condition else df
        row = scoped.agg(*self.agg_columns()).collect()[0]
        out = {TOTAL_ALIAS: int(row[TOTAL_ALIAS] or 0)}
        for i, cr in enumerate(self.rules):
            out[cr.rule.id] = int(row[self.alias_for(i)] or 0)
        return out


def build_merge_groups(compiled: list[CompiledRule]) -> list[MergeGroup]:
    """Group mergeable rules by filter_condition, splitting groups wider
    than the cap. Non-mergeable tiers (GROUPBY/METADATA) are not accepted
    here — the engine routes them separately."""
    by_filter: dict[Optional[str], list[CompiledRule]] = {}
    for cr in compiled:
        assert cr.mergeable, f"non-mergeable rule routed to merger: {cr.rule.name}"
        by_filter.setdefault(cr.rule.filter_condition, []).append(cr)
    groups: list[MergeGroup] = []
    for filt, rules in by_filter.items():
        for i in range(0, len(rules), MAX_RULES_PER_MERGE):
            groups.append(MergeGroup(filt, rules[i:i + MAX_RULES_PER_MERGE]))
    return groups


def failure_samples(
    df: DataFrame,
    rules: list[CompiledRule],
    columns: list[str],
    order: str,
    limit: int,
) -> list[list[dict[str, Any]]]:
    """The first ``limit`` failing rows of each rule by ``order``, as
    ``columns`` dicts, from ONE scan: each row carries the ids of the
    rules it fails (``when(filter & fail_i, i)``, so every UDF runs
    once), exploded, then ``row_number() <= limit`` per rule — planned
    with a partial WindowGroupLimit before the one shuffle."""
    flags = []
    for i, cr in enumerate(rules):
        fail = cr.fail_predicate
        if cr.rule.filter_condition:
            fail = F.coalesce(F.expr(cr.rule.filter_condition),
                              F.lit(False)) & fail
        flags.append(F.when(fail, F.lit(i)))
    scan = columns if order in columns else [*columns, order]
    rank = F.row_number().over(Window.partitionBy("__rule").orderBy(order))
    rows = (df.select(*scan, F.explode(F.array(*flags)).alias("__rule"))
            .filter(F.col("__rule").isNotNull())
            .withColumn("__rank", rank)
            .filter(F.col("__rank") <= limit)
            .collect())
    out: list[list[dict[str, Any]]] = [[] for _ in rules]
    for r in sorted(rows, key=lambda r: (r["__rule"], r["__rank"])):
        out[r["__rule"]].append({c: r[c] for c in columns})
    return out
