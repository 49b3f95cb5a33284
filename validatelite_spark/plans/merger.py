"""Rule merger: answer N rules with ONE aggregate scan per filter group.

The Spark-native realization of the reference's flagship optimization O1
(reference: core/engine/rule_merger.py:142-299): N rules over the same
table and same filter become one

    plan_rules(df, {"__r0": rule_1, ..., "__rN-1": rule_N})
      .agg(F.count(lit(1)).alias("__total"),
           F.count_if(__r0).alias("__r0"),
           ...,
           (F.count(c) - F.count_distinct(c)).alias("__rN-1"))

— one table scan, partial (map-side) aggregation for free, with
Catalyst pruning the scan down to exactly the referenced columns. A
row-level rule (predicate or kernel, plans/compiler.py) is a
``count_if`` of its planned flag; an aggregate rule (UNIQUE) is its
``count`` column itself. The reference keeps UNIQUE out of its merged
query (rule_merger.py:813-914 runs it INDIVIDUAL); here it costs one
more column of the same ``agg``. Unlike the reference we also fold the
total-row-count query into the SAME scan (the reference runs COUNT(*)
separately, rule_engine.py:440-484 — a second full scan we don't pay).

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
from validatelite_spark.plans.planner import plan_rules

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
        return f"__r{i}"

    def scan(self, df: DataFrame) -> DataFrame:
        """The fused aggregate over the filtered frame: the row-level
        rules' flags planned (plans/planner.py) and counted, beside the
        aggregate rules' counts, in one ``agg``."""
        scoped = df.filter(F.expr(self.filter_condition)) if self.filter_condition else df
        aliased = {self.alias_for(i): cr for i, cr in enumerate(self.rules)}
        flagged = plan_rules(scoped, {a: cr for a, cr in aliased.items()
                                      if cr.count is None})
        return flagged.agg(F.count(F.lit(1)).alias(TOTAL_ALIAS), *[
            (F.count_if(F.col(a)) if cr.count is None else cr.count).alias(a)
            for a, cr in aliased.items()])

    def run(self, df: DataFrame) -> dict[str, int]:
        """Execute the fused scan; returns {rule_id: failed} + total."""
        row = self.scan(df).collect()[0]
        out = {TOTAL_ALIAS: int(row[TOTAL_ALIAS] or 0)}
        for i, cr in enumerate(self.rules):
            out[cr.rule.id] = int(row[self.alias_for(i)] or 0)
        return out


def build_merge_groups(compiled: list[CompiledRule]) -> list[MergeGroup]:
    """Group rules by filter_condition, splitting groups wider than the
    cap."""
    by_filter: dict[Optional[str], list[CompiledRule]] = {}
    for cr in compiled:
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
    """The first ``limit`` failing rows of each row-level rule by
    ``order``, as ``columns`` dicts, from ONE scan: each row carries the
    ids of the rules it fails (``when(filter & fail_i, i)``, so every
    kernel runs once: the flags are planned, plans/planner.py),
    exploded, then ``row_number() <= limit`` per rule — planned with a
    partial WindowGroupLimit before the one shuffle."""
    flagged = plan_rules(df, {f"__r{i}": cr for i, cr in enumerate(rules)})
    flags = []
    for i, cr in enumerate(rules):
        fail = F.col(f"__r{i}")
        if cr.rule.filter_condition:
            fail = F.coalesce(F.expr(cr.rule.filter_condition),
                              F.lit(False)) & fail
        flags.append(F.when(fail, F.lit(i)))
    scan = columns if order in columns else [*columns, order]
    rank = F.row_number().over(Window.partitionBy("__rule").orderBy(order))
    rows = (flagged.select(*scan,
                           F.explode(F.array(*flags)).alias("__rule"))
            .filter(F.col("__rule").isNotNull())
            .withColumn("__rank", rank)
            .filter(F.col("__rank") <= limit)
            .collect())
    out: list[list[dict[str, Any]]] = [[] for _ in rules]
    for r in sorted(rows, key=lambda r: (r["__rule"], r["__rank"])):
        out[r["__rule"]].append({c: r[c] for c in columns})
    return out
