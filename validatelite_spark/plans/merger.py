"""Rule merger: count every row-level rule of an ``execute`` with ONE
pruned pass, and sample the failing ones with one more.

The Spark-native realization of the reference's flagship optimization O1
(reference: core/engine/rule_merger.py:142-299) and its lazy failure
sampling O7 (base_executor.py:292-347). The rules' flags are planned
once (plans/planner.py, so every kernel runs once per row, and each
flag is already its rule's verdict within its ``filter_condition``
scope), and an ``Observation`` on that planned frame counts them:

    plan_rules(df, {"__r0": rule_0, ..., "__rN-1": rule_N-1})
      .observe(obs, count(1), count_if(__r0), ...,
               count_if(scope_i) for each filtered rule i)

``count_exprs`` builds those aggregates and ``read_counts`` reads
``(total, failed)`` per rule from them; ``QualityPipeline.results``
counts its flags with the same two. A NULL flag is not counted. A
``noop`` write of that frame with no columns fills the observation: one
job, one stage, the scan pruned to the rule columns. The observation
sits in the write's result stage, where Spark merges each task's update
once however often a task or stage re-runs; below a shuffle (a map
stage) a re-run would add its rows again.

``failure_samples`` then runs only for the rules that failed: each row
carries the ids of the rules it fails, exploded, then ``row_number() <=
limit`` per rule, planned with a partial WindowGroupLimit before its one
shuffle. A rule that passes never reaches that query, so its kernel runs
once; a failing rule's kernel runs again there.

Rules with different ``filter_condition``s share the one pass (the
reference requires identical filters to merge, rule_merger.py:135-139,
and caps a query at 10 rules, rule_merger.py:876-901; an observation
has no such limit). Unlike the reference we also fold the total-row
count into the SAME pass (the reference runs COUNT(*) separately,
rule_engine.py:440-484).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from validatelite_spark.core.rules import Rule
from validatelite_spark.plans.compiler import CompiledRule
from validatelite_spark.plans.planner import plan_rules, scope


def count_exprs(flags: dict[str, Rule]) -> list[Column]:
    """The aggregates that count ``flags`` (flag column → rule) over a
    frame ``plan_rules`` planned them on: ``__n`` rows, and per flag
    ``__f<i>`` failures and, for a filtered rule, ``__t<i>`` rows in its
    scope. A NULL flag is not counted."""
    metrics = [F.count(F.lit(1)).alias("__n")]
    for i, (flag, rule) in enumerate(flags.items()):
        if rule.filter_condition:
            metrics.append(F.count_if(scope(rule)).alias(f"__t{i}"))
        metrics.append(F.count_if(F.col(flag)).alias(f"__f{i}"))
    return metrics


def read_counts(metrics: dict[str, Any], n: int) -> list[tuple[int, int]]:
    """``(total, failed)`` of each of ``n`` flags from the values of
    their ``count_exprs``."""
    return [(metrics.get(f"__t{i}", metrics["__n"]), metrics[f"__f{i}"])
            for i in range(n)]


def count_query(df: DataFrame,
                rules: list[CompiledRule]) -> tuple[Observation, DataFrame]:
    """The column-free frame whose ``noop`` write counts ``rules``, with
    the ``Observation`` of their ``count_exprs`` it fills."""
    flags = {f"__r{i}": cr for i, cr in enumerate(rules)}
    obs = Observation()
    metrics = count_exprs({f: cr.rule for f, cr in flags.items()})
    return obs, plan_rules(df, flags).observe(obs, *metrics).select()


def rule_counts(df: DataFrame,
                rules: list[CompiledRule]) -> list[tuple[int, int]]:
    """``(total, failed)`` of each row-level rule, from one ``noop``
    write."""
    obs, frame = count_query(df, rules)
    frame.write.format("noop").mode("overwrite").save()
    return read_counts(obs.get, len(rules))


def sample_query(
    df: DataFrame,
    rules: list[CompiledRule],
    columns: list[str],
    order: str,
    limit: int,
) -> DataFrame:
    """The first ``limit`` failing rows of each rule by ``order``:
    ``columns`` plus ``__rule`` (the rule's index) and ``__rank``."""
    flagged = plan_rules(df, {f"__r{i}": cr for i, cr in enumerate(rules)})
    flags = [F.when(F.col(f"__r{i}"), F.lit(i)) for i in range(len(rules))]
    scan = columns if order in columns else [*columns, order]
    rank = F.row_number().over(Window.partitionBy("__rule").orderBy(order))
    return (flagged.select(*scan, F.explode(F.array(*flags)).alias("__rule"))
            .filter(F.col("__rule").isNotNull())
            .withColumn("__rank", rank)
            .filter(F.col("__rank") <= limit))


def failure_samples(
    df: DataFrame,
    rules: list[CompiledRule],
    columns: list[str],
    order: str,
    limit: int,
) -> list[list[dict[str, Any]]]:
    """Each rule's ``sample_query`` rows as ``columns`` dicts, from one
    action."""
    out: list[list[dict[str, Any]]] = [[] for _ in rules]
    rows = sample_query(df, rules, columns, order, limit).collect()
    for r in sorted(rows, key=lambda r: (r["__rule"], r["__rank"])):
        out[r["__rule"]].append({c: r[c] for c in columns})
    return out
