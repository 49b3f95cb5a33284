"""UNIQUE rule operator: counts and duplicate samples from one grouped
query.

Reference semantics (core/executors/uniqueness_executor.py:95-200):
NULLs are excluded entirely (``WHERE col IS NOT NULL``); failed_records =
Σ(group_count − 1) over duplicate groups — the extras beyond the first
occurrence (= N_nonnull − N_distinct).

One query answers both: ``GROUP BY col`` over the rule's scoped rows
(the NULL group included), then an ``Observation`` on the groups sums
every group's count (the total) and Σ(n − 1) over the non-NULL groups
(the failed count). It sits above the shuffle, in the result stage,
where Spark merges each task's update once even if a stage re-runs.
``HAVING count > 1 ORDER BY col LIMIT 2k`` takes the samples (reference
uniqueness_executor.py:228-253) in the same action; without samples, or
for a column Spark cannot order (a map), a ``noop`` write of the groups
runs instead. A column that cannot be grouped (a VARIANT) fails at
analysis, an ERROR for that rule alone.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def unique_query(
    df: DataFrame, column: str, filter_condition: Optional[str],
) -> tuple[Observation, DataFrame]:
    """The rule's groups (``column``, ``duplicate_count``), the NULL group
    included, and the ``Observation`` of ``total`` and ``failed`` that an
    action over them fills."""
    scoped = df.filter(F.expr(filter_condition)) if filter_condition else df
    n, key = F.col("duplicate_count"), F.col(column)
    obs = Observation()
    return obs, (scoped.groupBy(column)
                 .agg(F.count(F.lit(1)).alias("duplicate_count"))
                 .observe(obs, F.sum(n).alias("total"),
                          F.sum(F.when(key.isNotNull(), n - 1))
                          .alias("failed")))


def unique_counts(
    df: DataFrame,
    column: str,
    filter_condition: Optional[str],
    limit: int,
    collect_samples: bool,
) -> tuple[int, int, list[dict[str, Any]]]:
    """(total, failed, the first ``limit`` duplicate groups by the column
    value, or none without ``collect_samples``) from one action."""
    obs, groups = unique_query(df, column, filter_condition)
    rows = []
    if collect_samples:
        rows = (groups.filter(F.col(column).isNotNull()
                              & (F.col("duplicate_count") > 1))
                .orderBy(column).limit(limit).collect())
    else:
        groups.select().write.format("noop").mode("overwrite").save()
    m = obs.get
    return m["total"] or 0, m["failed"] or 0, [r.asDict() for r in rows]
