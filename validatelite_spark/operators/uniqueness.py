"""UNIQUE rule operator.

Reference semantics (core/executors/uniqueness_executor.py:95-200):
NULLs are excluded entirely (``WHERE col IS NOT NULL``); failed_records =
Σ(group_count − 1) over duplicate groups — the extras beyond the first
occurrence.

Spark physical plan: instead of translating the reference's
GROUP BY … HAVING subquery literally, we use the identity

    Σ(cnt − 1 | cnt > 1)  =  N_nonnull − N_distinct

so ONE aggregate job — ``agg(count(*), sum(isNotNull), count_distinct)``
— answers total, nonnull, and failed at once, with partial aggregation
map-side. Exact ``count_distinct`` is a two-phase hash aggregate (one
shuffle on the column).

Duplicate samples (the reference's ``ORDER BY col LIMIT 2k``,
uniqueness_executor.py:228-253) run lazily, only when failed > 0.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unique_counts(
    df: DataFrame,
    column: str,
    filter_condition: Optional[str] = None,
) -> dict[str, int]:
    """One-job counts: {'total': …, 'nonnull': …, 'failed': …}."""
    scoped = df.filter(F.expr(filter_condition)) if filter_condition else df
    col = F.col(column)
    row = scoped.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(col.isNotNull().cast("long")).alias("nonnull"),
        F.count_distinct(col).alias("distinct"),
    ).collect()[0]
    total = int(row["total"] or 0)
    nonnull = int(row["nonnull"] or 0)
    distinct = int(row["distinct"] or 0)
    return {"total": total, "nonnull": nonnull,
            "failed": max(nonnull - distinct, 0)}


def duplicate_samples(
    df: DataFrame,
    column: str,
    filter_condition: Optional[str] = None,
    limit: int = 10,
) -> list[dict[str, Any]]:
    """Duplicate groups, deterministically ordered by the column value
    (reference: ORDER BY col LIMIT 2k)."""
    scoped = df.filter(F.expr(filter_condition)) if filter_condition else df
    col = F.col(column)
    rows = (
        scoped.filter(col.isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("duplicate_count"))
        .filter(F.col("duplicate_count") > 1)
        .orderBy(column)
        .limit(limit)
        .collect()
    )
    return [r.asDict() for r in rows]
