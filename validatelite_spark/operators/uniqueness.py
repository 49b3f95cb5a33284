"""UNIQUE rule operator.

Reference semantics (core/executors/uniqueness_executor.py:95-200):
NULLs are excluded entirely (``WHERE col IS NOT NULL``); failed_records =
Σ(group_count − 1) over duplicate groups — the extras beyond the first
occurrence.

The counts are one column of the merged scan of the rule's filter group
(plans/compiler.py compiles UNIQUE to ``count(c) - count_distinct(c)``,
the identity Σ(cnt − 1 | cnt > 1) = N_nonnull − N_distinct). This
module holds the duplicate samples (the reference's ``ORDER BY col
LIMIT 2k``, uniqueness_executor.py:228-253), which the engine runs
lazily, only when failed > 0.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
