"""Vectorized (Arrow/pandas) UDF tier — the Python-exact predicates.

The reference extends SQLite with registered Python scalar functions
(reference: shared/database/sqlite_functions.py:11-244). Here the same
semantics become *vectorized* pandas UDFs (Arrow batches, no per-row
Python loops) that return boolean failure flags, so they can still fuse
into the single-scan ``df.agg()`` alongside native predicates.

Semantics preserved exactly:

- ``regex_fail``      — Python ``re`` engine parity (reference dialects are
  MySQL REGEXP / PG ~ / Python re; we standardize on ``re``, SURVEY §2.2).
  NULL does NOT fail (SQL ``NOT REGEXP`` on NULL is unknown). The
  parity reference of the ``rlike`` tier (``plans.compiler.java_regex``).
- ``date_format_fail`` — strptime *round-trip* check rejecting 2023-02-31;
  NULL/empty string passes (reference: sqlite_functions.py:177-213).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from validatelite_spark.core.types import format_to_strptime


def regex_fail(col: Column, pattern: str) -> Column:
    """Failure predicate: value does NOT match ``pattern`` (Python ``re``,
    ``re.search`` anchored only if the pattern anchors itself — matching the
    reference's ``REGEXP`` operator semantics). NULL → not a failure."""
    compiled = re.compile(pattern)

    @F.pandas_udf(T.BooleanType())
    def _fail(s: pd.Series) -> pd.Series:
        # str.match is anchored at start; the SQL REGEXP operator is a
        # "contains" search, so use str.contains (re.search semantics).
        matched = s.astype("string").str.contains(compiled, regex=True)
        # NULL → NOT a failure (SQL NULL semantics)
        return (~matched).fillna(False).astype(bool)

    return _fail(col)


def date_format_fail(col: Column, fmt: str) -> Column:
    """Failure predicate: string fails the strptime round-trip for ``fmt``
    (``YYYY-MM-DD`` token style). NULL/blank passes. Vectorized via
    ``pd.to_datetime(format=..., errors='coerce')`` + strftime compare —
    catches semantically invalid dates (2023-02-31) exactly like the
    reference (sqlite_functions.py:196-213)."""
    pyfmt = format_to_strptime(fmt)

    @F.pandas_udf(T.BooleanType())
    def _fail(s: pd.Series) -> pd.Series:
        vals = s.astype("string")
        blank = vals.isna() | (vals.str.strip() == "")
        parsed = pd.to_datetime(vals, format=pyfmt, errors="coerce")
        # round-trip: re-format and require byte equality
        rendered = parsed.dt.strftime(pyfmt)
        ok = parsed.notna() & (rendered == vals)
        fail = ~(ok | blank)
        return fail.fillna(True).astype(bool)

    return _fail(col)
