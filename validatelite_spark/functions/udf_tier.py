"""Python-exact tier — the rule kernels that need Python semantics.

The reference extends SQLite with registered Python scalar functions
(reference: shared/database/sqlite_functions.py:11-244). Here the same
semantics become ``BatchKernel``s (core/registry.py) over an Arrow
batch, which ``plans/planner.plan_rules`` runs in the scan's one Arrow
pass, so they still fuse into the single-scan ``df.agg()`` alongside
native predicates. Python ``re`` and ``strptime`` have no Arrow form:
each kernel renders its batch as pandas strings itself (``_strings``,
the only pandas conversion left in a rule scan).

Semantics preserved exactly:

- ``regex_kernel``  — Python ``re`` engine parity (reference dialects are
  MySQL REGEXP / PG ~ / Python re; we standardize on ``re``, SURVEY §2.2).
  NULL does NOT fail (SQL ``NOT REGEXP`` on NULL is unknown). Its Column
  form ``regex_fail`` is the parity reference of the ``rlike`` tier
  (``plans.compiler.java_regex``).
- ``date_kernel`` — strptime *round-trip* check rejecting 2023-02-31;
  NULL/empty string passes (reference: sqlite_functions.py:177-213).
"""

from __future__ import annotations

import functools
import re

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column

from validatelite_spark.core.registry import BatchKernel
from validatelite_spark.core.types import format_to_strptime
from validatelite_spark.plans.planner import batch_udf


def _strings(values: pa.Array) -> pd.Series:
    """``values`` as a pandas string Series, rendered the way Spark's
    pandas conversion renders them (``1e+20``; a timestamp as its
    session-zone wall time, with no offset)."""
    s = values.to_pandas()
    if pa.types.is_timestamp(values.type) and values.type.tz is not None:
        s = s.dt.tz_localize(None)
    return s.astype("string")


@functools.cache
def regex_kernel(pattern: str) -> BatchKernel:
    """REGEX rule kernel: the value does NOT match ``pattern`` under
    ``re.search`` (the reference's ``REGEXP`` is a "contains" search);
    NULL is not a failure. Cached, so one pattern is one signal pass."""
    compiled = re.compile(pattern)

    def found_or_null(values: pa.Array) -> np.ndarray:
        found = _strings(values).str.contains(compiled, regex=True)
        return found.fillna(True).to_numpy(bool)

    return BatchKernel(found_or_null, np.logical_not)


def regex_fail(col: Column, pattern: str) -> Column:
    """``regex_kernel``'s verdict as a Column (the ``rlike`` tier's
    parity reference)."""
    return batch_udf(regex_kernel(pattern).verdict, "boolean")(col)


@functools.cache
def date_kernel(fmt: str) -> BatchKernel:
    """DATE_FORMAT rule kernel: the value is neither NULL/blank nor
    survives the strptime round trip for ``fmt`` (``YYYY-MM-DD`` token
    style) — parsed via ``pd.to_datetime(format=..., errors='coerce')``,
    re-formatted and byte-compared, which rejects 2023-02-31 exactly like
    the reference (sqlite_functions.py:196-213)."""
    pyfmt = format_to_strptime(fmt)

    def ok(values: pa.Array) -> np.ndarray:
        vals = _strings(values)
        blank = vals.isna() | (vals.str.strip() == "")
        parsed = pd.to_datetime(vals, format=pyfmt, errors="coerce")
        rendered = parsed.dt.strftime(pyfmt)
        passed = (parsed.notna() & (rendered == vals)) | blank
        return passed.fillna(False).to_numpy(bool)

    return BatchKernel(ok, np.logical_not)


def date_format_fail(col: Column, fmt: str) -> Column:
    """``date_kernel``'s verdict as a Column."""
    return batch_udf(date_kernel(fmt).verdict, "boolean")(col)
