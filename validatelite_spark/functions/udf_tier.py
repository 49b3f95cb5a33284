"""Python-exact tier — the REGEX kernel for a pattern only ``re`` runs.

The reference registers Python scalar functions in SQLite (reference:
shared/database/sqlite_functions.py:11-244). ``regex_kernel`` is its
``REGEXP``: ``re.search`` parity (SURVEY §2.2), NULL does NOT fail. As a
``BatchKernel`` (core/registry.py) it runs in the scan's one Arrow pass
(``plans/planner.plan_rules``); ``re`` has no Arrow form, so it renders
its batch as pandas strings (``_strings``, the only pandas conversion in
a rule scan). Its Column form ``regex_fail`` is the parity reference of
the ``rlike`` tier (``plans.compiler.java_regex``). The other registered
function, DATE_FORMAT's strptime round trip, compiles to a Column.
"""

from __future__ import annotations

import functools
import re

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column

from validatelite_spark.core.registry import BatchKernel
from validatelite_spark.plans.planner import batch_udf


def _strings(values: pa.Array) -> pd.Series:
    """``values`` as a pandas string Series, rendered the way Spark's
    pandas conversion renders them (``1e+20``; a timestamp as its
    session-zone wall time, no offset; an int as an int, even with NULLs)."""
    s = values.to_pandas(integer_object_nulls=True)
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
    k = regex_kernel(pattern)
    return batch_udf(lambda values: k.fail(k.signal(values)), "boolean")(col)
