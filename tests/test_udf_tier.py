"""Regex tier parity: ``compile_rule`` sends a REGEX rule to ``rlike``
only when the rebuilt Java pattern fails exactly the rows the ``re``
UDF (``udf_tier.regex_fail``, the Python-exact reference) fails.

The values are the ones where ``java.util.regex`` reads a raw pattern
differently from ``re``: line terminators other than ``\\n`` before
``$`` and under ``.``, ``\\Z`` before a final newline, ``&&`` and ``[``
inside a class, Unicode digits and case folding (U+212A KELVIN SIGN
folds to ``k``)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from validatelite_spark.core.rules import regex
from validatelite_spark.functions import udf_tier
from validatelite_spark.operators.engine import RuleEngine
from validatelite_spark.plans.compiler import compile_rule
from validatelite_spark.plans.desired_type import _INT_REGEX
from validatelite_spark.plans.planner import plan_rules

BENCH_REGEX = r'^\{"k": [1-9]?[0-3]\}$'

VALUES = [
    "abc", "abc\r", "abc\r\n", "abc\n", "abc\u0085", "abc\u2028", "abcd",
    "x\ry", "x\ny", "x\u0085y", "x\u2028y", "x.y", "xy",
    "a", "b", "&", "ab", "[", "cab", "a b", " ab",
    "\r", "\r\n", "\n", "\u0085", "\u2028", "",
    "123", "12\n", "\u0661", "\u0661\u0662", " 42 ", "-7", "+0",
    "k", "K", "\u212a",
    '{"k": 13}', '{"k": 3}', '{"k": 14}', '{"k": 13}\n', '{"k": 13}\r\n',
    "\u00e9", "e\u0301", "\u00e9t\u00e9", "\u03b1\u03c9", "\u0391",
    "\U0001f600x", None,
]

NATIVE = [
    "abc$", "x.y", "^[a&&b]$", "[[]", r"abc\Z", r"\Aab", BENCH_REGEX,
    "^\u00e9", "[\u03b1-\u03c9]", "[^\u00e0-\u00ff]$", "^[\u0660-\u0669]+$",
    "\u212a", "^.x$", "(?:a|cab)$", "^(a|b)+?$", "^x{1}.?y$", "[^\r]$",
]
UDF = [r"^\d+$", r"\s", r"\w$", "(?i)k", r"\bab", _INT_REGEX,
       "(?=a)", r"(a)\1", "(?>ab)"]


@pytest.fixture(scope="module")
def strings(spark):
    return spark.createDataFrame(list(enumerate(VALUES)),
                                 "id long, s string")


def _failed(df, compiled, column, pattern):
    """Failed ids of the planned rule and of ``regex_fail``."""
    rows = (plan_rules(df, {"a": compiled})
            .select("id", "a", udf_tier.regex_fail(F.col(column), pattern)
                    .alias("b")).collect())
    return ([r["id"] for r in rows if r["a"]],
            [r["id"] for r in rows if r["b"]])


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.filterwarnings("ignore::FutureWarning")
@pytest.mark.parametrize("pattern, tier",
                         [(p, "NATIVE") for p in NATIVE]
                         + [(p, "UDF") for p in UDF])
def test_tier_fails_what_re_fails(strings, pattern, tier):
    compiled = compile_rule(regex("s", pattern), strings.schema)
    # NATIVE: an ``rlike`` predicate; UDF: the ``re`` kernel
    assert (compiled.kernel is not None) == (tier == "UDF")
    got, want = _failed(strings, compiled, "s", pattern)
    assert got == want


def test_benchmark_pattern_runs_on_the_jvm(strings):
    pred = compile_rule(regex("s", BENCH_REGEX), strings.schema)
    plan = _executed_plan(strings.filter(pred.fail_predicate))
    assert "ArrowEvalPython" not in plan and "RLIKE" in plan


#: the one pattern below that both renderings match
WHOLE_SECOND = "^2024-01-02 03:04:05$"


@pytest.mark.parametrize("column, pattern", [
    ("d", r"e\+20$"), ("d", r"^1\.0E20$"), ("f", r"\.500$"),
    ("f", r"05\.5$"), ("t", WHOLE_SECOND)])
def test_non_string_columns_keep_the_udf(spark, column, pattern):
    # pandas renders 1e20 as "1e+20" and 5.5 s as "05.500"; Spark's
    # cast gives "1.0E20" and "05.5" (a timestamp is its session-zone
    # wall time in both, with no offset)
    df = spark.sql("SELECT 1 AS id, 1e20 AS d, "
                   "TIMESTAMP'2024-01-02 03:04:05' AS t, "
                   "TIMESTAMP'2024-01-02 03:04:05.5' AS f")
    compiled = compile_rule(regex(column, pattern), df.schema)
    assert compiled.kernel is not None
    got, want = _failed(df, compiled, column, pattern)
    assert got == want
    cast = df.select(F.col(column).cast("string")).first()[0]
    cast_fails = re.search(pattern, cast) is None
    assert (cast_fails == bool(want)) == (pattern == WHOLE_SECOND)


@pytest.mark.parametrize("partitions", [1, 2])
def test_integer_batch_with_a_null_renders_integers(spark, partitions):
    # pandas turns an int64 batch holding a NULL into float64: 20240105.0
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(20240105,), (None,)], partitions),
        "n bigint")
    [res] = RuleEngine(spark).execute(df, [regex("n", r"^\d+$")])
    assert (res.status.value, res.total_records, res.failed_records) == (
        "PASSED", 2, 0)
