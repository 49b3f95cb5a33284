"""DATE_FORMAT is one native Column: ``compile_rule`` fails exactly the
rows the reference's ``IS_VALID_DATE`` fails (``reference_fails``, one
value at a time), for every column type and session zone.

The values are the ones where a naive ``date_format(try_to_timestamp(r,
J), J) = r`` and Python's strptime round trip part ways: years below
1000 and negative years (Java pads and signs them, Python's ``%Y`` reads
exactly 4 digits and ``strftime`` does not pad), a wall time in a Los
Angeles DST gap (re-rendering shifts it), plus the ones both read alike
(Feb 29 and 31, month 00 and 13, 1-digit fields, padding, full-width
digits, ``+2024``, ``24:00``, ``:60``, ``T`` against ``t``, 5-digit
years) and the years ``pd.to_datetime`` cannot hold (1500, 9999)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from validatelite_spark.core.rule_parser import parse_rules
from validatelite_spark.core.rules import RuleType, date_format, not_null
from validatelite_spark.core.types import format_to_strptime
from validatelite_spark.operators.engine import RuleEngine
from validatelite_spark.plans.compiler import compile_rule
from validatelite_spark.plans.merger import count_query, sample_query


def reference_fails(value, fmt: str) -> bool:
    """The reference's verdict on one string: NULL and blank (only
    ``str.isspace`` characters) pass; anything else must survive
    ``strptime`` then ``strftime`` unchanged."""
    if value is None or value == "" or value.isspace():
        return False
    f = format_to_strptime(fmt)
    try:
        return dt.datetime.strptime(value, f).strftime(f) != value
    except ValueError:
        return True


VALUES = [
    None, "", " ", "\t\n", "\u3000", "\u00a0", "\u200b", "not-a-date",
    "2024-01-05", "2024-02-29", "2023-02-29", "2024-02-31", "2024-04-31",
    "2024-00-10", "2024-13-01", "2024-01-00", "2024-01-32",
    "2024-1-5", "2024-01-5", "24-01-05", " 2024-01-05", "2024-01-05 ",
    "2024-01-05\n", "\uff12\uff10\uff12\uff14-01-05", "+2024-01-05",
    "-2024-01-05", "0000-01-05", "0001-01-01", "0999-12-31",
    "12024-01-05", "1000-01-01", "1500-01-01", "9999-12-31",
    "2024-01-05 00:00:00", "2024-01-05 23:59:59", "2024-01-05 24:00:00",
    "2024-01-05 12:60:00", "2024-01-05 12:00:60", "2024-01-05 1:02:03",
    "2024-01-05T12:34:56", "2024-01-05t12:34:56", "2024-01-05 12:34:56.5",
    "2024-03-10 02:30:00", "2024-03-10T02:30:00", "2024-11-03 01:30:00",
    "20240105", "20240230", "20241301", "2024", "0999", "05/01/2024",
    "31/12/2024", "31/02/2024", "2024-31-12", "2024-12-31", "02-29",
    "12-31", "19991231", "15000101", "99991231", "-20240105",
]

FORMATS = ["YYYY-MM-DD", "YYYY-MM-DD HH:MI:SS", "yyyymmdd", "YYYY",
           "DD/MM/YYYY", "YYYY-DD-MM", "YYYY-MM-DDTHH:MI:SS", "MM-DD"]

TYPES = ["string", "date", "timestamp", "timestamp_ntz", "int", "bigint"]


@pytest.fixture(scope="module")
def typed(spark):
    """``VALUES`` as strings, and ``try_cast`` to every other type."""
    df = spark.createDataFrame(list(enumerate(VALUES)), "id int, s string")
    return df.select("id", *[F.expr(f"try_cast(s AS {t})").alias(t)
                             for t in TYPES])


@pytest.mark.parametrize("zone", ["UTC", "America/Los_Angeles"])
def test_native_verdict_is_the_reference_one(spark, typed, zone):
    rules = {(t, fmt): compile_rule(date_format(t, fmt), typed.schema)
             for t in TYPES for fmt in FORMATS}
    assert all(c.kernel is None for c in rules.values())
    cols = [F.col(t).cast("string").alias(f"r{i}")
            for i, t in enumerate(TYPES)]
    cols += [c.fail_predicate.alias(f"f{i}")
             for i, c in enumerate(rules.values())]
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        rows = typed.select("id", *cols).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    checked, wrong = 0, []
    for row in rows:
        for i, (t, fmt) in enumerate(rules):
            r = row[f"r{TYPES.index(t)}"]
            checked += r is not None
            if row[f"f{i}"] != reference_fails(r, fmt):
                wrong.append((t, fmt, r, row[f"f{i}"]))
    assert wrong == []
    assert checked > len(VALUES) * len(FORMATS) * 2


@pytest.mark.parametrize("fmt", ["MMDD-MM-DD", "YYYY-MM-DD %", "YYYY%%"])
def test_a_format_strptime_cannot_round_trip_is_an_error_for_its_rule_only(
        spark, fmt):
    # a repeated directive (strptime raises re.error) or a stray ``%``
    df = spark.createDataFrame([(1, "2024-01-05")], "id long, ts string")
    ok, bad = RuleEngine(spark).execute(
        df.withColumn("ts", F.col("ts").cast("timestamp")),
        [not_null("id"), date_format("ts", fmt)])
    assert (ok.status.value, ok.total_records, ok.failed_records) == (
        "PASSED", 1, 0)
    assert bad.status.value == "ERROR" and fmt in bad.error_message


@pytest.mark.parametrize("partitions", [1, 2])
def test_verdict_does_not_depend_on_partitioning(spark, partitions):
    # each row its own Arrow batch, or both in one: a batch of midnights
    # rendered date-only, and one NULL made an integer batch float
    rows = [("2024-01-01 00:00:00", 20240105), ("2024-01-02 03:04:05", None)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows, partitions), "ts string, n bigint")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    results = RuleEngine(spark).execute(
        df, [date_format("ts", "YYYY-MM-DD"), date_format("n", "yyyymmdd")],
        collect_samples=False)
    assert [(r.total_records, r.failed_records) for r in results] == [
        (2, 2), (2, 0)]


def test_benchmark_rules_plan_no_python(spark):
    """The seven rule types of the benchmark's ``events`` run, ``ts`` a
    timestamp_ntz as its parquet reads: neither the counting pass nor
    the sample query crosses into Python."""
    events = spark.sql(
        "SELECT id AS event_id, "
        "CAST(TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_dt_interval(0, 0, "
        "0, id * 977) AS timestamp_ntz) AS ts, id % 1500 AS user_id, "
        "element_at(array('click', 'error', 'purchase', 'signup', 'view'), "
        "CAST(id % 5 + 1 AS int)) AS event_type, "
        "round(id * 0.37 % 400, 2) AS value, "
        "concat('{\"k\": ', id % 100, '}') AS props FROM range(2000)")
    rules = parse_rules([
        "not_null(value)", "unique(event_id)", "range(value,3,250)",
        "enum(event_type,click,purchase,view)",
        r'regex(props,^\{"k": [1-9]?[0-5]\}$)', "length(event_type,5,6)",
        "date_format(ts,YYYY-MM-DD)"])
    assert dict(events.dtypes)["ts"] == "timestamp_ntz"
    compiled = [compile_rule(r, events.schema) for r in rules
                if r.type is not RuleType.UNIQUE]
    assert all(c.kernel is None for c in compiled)
    for frame in (count_query(events, compiled)[1],
                  sample_query(events, compiled, events.columns,
                               "event_id", 5)):
        frame.collect()
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
    date = RuleEngine(spark).execute(events, rules[-1:])[0]
    assert (date.total_records, date.failed_records) == (2000, 2000)
