"""Engine tests: per-rule semantics (NULL behavior!) + fused execution.

Mirrors the reference's per-rule unit suite shape
(tests/unit/core/executors/test_*_rules.py) with golden expected counts
over a deterministic inline dataset.
"""

from __future__ import annotations

import duckdb
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from validatelite_spark.core import registry
from validatelite_spark.core.registry import BatchKernel
from validatelite_spark.core.rules import (
    Rule,
    RuleType,
    date_format,
    enum,
    length,
    not_null,
    range_rule,
    regex,
    schema_rule,
    unique,
)
from validatelite_spark.operators.engine import EngineConfig, RuleEngine


@pytest.fixture(scope="module")
def people(spark):
    rows = [
        # id, name,     email,                 age,   status,      joined
        (1, "alice", "alice@example.com", 30.0, "active", "2023-01-15"),
        (2, "bob", "bob@test.org", 45.0, "inactive", "2023-02-28"),
        (3, None, "carol@example.com", 150.0, "pending", "2023-02-31"),  # bad age+date
        (4, "dan", None, None, "unknown", "not-a-date"),  # nulls + bad enum/date
        (5, "eve", "alice@example.com", 25.0, "active", "2023-12-01"),  # dup email
        (6, "x", "no-at-sign", -5.0, None, None),  # short name, bad email, neg age
    ]
    return spark.createDataFrame(
        rows, "id long, name string, email string, age double, "
              "status string, joined string")


@pytest.fixture(scope="module")
def engine(spark):
    return RuleEngine(spark)


def _one(engine, df, rule):
    [res] = engine.execute(df, [rule])
    return res


class TestNullSemantics:
    """The golden NULL-handling table from SURVEY.md §2.2."""

    def test_not_null(self, engine, people):
        res = _one(engine, people, not_null("name"))
        assert res.failed_records == 1 and res.total_records == 6
        assert res.status.value == "FAILED"

    def test_range_null_fails(self, engine, people):
        # age: NULL(1) + 150(>120) + -5(<0) = 3 failures
        res = _one(engine, people, range_rule("age", min=0, max=120))
        assert res.failed_records == 3

    def test_length_null_fails(self, engine, people):
        # name: NULL(1) + "x"(len1 < 2) = 2 failures
        res = _one(engine, people, length("name", min_length=2, max_length=50))
        assert res.failed_records == 2

    def test_enum_null_does_not_fail(self, engine, people):
        # status: "unknown" fails; NULL does NOT fail (SQL NOT IN semantics)
        res = _one(engine, people, enum("status", ["active", "inactive", "pending"]))
        assert res.failed_records == 1

    def test_regex_null_does_not_fail(self, engine, people):
        # email: "no-at-sign" fails; NULL does not
        res = _one(engine, people,
                   regex("email", r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"))
        assert res.failed_records == 1

    def test_unique_excludes_nulls(self, engine, people):
        # email: alice@example.com twice → 1 extra; NULL excluded
        res = _one(engine, people, unique("email"))
        assert res.failed_records == 1
        assert res.total_records == 6

    def test_date_format_roundtrip(self, engine, people):
        # joined: 2023-02-31 (semantically invalid) + not-a-date fail;
        # NULL passes (reference: sqlite_functions.py:196-199)
        res = _one(engine, people, date_format("joined", "YYYY-MM-DD"))
        assert res.failed_records == 2


class TestFusedExecution:
    def test_merged_rules_one_scan(self, engine, people):
        rules = [
            not_null("name"),
            range_rule("age", min=0, max=120),
            enum("status", ["active", "inactive", "pending"]),
            length("name", min_length=2),
        ]
        results = engine.execute(people, rules)
        assert [r.failed_records for r in results] == [1, 3, 1, 2]
        # all four share one merged_agg group
        for r in results:
            assert r.execution_plan["execution_type"] == "merged_agg"
            assert r.execution_plan["group_size"] == 4

    def test_filter_condition_scopes_the_scan(self, engine, people):
        r = not_null("name", filter_condition="age > 40")
        res = _one(engine, people, r)
        # only bob(45) and carol(150) pass the filter; carol's name is NULL
        assert res.total_records == 2 and res.failed_records == 1

    def test_different_filters_different_groups(self, engine, people):
        rules = [not_null("name"), not_null("email", filter_condition="id < 4")]
        r1, r2 = engine.execute(people, rules)
        assert r1.total_records == 6
        assert r2.total_records == 3 and r2.failed_records == 0

    def test_unresolvable_filter_is_an_error_for_its_rule_only(self, engine,
                                                               people):
        # every row-level rule shares one pass: the filter is analysed
        # per rule before it, so a bad one cannot take the others down
        ok, bad = engine.execute(people, [
            not_null("name"),
            not_null("email", filter_condition="no_such_col > 1")])
        assert (ok.status.value, ok.total_records, ok.failed_records) == (
            "FAILED", 6, 1)
        assert bad.status.value == "ERROR"
        assert "no_such_col" in bad.error_message


class TestSamplesAndErrors:
    def test_lazy_samples_deterministic(self, engine, people):
        res = _one(engine, people, range_rule("age", min=0, max=120))
        ids = [s["id"] for s in res.sample_data]
        assert ids == sorted(ids) and len(ids) == 3

    def test_no_samples_when_passed(self, engine, people):
        res = _one(engine, people, not_null("id"))
        assert res.status.value == "PASSED" and res.sample_data == []

    def test_missing_column_is_error_not_crash(self, engine, people):
        results = engine.execute(people, [not_null("nope"), not_null("name")])
        assert results[0].status.value == "ERROR"
        assert "does not exist" in results[0].error_message
        assert results[1].failed_records == 1  # run continued

    def test_run_time_failure_in_the_sample_query_keeps_exact_counts(
            self, spark):
        # the sample query reads ``bad``, which raises at run time; the
        # counts come from the pruned noop write, which does not read it
        df = spark.range(20).withColumn("bad", F.assert_true(F.col("id") < 5))
        r, d, u = RuleEngine(spark).execute(df, [
            range_rule("id", 0, 9), date_format("id", "YYYY"), unique("id")])
        assert (r.status.value, r.total_records, r.failed_records) == (
            "FAILED", 20, 10)
        assert (d.status.value, d.total_records, d.failed_records,
                d.sample_data) == ("FAILED", 20, 20, [])
        assert (u.status.value, u.total_records, u.failed_records) == (
            "PASSED", 20, 0)

    def test_threshold_rate(self, engine, people):
        r = not_null("name", threshold=0.5)  # 1/6 failure rate <= 0.5
        res = _one(engine, people, r)
        assert res.status.value == "PASSED" and res.failed_records == 1


class TestSchemaRule:
    def test_schema_pass_and_mismatch(self, engine, people):
        res = _one(engine, people, schema_rule(
            {"id": "integer", "name": "string", "age": "float"}))
        assert res.status.value == "PASSED"
        assert res.execution_plan["execution_type"] == "metadata"

        res = _one(engine, people, schema_rule(
            {"id": "string", "missing_col": "integer"}))
        assert res.failed_records == 2
        statuses = {s["column"]: s["status"] for s in res.sample_data}
        assert statuses["id"] == "TYPE_MISMATCH"
        assert statuses["missing_col"] == "FIELD_MISSING"

    def test_strict_mode_extras(self, engine, people):
        res = _one(engine, people, schema_rule(
            {"id": "integer"}, strict_mode=True))
        # 5 extra columns fail in strict mode
        assert res.failed_records == 5


STATUS = ["active", "inactive", "pending", "unknown", None]


def _pinned_row(i):
    code = '{"k": %d}' % ((i * 13) % 50)
    if i % 10 == 7:
        code += "\r\n"  # re's `$` does not match before "\r\n"
    elif i % 8 == 5:
        code += "\n"  # ... but does before a final "\n"
    return (i, None if i % 7 == 3 else f"n{i % 11}",
            None if i % 9 == 4 else float((i * 37) % 130) - 10.0,
            STATUS[i % 5], code,
            None if i % 6 == 1
            else f"2023-{i % 14 + 1:02d}-{(i * 3) % 31 + 1:02d}")


@pytest.fixture(scope="module")
def pinned(spark):
    """30 deterministic rows; ``id`` (first column) is unique, so the
    sample order has no ties."""
    return spark.createDataFrame(
        [_pinned_row(i) for i in range(30)],
        "id long, name string, score double, status string, code string, "
        "day string")


def _pinned_rules():
    """All 7 rule types (REGEX once native, once on the ``re`` tier), and
    a filtered rule beside them in the one counting pass."""
    return [
        not_null("name"), unique("name"),
        range_rule("score", min=0, max=100),
        enum("status", ["active", "pending"]),
        regex("code", r'^\{"k": [1-9]?[0-3]\}$'),
        regex("code", r'^\{"k": \d+\}$', name="regex_code_digits"),
        length("name", min_length=3, max_length=10),
        date_format("day", "YYYY-MM-DD"),
        not_null("score", filter_condition="id % 2 = 0"),
    ]


#: (rule, failed_records, sample_data) as the engine gave them when each
#: failing rule took its samples in its own filter → orderBy → limit scan.
PINNED = [
    ("not_null_name", 4,
     [(3, None, 101.0, "unknown", '{"k": 39}', "2023-04-10"),
      (10, None, 100.0, "active", '{"k": 30}', "2023-11-31"),
      (17, None, 99.0, "pending", '{"k": 21}\r\n', "2023-04-21")]),
    ("unique_name", 15,
     [("n0", 3), ("n1", 3), ("n2", 2), ("n3", 2), ("n4", 3), ("n5", 3)]),
    ("range_score", 9,
     [(0, "n0", -10.0, "active", '{"k": 0}', "2023-01-01"),
      (3, None, 101.0, "unknown", '{"k": 39}', "2023-04-10"),
      (4, "n4", None, None, '{"k": 2}', "2023-05-13")]),
    ("enum_status", 12,
     [(1, "n1", 27.0, "inactive", '{"k": 13}', None),
      (3, None, 101.0, "unknown", '{"k": 39}', "2023-04-10"),
      (6, "n6", 82.0, "inactive", '{"k": 28}', "2023-07-19")]),
    ("regex_code", 21,
     [(2, "n2", 64.0, "pending", '{"k": 26}', "2023-03-07"),
      (3, None, 101.0, "unknown", '{"k": 39}', "2023-04-10"),
      (5, "n5", 45.0, "active", '{"k": 15}\n', "2023-06-16")]),
    ("regex_code_digits", 3,
     [(7, "n7", 119.0, "pending", '{"k": 41}\r\n', None),
      (17, None, 99.0, "pending", '{"k": 21}\r\n', "2023-04-21"),
      (27, "n5", 79.0, "pending", '{"k": 1}\r\n', "2023-14-20")]),
    ("length_name", 29,
     [(0, "n0", -10.0, "active", '{"k": 0}', "2023-01-01"),
      (1, "n1", 27.0, "inactive", '{"k": 13}', None),
      (2, "n2", 64.0, "pending", '{"k": 26}', "2023-03-07")]),
    ("date_format_day", 4,
     [(10, None, 100.0, "active", '{"k": 30}', "2023-11-31"),
      (12, "n1", 44.0, "pending", '{"k": 6}', "2023-13-06"),
      (26, "n4", 42.0, "inactive", '{"k": 38}', "2023-13-17")]),
    ("not_null_score", 2,
     [(4, "n4", None, None, '{"k": 2}', "2023-05-13"),
      (22, "n0", None, "pending", '{"k": 36}', "2023-09-05")]),
]


def _job_count(spark, group, fn):
    """Spark jobs ``fn()`` starts, counted by its job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestFusedSamples:
    def test_samples_pinned(self, spark, pinned):
        eng = RuleEngine(spark, EngineConfig(sample_data_max_records=3))
        got = [(r.rule_name, r.failed_records,
                [tuple(s.values()) for s in r.sample_data])
               for r in eng.execute(pinned, _pinned_rules())]
        assert got == PINNED

    def test_merged_samples_cost_at_most_two_jobs(self, spark, pinned):
        eng = RuleEngine(spark, EngineConfig(sample_data_max_records=3))
        rules = [r for r in _pinned_rules() if r.type is not RuleType.UNIQUE]
        jobs = {}
        for samples in (False, True):
            results, jobs[samples] = _job_count(
                spark, f"pinned-samples-{samples}",
                lambda s=samples: eng.execute(pinned, rules,
                                              collect_samples=s))
        # 8 failing rules with 2 filters: one noop write counts them all,
        # and one sample query (shuffle map stage + result) samples them
        assert sum(r.failed_records > 0 for r in results) == 8
        assert all(r.sample_data for r in results)
        assert jobs[False] == 1 and jobs[True] - jobs[False] <= 2, jobs

    def test_a_kernel_reruns_only_to_sample_its_failures(self, spark, pinned,
                                                          tmp_path):
        """A kernel sees each row once to count; the sample query runs it
        again only when its rule failed."""
        seen = tmp_path / "batch_lengths"

        def signal(values):
            with open(seen, "a") as f:
                f.write(f"{len(values)}\n")
            return pc.is_null(values).to_numpy(zero_copy_only=False)

        registry.register_rule_type(
            "SEEN", lambda rule: BatchKernel(signal, lambda s: s),
            replace=True)
        try:
            for rules, samples, failed, rows in (
                    ([Rule("SEEN", "name")], False, [4], 30),
                    ([Rule("SEEN", "name")], True, [4], 60),
                    ([Rule("SEEN", "id"), not_null("name")], True, [0, 4],
                     30)):
                seen.write_text("")
                results = RuleEngine(spark).execute(
                    pinned, rules, collect_samples=samples)
                assert [r.failed_records for r in results] == failed
                assert all(bool(r.sample_data) is (samples and f > 0)
                           for r, f in zip(results, failed))
                assert sum(map(int, seen.read_text().split())) == rows, (
                    rules, samples)
        finally:
            registry.unregister_rule_type("SEEN")


#: (a, b, c, day): NULLs and duplicates in a and b, c all distinct
DUPS = [(i % 4 if i % 5 else None, f"v{i % 7}" if i % 3 else None, i,
         f"2023-{i % 14 + 1:02d}-01") for i in range(40)]


@pytest.fixture(scope="module")
def dups(spark):
    return spark.createDataFrame(DUPS, "a long, b string, c long, day string")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (a BIGINT, b VARCHAR, c BIGINT, day VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", DUPS)
    return con


class TestMergedUnique:
    """UNIQUE is one grouped query: an observation on its groups counts
    the scoped rows and Σ(n − 1) over the non-NULL groups while the
    duplicate samples are taken."""

    RULES = [
        (unique("a"), "a", None),
        (unique("b"), "b", None),
        (unique("c"), "c", None),
        (unique("b", filter_condition="c % 2 = 0", name="unique_b_even"),
         "b", "c % 2 = 0"),
        (unique("a", filter_condition="c % 2 = 0", name="unique_a_even"),
         "a", "c % 2 = 0"),
    ]

    def test_counts_equal_duckdb(self, spark, dups, duck):
        rules = [r for r, _, _ in self.RULES] + [
            date_format("day", "YYYY-MM-DD")]
        results = RuleEngine(spark).execute(dups, rules)
        for res, (_, col, where) in zip(results, self.RULES):
            total, failed = duck.sql(
                f"SELECT count(*), count({col}) - count(DISTINCT {col}) "
                f"FROM t WHERE {where or 'true'}").fetchone()
            assert (res.total_records, res.failed_records) == (
                total, failed), res.rule_name
            plan = res.execution_plan
            assert plan["execution_type"] == "unique_groupby"
            assert plan["filter"] == where
        assert results[-1].failed_records == 4  # months 13 and 14
        assert results[-1].execution_plan["group_size"] == 1

    def test_counts_on_parquet_equal_duckdb(self, spark, dups, duck,
                                            tmp_path):
        # no observation may sit below a filter the scan could take
        path = str(tmp_path / "dups")
        dups.write.parquet(path)
        results = RuleEngine(spark).execute(
            spark.read.parquet(path), [r for r, _, _ in self.RULES])
        for res, (_, col, where) in zip(results, self.RULES):
            assert (res.total_records, res.failed_records) == duck.sql(
                f"SELECT count(*), count({col}) - count(DISTINCT {col}) "
                f"FROM t WHERE {where or 'true'}").fetchone(), res.rule_name

    def test_duplicate_samples_equal_duckdb(self, spark, dups, duck):
        eng = RuleEngine(spark, EngineConfig(sample_data_max_records=2))
        for res, (_, col, where) in zip(
                eng.execute(dups, [r for r, _, _ in self.RULES]),
                self.RULES):
            want = duck.sql(
                f"SELECT {col}, count(*) FROM t WHERE {col} IS NOT NULL "
                f"AND {where or 'true'} GROUP BY {col} "
                f"HAVING count(*) > 1 ORDER BY {col} LIMIT 4").fetchall()
            assert [tuple(s.values()) for s in res.sample_data] == want

    def test_pinned_rules_job_bounds(self, spark, pinned):
        # the 8 row-level rules' noop write (1 job) and sample query
        # (shuffle map stage + result), UNIQUE's grouped query (2)
        eng = RuleEngine(spark)
        jobs = {}
        for samples in (False, True):
            results, jobs[samples] = _job_count(
                spark, f"pinned-all-{samples}",
                lambda s=samples: eng.execute(pinned, _pinned_rules(),
                                              collect_samples=s))
            assert results[1].failed_records == 15
            assert results[0].execution_plan["group_size"] == 8
        assert jobs[True] <= 5 and jobs[False] <= 3, jobs

    def test_sample_query_failure_keeps_counts(self, spark):
        # a map column groups but cannot be ordered: the duplicate-sample
        # query fails, the counts and other rules stand
        df = spark.createDataFrame(
            [(i, {"k": i % 2}) for i in range(20)],
            "id long, m map<string,bigint>")
        u, nn, r = RuleEngine(spark).execute(df, [
            unique("m"), not_null("id"), range_rule("id", max=9)])
        assert (u.status.value, u.total_records, u.failed_records,
                u.sample_data) == ("FAILED", 20, 18, [])
        assert nn.status.value == "PASSED"
        assert r.failed_records == 10 and len(r.sample_data) == 5

    @pytest.mark.parametrize("first", ["map<string,bigint>",
                                       "array<map<string,bigint>>"])
    def test_row_samples_skip_an_unorderable_first_column(self, spark,
                                                          first):
        # the samples order by the first kept column Spark can sort by
        value = {"k": 1} if first.startswith("map") else [{"k": 1}]
        df = spark.createDataFrame([(value, i) for i in range(20)],
                                   f"m {first}, id long")
        [r] = RuleEngine(spark).execute(df, [range_rule("id", max=9)])
        assert r.failed_records == 10
        assert [s["id"] for s in r.sample_data] == [10, 11, 12, 13, 14]

    def test_variant_column_is_an_error_for_that_rule_only(self, spark):
        # a VARIANT cannot be grouped: UNIQUE's own query fails at
        # analysis, and no other rule shares it
        df = spark.sql("SELECT id, parse_json(CAST(id % 3 AS STRING)) AS v,"
                       " array(named_struct('v', parse_json('1'))) AS av"
                       " FROM range(10)")
        uv, uav, nn = RuleEngine(spark).execute(
            df, [unique("v"), unique("av"), not_null("id")])
        assert uv.status.value == uav.status.value == "ERROR"
        assert "VARIANT" in uv.error_message
        assert nn.status.value == "PASSED" and nn.total_records == 10

    def test_registered_type_without_a_form_is_an_error(self, spark, people):
        registry.register_rule_type("NO_FORM", lambda rule: None,
                                    replace=True)
        try:
            bad, ok = RuleEngine(spark).execute(
                people, [Rule("NO_FORM", "name"), not_null("name")])
        finally:
            registry.unregister_rule_type("NO_FORM")
        assert bad.status.value == "ERROR"
        assert "not a Column or a BatchKernel" in bad.error_message
        assert ok.failed_records == 1
        assert ok.execution_plan["execution_type"] == "merged_agg"
