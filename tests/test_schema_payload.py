"""Two-phase schema command tests — mirrors the reference's fixtures
(FIXTURES.md §3) and skip-map priorities (schema.py:1278-1341)."""

from __future__ import annotations

import pytest

from validatelite_spark.plans.desired_type import (
    Compatibility,
    compile_desired_type,
)
from validatelite_spark.plans.schema_payload import (
    SchemaPayloadError,
    decompose_table,
    run_two_phase,
)

_COUNT = {"type": "integer", "minimum": 0}
_CHECK = {
    "type": "object",
    "required": ["status"],
    "properties": {
        "status": {"enum": ["PASSED", "FAILED", "SKIPPED", "UNKNOWN"]},
        "failure_code": {"enum": ["NONE", "FIELD_MISSING",
                                  "TYPE_MISMATCH"]},
        "skip_reason": {"enum": ["FIELD_MISSING"]},
        "failed_records": _COUNT,
    },
    "additionalProperties": False,
}
#: the ``vlite schema --output json`` payload contract: top-level keys,
#: the rule and check status enums, and the per-field check matrix
SCHEMA_RESULTS_CONTRACT = {
    "type": "object",
    "required": ["status", "source", "rules_file", "rules_count",
                 "summary", "results", "fields"],
    "properties": {
        "status": {"enum": ["ok"]},
        "source": {"type": "string"},
        "rules_file": {"type": "string"},
        "rules_count": _COUNT,
        "summary": {
            "type": "object",
            "required": ["total_rules", "passed_rules", "failed_rules",
                         "skipped_rules", "total_failed_records",
                         "execution_time_s"],
            "properties": {
                "total_rules": _COUNT, "passed_rules": _COUNT,
                "failed_rules": _COUNT, "skipped_rules": _COUNT,
                "total_failed_records": _COUNT,
                "execution_time_s": {"type": "number", "minimum": 0},
            },
        },
        "results": {"type": "array", "items": {
            "type": "object",
            "required": ["rule_id", "status"],
            "properties": {
                "status": {"enum": ["PASSED", "FAILED", "ERROR",
                                    "SKIPPED"]},
                "skip_reason": {"enum": ["FIELD_MISSING"]},
            },
        }},
        "fields": {"type": "array", "items": {
            "type": "object",
            "required": ["column", "checks"],
            "properties": {
                "column": {"type": "string"},
                "checks": {"type": "object",
                           "additionalProperties": _CHECK},
            },
            "additionalProperties": False,
        }},
        "schema_extras": {"type": "array", "items": {"type": "string"}},
    },
    "additionalProperties": False,
}


class TestDesiredTypeMatrix:
    def test_compatible_no_rules(self):
        dec = compile_desired_type("c", "integer", "string")
        assert dec.compatibility == Compatibility.COMPATIBLE
        assert dec.generated_rules == []

    def test_string_to_int_generates_regex(self):
        dec = compile_desired_type("c", "string", "integer(3)")
        assert dec.compatibility == Compatibility.INCOMPATIBLE
        assert [r.type.value for r in dec.generated_rules] == ["REGEX", "REGEX"]

    def test_string_to_date_generates_date_format(self):
        dec = compile_desired_type("c", "string", "date('MM/DD/YYYY')")
        [r] = dec.generated_rules
        assert r.type.value == "DATE_FORMAT"
        assert r.parameters["format"] == "MM/DD/YYYY"

    def test_conflicting(self):
        dec = compile_desired_type("c", "float", "date")
        assert dec.compatibility == Compatibility.CONFLICTING
        assert dec.error

    def test_tighten_string_length(self):
        dec = compile_desired_type("c", "string", "string(12)")
        [r] = dec.generated_rules
        assert r.type.value == "LENGTH"
        assert r.parameters == {"max_length": 12}


class TestDecompose:
    def test_field_items_to_atomic_rules(self):
        plan = decompose_table("users", {"rules": [
            {"field": "id", "type": "integer", "required": True},
            {"field": "age", "type": "integer", "min": 0, "max": 120},
            {"field": "status", "type": "string",
             "enum": ["active", "inactive"]},
            {"field": "name", "type": "string", "max_length": 50},
        ]})
        kinds = sorted(r.type.value for r in plan.field_rules)
        assert kinds == ["ENUM", "LENGTH", "NOT_NULL", "RANGE"]
        assert set(plan.schema_rule.parameters["columns"]) == {
            "id", "age", "status", "name"}


class TestTwoPhase:
    @pytest.fixture()
    def users(self, spark):
        return spark.createDataFrame(
            [(1, 30, "active", "20240131"),
             (2, 150, "bogus", "20240230"),   # range fail + enum fail + bad date
             (3, None, "inactive", "20231115")],
            "id long, age long, status string, birthday string")

    PAYLOAD = {"users": {"rules": [
        {"field": "id", "type": "integer", "required": True},
        {"field": "age", "type": "integer", "min": 0, "max": 120},
        {"field": "status", "type": "string", "enum": ["active", "inactive"]},
        {"field": "birthday", "type": "string",
         "desired_type": "date('yyyymmdd')"},
        {"field": "ghost", "type": "string", "required": True},
    ]}}

    def test_phase_gating_and_skips(self, spark, users):
        results = run_two_phase(spark, {"users": users}, self.PAYLOAD)["users"]
        by_name = {r.rule_name: r for r in results}
        # phase 1 finds the missing column
        assert by_name["schema_table"].status.value == "FAILED"
        # dependent rule on the missing column is SKIPPED, not ERROR
        assert by_name["required_ghost"].status.value == "SKIPPED"
        # surviving rules ran: NULL age counts as RANGE failure (ref NULL
        # semantics) → ages 150 and NULL fail
        assert by_name["range_age"].failed_records == 2
        assert by_name["enum_status"].failed_records == 1
        # desired_type date check: 20240230 is semantically invalid
        assert by_name["as_date_birthday"].failed_records == 1

    def test_missing_table_skips_everything(self, spark):
        results = run_two_phase(spark, {"users": None}, self.PAYLOAD)["users"]
        statuses = {r.rule_name: r.status.value for r in results}
        assert statuses.pop("schema_table") == "FAILED"
        assert set(statuses.values()) == {"SKIPPED"}

    def test_conflicting_desired_type_raises(self, spark, users):
        bad = {"users": {"rules": [
            {"field": "age", "type": "float", "desired_type": "date"}]}}
        with pytest.raises(SchemaPayloadError):
            run_two_phase(spark, {"users": users}, bad)

    def test_json_payload_matches_reference_contract(self, spark, users):
        """The aggregated schema JSON validates against the payload
        contract (``SCHEMA_RESULTS_CONTRACT``: the shape the reference's
        docs/schemas/schema_results.schema.json publishes) on a
        multi-table fixture with a missing table, a missing field,
        skipped rules, and strict-mode extras."""
        import jsonschema

        from validatelite_spark.plans.schema_payload import (
            build_json_payload,
            run_two_phase_with_plans,
        )
        payload_decl = {
            # 'status' deliberately undeclared → strict-mode extra
            "users": {"strict_mode": True, "rules": [
                {"field": "id", "type": "integer", "required": True},
                {"field": "age", "type": "integer", "min": 0, "max": 120},
                {"field": "birthday", "type": "string",
                 "desired_type": "date('yyyymmdd')"},
                {"field": "ghost", "type": "string", "required": True},
            ]},
            "orders": {"rules": [
                {"field": "order_id", "type": "integer", "required": True},
            ]},
        }
        out, plans = run_two_phase_with_plans(
            spark, {"users": users, "orders": None}, payload_decl)
        payload = build_json_payload(
            "testsrc", "rules.json", out, plans, 1.23)

        # raises on any drift
        jsonschema.validate(payload, SCHEMA_RESULTS_CONTRACT)

        # matrix semantics: qualified columns (multi-table), existence/
        # type split, skip reasons, strict extras
        fields = {f["column"]: f["checks"] for f in payload["fields"]}
        ghost = fields["users.ghost"]
        assert ghost["existence"] == {"status": "FAILED",
                                      "failure_code": "FIELD_MISSING"}
        assert ghost["type"] == {"status": "SKIPPED",
                                 "skip_reason": "FIELD_MISSING"}
        assert ghost["not_null"]["status"] == "SKIPPED"
        assert fields["users.age"]["existence"]["status"] == "PASSED"
        assert fields["users.age"]["range"] == {"status": "FAILED",
                                                "failed_records": 2}
        assert fields["users.birthday"]["desired_type"]["status"] == "FAILED"
        # missing table: declared columns UNKNOWN, its rules SKIPPED
        assert fields["orders.order_id"]["existence"] == {"status": "UNKNOWN"}
        assert fields["orders.order_id"]["not_null"]["status"] == "SKIPPED"
        # strict mode: the undeclared 'status' column surfaces as an extra
        assert payload["schema_extras"] == ["users.status"]
        # summary math
        s = payload["summary"]
        assert s["total_rules"] == len(payload["results"])
        assert s["skipped_rules"] >= 2
