"""Runtime rule-type registry tests (reference analogue:
core/registry/rule_type_registry.py + builtin_rule_types.py): a new rule
type registered at runtime flows through Rule validation, the compiler,
the merged single-scan engine, and the inline parser — with ZERO changes
to compiler.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from validatelite_spark.core import registry
from validatelite_spark.core.rule_parser import RuleParseError, parse_rule
from validatelite_spark.core.rules import (
    DynamicRuleType,
    Rule,
    RuleType,
    RuleValidationError,
)
from validatelite_spark.plans.compiler import Tier, compile_rule

TEXT = T.StructType([T.StructField("text", T.StringType())])


@pytest.fixture
def all_caps_type():
    """A user-defined rule type: text must be fully upper-case."""
    spec = registry.register_rule_type(
        "ALL_CAPS",
        lambda rule: F.col(rule.column).isNotNull()
        & (F.col(rule.column) != F.upper(F.col(rule.column))),
        tier="NATIVE",
        param_schema={"required": []},
        description="text must be fully upper-case",
        replace=True)
    yield spec
    registry.unregister_rule_type("ALL_CAPS")


class TestRegistry:
    def test_register_and_duplicate(self, all_caps_type):
        assert registry.get_rule_type("all_caps") is all_caps_type
        with pytest.raises(registry.RuleTypeRegistrationError):
            registry.register_rule_type("ALL_CAPS", lambda r: None)
        # replace=True overrides
        spec2 = registry.register_rule_type(
            "ALL_CAPS", lambda r: None, replace=True)
        assert registry.get_rule_type("ALL_CAPS") is spec2

    def test_bad_registrations(self):
        with pytest.raises(registry.RuleTypeRegistrationError):
            registry.register_rule_type("no spaces", lambda r: None)
        with pytest.raises(registry.RuleTypeRegistrationError):
            registry.register_rule_type("X", lambda r: None, tier="BOGUS")

    def test_builtins_are_registry_backed(self, spark):
        # the quality-filter builtins dispatch through the same seam
        for name in ("LANG_ID", "GOPHER", "PERPLEXITY", "PII_SCRUB"):
            assert registry.get_rule_type(name) is not None
        r = Rule(RuleType.GOPHER, "text")
        assert compile_rule(r, TEXT).tier is Tier.NATIVE
        r = Rule(RuleType.PERPLEXITY, "text", {"max_ppl": 10.0})
        assert compile_rule(r, TEXT).tier is Tier.UDF

    def test_rule_model_accepts_registered_type(self, all_caps_type):
        r = Rule("all_caps", "title")
        assert isinstance(r.type, DynamicRuleType)
        assert r.type.value == "ALL_CAPS"  # every .value call site works
        assert r.name == "all_caps_title"
        # serialization round-trip preserves the registered type
        r2 = Rule.from_dict(r.to_dict())
        assert r2.type == r.type and r2.type.value == "ALL_CAPS"

    def test_unknown_type_rejected(self):
        with pytest.raises(RuleValidationError):
            Rule("NO_SUCH_TYPE", "c")

    def test_param_schema_enforced(self):
        registry.register_rule_type(
            "NEEDS_K", lambda r: F.lit(False),
            param_schema={"required": ["k"]}, replace=True)
        try:
            with pytest.raises(RuleValidationError):
                Rule("NEEDS_K", "c", {})
            Rule("NEEDS_K", "c", {"k": 1})  # ok
            with pytest.raises(RuleValidationError):
                Rule("NEEDS_K", None, {"k": 1})  # needs a column
        finally:
            registry.unregister_rule_type("NEEDS_K")

    def test_engine_merges_registered_rule(self, spark, sf_dir,
                                           all_caps_type):
        """The registered rule fuses into the shared single-scan agg
        beside builtin rules — the merger is tier-driven, so a NATIVE
        registered type costs zero extra scans."""
        from validatelite_spark.operators.engine import RuleEngine
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        results = RuleEngine(spark).execute(df, [
            Rule(RuleType.NOT_NULL, "text"),
            Rule("ALL_CAPS", "lang", name="caps_lang"),
        ])
        by_name = {r.rule_name: r for r in results}
        caps = by_name["caps_lang"]
        assert caps.execution_plan["execution_type"] == "merged_agg"
        # langs are lower-case in the corpus → every non-null row fails
        nonnull = df.filter(F.col("lang").isNotNull()).count()
        assert caps.failed_records == nonnull

    def test_inline_parser_handles_registered_type(self, all_caps_type):
        r = parse_rule("all_caps(title)")
        assert r.type.value == "ALL_CAPS" and r.column == "title"
        r = parse_rule("lang_id(text, allowed_langs=en|de)")
        assert r.type == RuleType.LANG_ID
        assert r.parameters["allowed_langs"] == ["en", "de"]
        with pytest.raises(RuleParseError):
            parse_rule("still_not_a_type(x)")

    def test_override_builtin_compilation(self, spark):
        """replace=True overrides how an existing type compiles —
        without touching compiler.py (the registry dispatches first)."""
        from validatelite_spark.core.builtin_rule_types import (
            register_builtins,
        )
        registry.register_rule_type(
            "GOPHER", lambda rule: F.lit(True), tier="NATIVE",
            replace=True)
        try:
            compiled = compile_rule(Rule(RuleType.GOPHER, "text"), TEXT)
            assert compiled.tier is Tier.NATIVE
            # the override's constant-true predicate, not gopher_fail
            assert "true" in str(compiled.fail_predicate).lower()
        finally:
            register_builtins(replace=True)  # restore
