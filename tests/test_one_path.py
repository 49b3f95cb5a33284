"""One physical path per operator: no public function of
``validatelite_spark.operators`` takes an implementation switch
(``arrow=``) or a gate override (``broadcast=``, ``collect_probe=`` and
their thresholds). A size gate reads its module constant when it is
called; tests reach its other side by monkeypatching that constant.
Like ``test_tokenizer.py``'s copy guard, this stops a deleted fork from
coming back.

The rule compiler has one path too: a rule's physical form is what its
compile function returns (a predicate or a kernel), so no tier label
rides beside it. Its kernels run in one Arrow pass per scan, with no
pandas UDF beside it, and the engine counts them in one action, with no
merged-aggregate path beside it."""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
from dataclasses import fields

from pyspark.util import PythonEvalType

import validatelite_spark.operators as ops
from validatelite_spark.core import registry
from validatelite_spark.pipeline.pages import synthesize_pages
from validatelite_spark.pipeline.quality import QualityPipeline
from validatelite_spark.plans import compiler, merger, planner

FORBIDDEN = {"arrow", "broadcast", "broadcast_threshold", "collect_probe",
             "collect_threshold"}


def _public_callables():
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        for name, obj in vars(mod).items():
            if name.startswith("_") or getattr(
                    obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                yield f"{mod.__name__}.{name}", obj
            elif inspect.isclass(obj):
                for meth, fn in vars(obj).items():
                    if not meth.startswith("_") and inspect.isfunction(fn):
                        yield f"{mod.__name__}.{name}.{meth}", fn


def test_no_implementation_switch_or_gate_override():
    walked = dict(_public_callables())
    assert len(walked) > 100  # the walk reaches every operator module
    found = {name: sorted(FORBIDDEN & set(inspect.signature(fn).parameters))
             for name, fn in walked.items()}
    assert {k: v for k, v in found.items() if v} == {}


def test_no_tier_label():
    assert "tier" not in inspect.signature(
        registry.register_rule_type).parameters
    assert not hasattr(compiler, "Tier")
    assert {f.name for f in fields(compiler.CompiledRule)} == {
        "rule", "fail_predicate", "kernel"}


def test_no_merged_aggregate_path():
    assert not [name for name in ("MergeGroup", "build_merge_groups",
                                  "MAX_RULES_PER_MERGE", "TOTAL_ALIAS")
                if hasattr(merger, name)]


def test_planner_imports_no_pandas():
    tree = ast.parse(inspect.getsource(planner))
    modules = {alias.name for node in ast.walk(tree)
               if isinstance(node, ast.Import) for alias in node.names}
    modules |= {node.module for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom) and node.module}
    assert not {m for m in modules if m.split(".")[0] == "pandas"}


def test_one_scalar_arrow_udf_per_annotated_scan(spark):
    ann = QualityPipeline(spark).annotate(synthesize_pages(spark, 200))
    plan = ann._jdf.queryExecution().executedPlan().toString()
    [node] = [line for line in plan.splitlines()
              if "ArrowEvalPython" in line]
    # the node's last field is the UDF's eval type: a pandas UDF is 200
    assert node.rstrip().endswith(
        f", {PythonEvalType.SQL_SCALAR_ARROW_UDF}")


def test_one_way_from_flags_to_results():
    """The planner scopes the flags, ``merger.count_exprs`` counts them
    for the engine and the pipeline, ``RuleResult`` builds the result."""
    from validatelite_spark.operators.engine import RuleEngine
    from validatelite_spark.plans import schema_payload
    assert not hasattr(merger, "_fails")
    assert not hasattr(QualityPipeline, "metric_exprs")
    assert not [name for name in ("_data_result", "_error_result")
                if hasattr(RuleEngine, name)]
    assert not hasattr(schema_payload, "_skipped")
