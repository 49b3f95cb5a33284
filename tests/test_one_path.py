"""One physical path per operator: no public function of
``validatelite_spark.operators`` takes an implementation switch
(``arrow=``) or a gate override (``broadcast=``, ``collect_probe=`` and
their thresholds). A size gate reads its module constant when it is
called; tests reach its other side by monkeypatching that constant.
Like ``test_tokenizer.py``'s copy guard, this stops a deleted fork from
coming back.

The rule compiler has one path too: a rule's physical form is what its
compile function returns (a predicate, a kernel or an aggregate count),
so no tier label rides beside it."""

from __future__ import annotations

import importlib
import inspect
import pkgutil
from dataclasses import fields

import validatelite_spark.operators as ops
from validatelite_spark.core import registry
from validatelite_spark.plans import compiler

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
        "rule", "fail_predicate", "kernel", "count"}
