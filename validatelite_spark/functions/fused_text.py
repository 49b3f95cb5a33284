"""``fused_text_eval``: the default rules' Python-tier pass as one Column.

Rule scans get their one Arrow UDF from ``plans/planner.py``. This
Column-level entry point stays for the benchmark's UDF probe
(``perfbench/run.py::probes``), so the probe measures the pass the
pipeline runs: PERPLEXITY and PII, and the dual-form GOPHER and LANG_ID,
which join the pass when another kernel reads their column (their
native forms re-lower and re-scan the text the pass already holds).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import types as T

from validatelite_spark.core.rules import Rule, RuleType
from validatelite_spark.plans.compiler import compile_rule
from validatelite_spark.plans.planner import kernel_udf

_TEXT = T.StructType([T.StructField("text", T.StringType())])


def fused_text_eval(text: Column, native_drop: Column, max_ppl: float,
                    lang_allowed: list | None = None) -> Column:
    """Struct (gopher, ppl, pii[, lang] failure flags, scrubbed) of
    ``text`` in the planner's one Arrow pass; GOPHER, perplexity and
    language gate the scrub like dropping rules."""
    rules = {"gopher": Rule(RuleType.GOPHER, "text"),
             "ppl": Rule(RuleType.PERPLEXITY, "text", {"max_ppl": max_ppl}),
             "pii": Rule(RuleType.PII_SCRUB, "text")}
    if lang_allowed is not None:
        rules["lang"] = Rule(RuleType.LANG_ID, "text",
                             {"allowed_langs": lang_allowed})
    kernels = {name: (0, compile_rule(rule, _TEXT).kernel)
               for name, rule in rules.items()}
    return kernel_udf([text], kernels, scrub=0, drop=native_drop,
                      drops=("gopher", "ppl", "lang"))
