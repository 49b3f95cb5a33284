"""The fused UDF-tier pass — ONE Arrow round-trip for every Python-side
signal (SURVEY.md §7 step 4: "One mapInPandas pass evaluates all UDF-tier
rules per partition — the UDF-side analogue of the merger").

A single pandas UDF takes (text, native_drop) and returns a struct
``(ppl double, pii boolean, scrubbed string)``:

- perplexity: batch-vectorized char-bigram scorer;
- pii hit flag: evaluated for every doc (the PII_SCRUB rule's metric);
- scrubbed text: computed ONLY for kept docs (native rules passed and
  ppl under threshold) — dropped docs skip the expensive regex
  substitutions entirely.

Compared to three separate pandas UDFs this saves two Arrow
serializations of the text column and two Python worker chains per task
— the dominant cost of the UDF tier at scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from validatelite_spark.functions.perplexity import perplexity_series
from validatelite_spark.functions.pii import hit_series, scrub_series

FUSED_SCHEMA = T.StructType([
    T.StructField("ppl", T.DoubleType()),
    T.StructField("pii", T.BooleanType()),
    T.StructField("scrubbed", T.StringType()),
])

FUSED_LANG_SCHEMA = T.StructType(
    FUSED_SCHEMA.fields + [T.StructField("lang", T.StringType())])

def lang_id_series(s: pd.Series) -> pd.Series:
    """Vectorized replica of ``textquality.lang_id`` — the detected
    language per doc, so the fused pass can carry the LANG_ID rule too
    instead of paying a separate 4-regex native scan.

    Exact parity with the Column chain (pinned on the generated corpus
    in tests/test_pipeline.py): marker scores count whole tokens equal
    to a marker word, where tokens are maximal non-\\s runs of the
    lowercased text (``textquality.words``, so Python counting == the
    ``(?<![^\\s])(?:w|…)(?![^\\s])`` regexp_count); the zh score counts
    U+4E00-U+9FFF code points (== regexp_count of the class — Spark
    lengths are code points too); the winner is the first language in
    LANG_PRIORITY holding the maximum positive score ('und' when every
    score is 0), which is exactly the CASE chain's
    argmax-with-priority-tie-break invariant."""
    from validatelite_spark.functions.textquality import (LANG_MARKERS,
                                                          LANG_PRIORITY,
                                                          words)

    word_lang = {w: lg for lg, ws in LANG_MARKERS.items() for w in ws}
    out = []
    for t in s:
        if t is None:
            # the Column CASE chain's NULL conditions all skip,
            # falling through to the 'und' default — mirror it
            out.append("und")
            continue
        scores = dict.fromkeys(LANG_PRIORITY, 0)
        for tok in words(t):
            lg = word_lang.get(tok)
            if lg is not None:
                scores[lg] += 1
        scores["zh"] = sum("一" <= ch <= "鿿" for ch in t)
        best = max(scores.values())
        if best <= 0:
            out.append("und")
        else:
            out.append(next(lg for lg in LANG_PRIORITY
                            if scores[lg] == best))
    return pd.Series(out, index=s.index, dtype="object")


def fused_text_eval(text: Column, native_drop: Column,
                    max_ppl: float, ppl_drops: bool = True,
                    lang_allowed: list | None = None,
                    lang_drops: bool = True) -> Column:
    """Struct column (ppl, pii, scrubbed[, lang]) in one vectorized pass.

    ``ppl_drops``: whether the PERPLEXITY rule is a *dropping* rule (its
    severity is in drop_severities). When False, a doc with ppl > max_ppl
    is still kept — so the scrub must still run for it; folding the ppl
    threshold into the internal keep unconditionally would silently NULL
    the scrub output for kept docs.

    ``lang_allowed``: when given, the LANG_ID signal rides the SAME
    Arrow pass (``lang_id_series``) and the struct gains a ``lang``
    field — the pipeline then skips the native 4-regex language scan
    entirely. ``lang_drops`` mirrors ``ppl_drops`` for the internal
    scrub gate (a NULL text never scrubs either way — native NOT_NULL
    drops it).

    GOPHER was measured in this pass too and REVERTED: the native
    gopher tree runs on the
    JVM thread CONCURRENTLY with the Python worker's
    perplexity/pii/scrub work, so moving it into the UDF serialized it
    behind them (18.3 s vs 14.7 s per 1M docs) — the boundary crossing
    was never the cost there. LANG_ID is different: its native form is
    4 regex scans + a CJK pass of JVM time, far more than its Python
    token-count cost."""
    schema = FUSED_LANG_SCHEMA if lang_allowed is not None else FUSED_SCHEMA
    allowed = set(lang_allowed or ())

    @F.pandas_udf(schema)
    def _eval(s: pd.Series, drop: pd.Series) -> pd.DataFrame:
        ppl = perplexity_series(s)
        pii = hit_series(s)
        keep = ~drop.fillna(True).astype(bool)
        if ppl_drops:
            keep &= ppl <= max_ppl
        cols = {"ppl": ppl, "pii": pii}
        if lang_allowed is not None:
            lang = lang_id_series(s)
            cols["lang"] = lang
            if lang_drops:
                keep &= lang.isin(allowed).fillna(False)
        scrubbed = pd.Series([None] * len(s), index=s.index, dtype="object")
        # kept docs with NO pattern hit scrub to themselves — skip the
        # substitution passes for them (byte-identical by definition)
        clean = keep & ~pii
        scrubbed[clean] = s[clean].astype("object")
        dirty = keep & pii
        if dirty.any():
            scrubbed[dirty] = scrub_series(s[dirty]).astype("object")
        cols["scrubbed"] = scrubbed
        return pd.DataFrame(cols, columns=[f.name for f in schema.fields])

    return _eval(text, native_drop)
