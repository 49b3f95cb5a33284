"""Single-node pandas reference implementation of the quality filter.

This is the *oracle* the Spark pipeline is graded against (BASELINE.md:
keep/drop F1 >= 0.99, byte-identical scrubbed text per url). It shares
only the CONSTANTS (marker lists, thresholds, regex specs) and the
perplexity scorer with the Spark path; every other computation here is
an independently-written pandas/Python implementation, so agreement is
evidence of semantic parity rather than of running the same code twice.

The scrub twin ``_scrub_one`` runs the patterns through Python ``re``;
the Spark path runs them through RE2 (``functions/pii.py``). The two
differ only off ASCII (``re``'s ``\b`` is Unicode-aware, RE2's is not),
so this oracle holds for ASCII text; DuckDB, also RE2, is the scrub's
oracle for the rest.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa

from validatelite_spark.functions.perplexity import perplexity_array
from validatelite_spark.functions.pii import PII_PATTERNS, TOXIC_PATTERN
from validatelite_spark.functions.textquality import (
    EN_STOPWORDS,
    GOPHER_DEFAULTS,
    LANG_MARKERS,
    LANG_PRIORITY,
)


#: Java's \s, which Spark's split and regexes use: not Python's Unicode
#: whitespace (U+00A0, U+2028 and U+3000 sit inside a word)
_JAVA_SPACE = "[ \t\n\x0b\f\r]"


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(_JAVA_SPACE, text.lower()) if t]


def _lang_of(text: str) -> str:
    toks = _tokens(text)
    scores = {}
    for lg in LANG_PRIORITY:
        if lg == "zh":
            scores[lg] = sum(1 for ch in text if "一" <= ch <= "鿿")
        else:
            markers = set(LANG_MARKERS[lg])
            scores[lg] = sum(1 for t in toks if t in markers)
    best = "und"
    for lg in LANG_PRIORITY:  # priority order breaks ties
        s = scores[lg]
        if s > 0 and all(s >= scores[o]
                         for o in LANG_PRIORITY[LANG_PRIORITY.index(lg) + 1:]):
            best = lg
            break
    return best


def _gopher_fails(text: str, params: dict) -> bool:
    toks = _tokens(text)
    n = len(toks)
    non_space = len(re.sub(_JAVA_SPACE, "", text))
    mwl = (non_space / n) if n else 0.0
    total = len(text)
    kept = len(re.sub(r"[^a-zA-Z0-9 \t\n\x0b\f\r]", "", text))
    sym = ((total - kept) / total) if total else 0.0
    stop = sum(1 for t in toks if t in set(EN_STOPWORDS))
    distinct = (len(set(toks)) / n) if n else 1.0
    return (
        n < params["min_words"] or n > params["max_words"]
        or mwl < params["min_mean_word_len"] or mwl > params["max_mean_word_len"]
        or sym > params["max_symbol_ratio"]
        or stop < params["min_stopword_count"]
        or distinct < params["min_distinct_ratio"]
    )


def _scrub_one(text: str) -> str:
    out = text
    for _name, pat, repl in PII_PATTERNS:
        out = re.sub(pat, repl, out)
    return re.sub(TOXIC_PATTERN, "<TOXIC>", out, flags=re.IGNORECASE)


def reference_filter(
    pdf: pd.DataFrame,
    allowed_langs: tuple[str, ...] = ("en",),
    max_ppl: float = 13.5,
    gopher_params: dict | None = None,
) -> pd.DataFrame:
    """Compute (url, keep, text_scrubbed) for a pages pandas DataFrame.
    Row-by-row on purpose — this is the slow, obviously-correct oracle."""
    params = dict(GOPHER_DEFAULTS)
    if gopher_params:
        params.update(gopher_params)
    ppl = perplexity_array(pa.array(pdf["text"], pa.string(),
                                    from_pandas=True))

    keeps: list[bool] = []
    scrubbed: list[str | None] = []
    for i, text in enumerate(pdf["text"].tolist()):
        if text is None or (isinstance(text, float) and np.isnan(text)):
            keeps.append(False)
            scrubbed.append(None)
            continue
        drop = (
            _gopher_fails(text, params)
            or (_lang_of(text) not in allowed_langs)
            or (ppl[i] > max_ppl)
        )
        keeps.append(not drop)
        scrubbed.append(_scrub_one(text) if not drop else None)
    return pd.DataFrame({
        "url": pdf["url"].to_numpy(),
        "keep": keeps,
        "text_scrubbed": scrubbed,
    })
