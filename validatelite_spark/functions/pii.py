"""PII / toxicity scrubbing — compiled-regex substitution, vectorized.

The scrub is the REGEX rule family re-targeted (BASELINE.json north_star):
each pattern is a compiled Python ``re`` applied via pandas ``str.replace``
over Arrow batches. The patterns deliberately stay inside the regex subset
where Python ``re``, Java regex, and RE2 (DuckDB) agree — no backrefs, no
lookaround — so the DuckDB oracle can reproduce the scrub byte-for-byte.

Scrub order is FIXED (email → ssn → phone → ip → profanity): phone before
ip so a dotted phone can't be half-eaten by the ip pattern; the order is
part of the per-url byte-identical contract.
"""

from __future__ import annotations

import re

import pandas as pd

from validatelite_spark.core.registry import BatchKernel

#: (name, pattern, replacement) — applied in this exact order.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]

#: Toxicity blocklist (mild placeholder terms — the mechanism, not the
#: lexicon, is what's under test; swap for a real list in production).
TOXIC_TERMS: list[str] = ["badword", "slurword", "curseword"]
TOXIC_PATTERN = r"\b(?:" + "|".join(TOXIC_TERMS) + r")\b"

_COMPILED: list[tuple[str, re.Pattern[str], str]] = [
    (name, re.compile(pat), repl) for name, pat, repl in PII_PATTERNS
] + [("toxic", re.compile(TOXIC_PATTERN, re.IGNORECASE), "<TOXIC>")]

#: one alternation that matches iff ANY pattern matches — a single scan
#: for hit detection instead of five (toxic folded in case-insensitively)
_ANY_PATTERN = re.compile(
    "|".join(f"(?:{pat})" for _n, pat, _r in PII_PATTERNS)
    + f"|(?i:{TOXIC_PATTERN})")


def scrub_series(s: pd.Series) -> pd.Series:
    """Apply every pattern in order to a pandas string Series."""
    out = s.astype("string")
    for _name, pat, repl in _COMPILED:
        out = out.str.replace(pat, repl, regex=True)
    return out


def hit_series(s: pd.Series) -> pd.Series:
    """True where any PII/toxic pattern matches; NULL → False (REGEX rule
    NULL semantics: NULL does not fail). Single-scan alternation."""
    vals = s.astype("string")
    return vals.str.contains(_ANY_PATTERN, regex=True).fillna(False).astype(bool)


#: PII_SCRUB rule kernel: the document has at least one PII/toxic match
#: (it is 'dirty'); NULL does not fail. The planner's scrub shares its
#: ``hit_series`` pass.
PII_KERNEL = BatchKernel(hit_series, lambda hits: hits)


def duckdb_scrub_sql(expr: str) -> str:
    """Build the equivalent DuckDB scrub expression (nested
    regexp_replace with the 'g' flag) for oracle parity."""
    out = expr
    for _name, pat, repl in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{repl}', 'g')"
    tox = TOXIC_PATTERN.replace("'", "''")
    out = f"regexp_replace({out}, '{tox}', '<TOXIC>', 'gi')"
    return out
