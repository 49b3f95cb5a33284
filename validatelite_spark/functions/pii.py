"""PII / toxicity scrubbing — RE2 regex substitution over Arrow arrays.

The scrub is the REGEX rule family re-targeted (BASELINE.json north_star):
each pattern runs as ``pyarrow.compute.replace_substring_regex`` over an
Arrow batch, so the engine is RE2 — the same engine the DuckDB oracle
(``duckdb_scrub_sql``) uses, which reproduces the scrub byte for byte.
The patterns avoid backrefs and lookaround, but RE2 is not Python ``re``
off ASCII: RE2's ``\\b`` is an ASCII word boundary, while ``re``'s is
Unicode-aware, so ``'é123-45-6789'`` holds an SSN for RE2 and DuckDB
(``'é<SSN>'``) and none for ``re``; ``'badwordé'`` differs the same way
(``tests/test_arrow_kernels.py`` pins the Arrow kernels against DuckDB
on such rows). On ASCII text the two engines agree.

Scrub order is FIXED (email → ssn → phone → ip → profanity): phone before
ip so a dotted phone can't be half-eaten by the ip pattern; the order is
part of the per-url byte-identical contract.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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

_SCRUBS: list[tuple[str, str]] = [
    (pat, repl) for _name, pat, repl in PII_PATTERNS
] + [(f"(?i){TOXIC_PATTERN}", "<TOXIC>")]

#: one alternation that matches iff ANY pattern matches — a single scan
#: for hit detection instead of five (toxic folded in case-insensitively)
_ANY_PATTERN = ("|".join(f"(?:{pat})" for _n, pat, _r in PII_PATTERNS)
                + f"|(?i:{TOXIC_PATTERN})")


def scrub_array(texts: pa.Array) -> pa.Array:
    """Apply every pattern in order to an Arrow string array."""
    for pat, repl in _SCRUBS:
        texts = pc.replace_substring_regex(texts, pat, repl)
    return texts


def hit_array(texts: pa.Array) -> np.ndarray:
    """True where any PII/toxic pattern matches; NULL → False (REGEX rule
    NULL semantics: NULL does not fail). Single-scan alternation."""
    hits = pc.match_substring_regex(texts, _ANY_PATTERN)
    return pc.fill_null(hits, False).to_numpy(zero_copy_only=False)


#: PII_SCRUB rule kernel: the document has at least one PII/toxic match
#: (it is 'dirty'); NULL does not fail. The planner's scrub shares its
#: ``hit_array`` pass.
PII_KERNEL = BatchKernel(hit_array, lambda hits: hits)


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
