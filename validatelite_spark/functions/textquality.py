"""Text-analysis functions — Column implementations and their Arrow twins.

The Column forms run on the JVM (whole-stage codegen): language
identification via stopword-marker scoring, Gopher/C4-style quality
heuristics (doc length, symbol ratio, stopword fraction, repetition via
distinct-token ratio), token counting, quality scoring, and document
fingerprinting. Each is also expressible in ANSI SQL so the DuckDB
oracle can verify it bit-for-bit. LANG_ID and GOPHER also have Arrow
twins (``lang_id_array``; ``gopher_counts`` + ``gopher_fail_array``),
pinned to the Column forms, that the rule planner runs inside its one
Arrow pass when a scan already crosses into Python for the text. The
module also owns the package's one word tokenizer, with its Python
twins for Arrow kernels (see the tokenize section).

These realize the reference's rule types re-targeted for web text
(BASELINE.json north_star): LENGTH→doc-length, RANGE→ratio thresholds,
ENUM→language allowlist after langid.
"""

from __future__ import annotations

import functools
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- tokenize
# ONE token rule for the whole package: a word is a maximal run of
# non-\s characters of the lowercased text, \s being the Java set
# below (NOT Python's Unicode whitespace, NOT Spark trim's U+0020), and
# there are no empty tokens. ``tokens``/``ngrams`` are the Column side,
# ``words``/``word_ngrams`` the Python side (Arrow kernels); every word
# split and n-gram builder in the package goes through them.

#: Java \s whitespace set (space \t \n \x0b \f \r)
_WS = " \t\n\x0b\f\r"
_WS_ASCII = re.compile("[" + re.escape(_WS) + "]+")
_ALNUM = ("abcdefghijklmnopqrstuvwxyz"
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")


def tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased text; empty text → empty array.
    Empty strings can only sit at the edges of the split (a leading or
    trailing \\s run — ``trim`` strips only U+0020); ``array_remove``
    drops them, codegen'd and cheaper than trimming first (noop
    projection of 80k documents on 4 vCPUs: 0.36 s, vs 0.41 s with
    ``trim`` and 0.54 s with ``btrim(col, _WS)``)."""
    return F.array_remove(F.split(F.lower(col), "\\s+"), "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def ngrams(col: Column, n: int = 3) -> Column:
    """ALL word n-gram occurrences of ``tokens(col)`` in order,
    duplicates preserved; docs with < n tokens give an empty array.
    transform/slice are CodegenFallback (CLAUDE.md rule 3) — this is
    the no-Python reference form; hot paths use ``ngrams_arrow``."""
    toks = tokens(col)
    k = F.size(toks) - F.lit(n - 1)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def words(text: str) -> list[str]:
    """Python twin of ``tokens``: the same words for any string.
    Stripping the \\s set first is cheaper than filtering the empty
    edge strings out of a raw split."""
    t = text.lower().strip(_WS)
    return _WS_ASCII.split(t) if t else []


def word_ngrams(text: str, n: int) -> list[str]:
    """Python twin of ``ngrams``."""
    toks = words(text)
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def ngrams_arrow(n: int = 3):
    """Arrow-batched ``ngrams`` — same values, built per batch in tight
    Python instead of the per-row interpreted HOF chain. NULL → [].

    Marked nondeterministic although it is a pure function: that stops
    Catalyst from copying the call into a filter pushed below the
    projection (``size(g) > 0``, or the one it infers for an explode),
    which evaluated the UDF twice per document."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def ng(texts: pd.Series) -> pd.Series:
        return pd.Series([[] if t is None else word_ngrams(t, n)
                          for t in texts])

    return ng.asNondeterministic()


def non_space_char_count(col: Column) -> Column:
    # translate(col, WS, '') deletes the whitespace chars in one
    # table-lookup pass — java.util.regex replace is ~20x slower and
    # dominated the whole pipeline before this
    return F.length(F.translate(col, _WS, ""))


def mean_word_length(col: Column) -> Column:
    return mean_word_length_t(col, tokens(col))


# ---------------------------------------------------------------- ratios

def symbol_ratio(col: Column) -> Column:
    """Fraction of characters that are neither ASCII-alphanumeric nor
    whitespace. Implemented as translate-delete of the KEEP set — length
    of what remains IS the symbol count (one codegen'd table-lookup pass;
    equivalent to, and ~20x faster than, regexp_replace('[^a-zA-Z0-9\\s]'))."""
    n = F.length(col)
    symbols = F.length(F.translate(col, _ALNUM + _WS, ""))
    return F.when(n > 0, symbols / n).otherwise(F.lit(0.0))


def distinct_token_ratio(col: Column) -> Column:
    """Type/token ratio — a cheap, shuffle-free repetition signal
    (low ratio = heavy boilerplate repetition)."""
    return distinct_token_ratio_t(tokens(col))


# ---------------------------------------------------------------- stopwords

#: Common English stopwords (public linguistic knowledge).
EN_STOPWORDS = [
    "the", "and", "of", "to", "in", "is", "that", "for", "with", "was",
    "on", "as", "are", "at", "be", "this", "have", "from", "or", "by",
]

#: Per-language marker words for langid scoring (public stopword lists;
#: sets chosen to be mutually disjoint so argmax is unambiguous).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "that", "with", "was", "this", "have", "are"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "auch"],
    "fr": ["le", "les", "et", "est", "dans", "pour", "que", "vous", "nous", "sur"],
    "es": ["el", "los", "las", "es", "una", "por", "para", "del", "como", "pero"],
}

#: Deterministic priority order for argmax tie-breaks.
LANG_PRIORITY = ["en", "de", "fr", "es", "zh"]


def _word_set_pattern(words: list[str]) -> str:
    """Whole-token alternation with fixed-width lookarounds: a match is a
    listed word bounded by whitespace or string edges — EXACTLY the count
    of whitespace-split tokens equal to a listed word, but evaluated by
    the codegen'd regexp engine instead of a higher-order function
    (HigherOrderFunction is CodegenFallback: interpreted per row, which
    re-evaluates the whole child expression tree — catastrophic when the
    child is a generated-text projection)."""
    return r"(?<![^\s])(?:" + "|".join(words) + r")(?![^\s])"


def stopword_count(col: Column, words: list[str] | None = None) -> Column:
    ws = words or EN_STOPWORDS
    return F.regexp_count(F.lower(col), F.lit(_word_set_pattern(ws)))


def stopword_fraction(col: Column, words: list[str] | None = None) -> Column:
    n = token_count(col)
    return F.when(n > 0, stopword_count(col, words) / n).otherwise(F.lit(0.0))


# ---------------------------------------------------------------- langid

def cjk_char_count(col: Column) -> Column:
    # regexp_count of the positive class == length of the kept chars
    # (single-char class, non-overlapping), but it never BUILDS the
    # replaced string: measured 2.4 s → 0.66 s per 1M rows vs the
    # regexp_replace-then-length form (rule 3's allocation tax)
    return F.regexp_count(col, F.lit("[\\u4e00-\\u9fff]"))


def lang_score(col: Column, lang: str) -> Column:
    """Marker-token count for one language; for zh, CJK character count
    (a CJK char is worth one marker token)."""
    if lang == "zh":
        return cjk_char_count(col)
    return F.regexp_count(F.lower(col),
                          F.lit(_word_set_pattern(LANG_MARKERS[lang])))


def lang_id(col: Column) -> Column:
    """Detected language: argmax of marker scores with the fixed priority
    order for ties; 'und' (undetermined) when every score is zero.

    Implemented as a CASE chain over score columns — pure codegen, and
    byte-for-byte reproducible in the DuckDB oracle. Chain invariant: lang k
    wins iff score_k > 0 and score_k >= score_j for every lower-priority j
    (the max always passes its own case; earlier, smaller scores fail the
    >=-later check, so this is argmax with priority tie-break)."""
    scores = {lg: lang_score(col, lg) for lg in LANG_PRIORITY}
    expr = F.lit("und")
    for lg in reversed(LANG_PRIORITY):
        cond = scores[lg] > 0
        for other in LANG_PRIORITY[LANG_PRIORITY.index(lg) + 1:]:
            cond = cond & (scores[lg] >= scores[other])
        expr = F.when(cond, F.lit(lg)).otherwise(expr)
    return expr


# ---------------------------------------------------------------- scoring

def quality_score(col: Column) -> Column:
    """Composite quality score in [0, 1]: rewards stopword density and
    lexical diversity, penalizes symbol noise. SQL-expressible (C4-style
    heuristic blend)."""
    sw = F.least(stopword_fraction(col) * F.lit(5.0), F.lit(1.0))
    dv = distinct_token_ratio(col)
    sym = F.greatest(F.lit(0.0), F.lit(1.0) - symbol_ratio(col) * F.lit(5.0))
    # +1e-9 breaks exact-decimal ties (e.g. 0.5203125) that Spark and
    # other engines round differently (HALF_UP vs HALF_EVEN)
    return F.round(sw * 0.4 + dv * 0.3 + sym * 0.3 + F.lit(1e-9), 6)


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased text —
    the exact-dedup key. Identical in DuckDB (`md5(...)`)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), "\\s+", " "))


# ---------------------------------------------------------------- gopher

#: Gopher-style heuristic defaults (public: Rae et al. 2021, "Scaling
#: Language Models" appendix A1.1, simplified to the signals computable
#: without a second pass).
GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.10,
    "min_stopword_count": 2,
    "min_distinct_ratio": 0.20,
}


def _gopher_params(params: dict | None) -> dict:
    p = dict(GOPHER_DEFAULTS)
    if params:
        p.update({k: v for k, v in params.items() if v is not None})
    return p


def gopher_fail(col: Column, params: dict | None = None) -> Column:
    """Composite Gopher failure predicate: NULL text fails (completeness
    semantics, like NOT_NULL/RANGE in the reference); otherwise fails when
    any heuristic is violated."""
    return gopher_fail_t(col, tokens(col), params)


# ------------------------------------------------- token-reuse variants
# The one body of each token signal, over a PRE-COMPUTED tokens column,
# so a multi-rule projection splits the text ONCE instead of once per
# signal (the planner's shared ``tokens_of`` input); the plain forms
# above pass ``tokens(col)``.

def mean_word_length_t(col: Column, toks: Column) -> Column:
    n = F.size(toks)
    return F.when(n > 0, non_space_char_count(col) / n).otherwise(F.lit(0.0))


def distinct_token_ratio_t(toks: Column) -> Column:
    n = F.size(toks)
    return F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(1.0))


def lang_id_t(col: Column, toks: Column) -> Column:
    """Alias of ``lang_id`` kept only for the benchmark's native probe
    (``perfbench/run.py::probes`` calls it): the marker scores are
    regexp_counts over the text, so ``toks`` is unused."""
    return lang_id(col)


#: the marker words in LANG_PRIORITY order, and each one's language
_MARKER_WORDS = pa.array([w for lg in LANG_PRIORITY[:-1]
                          for w in LANG_MARKERS[lg]])
_MARKER_LANG = np.repeat(
    np.arange(len(LANG_PRIORITY) - 1),
    [len(LANG_MARKERS[lg]) for lg in LANG_PRIORITY[:-1]])
_LANG_LABELS = pa.array([*LANG_PRIORITY, "und"])


def lang_id_array(texts: pa.Array) -> pa.Array:
    """Arrow twin of ``lang_id`` — the detected language per doc, the
    LANG_ID kernel's signal when the scan already crosses into Python
    for that column (its native form is 4 marker regexes + a CJK scan,
    the most expensive native signal; here it reuses the text batch).

    Exact parity with the Column chain (pinned on the generated corpus
    in tests/test_pipeline.py): marker scores count whole tokens equal
    to a marker word — ``ascii_split_whitespace`` splits on exactly the
    Java \\s set, so its tokens are ``words``' (plus empty edge strings,
    which match no marker); the zh score counts U+4E00-U+9FFF code
    points (== regexp_count of the class — Spark lengths are code points
    too); the winner is the first language in LANG_PRIORITY holding the
    maximum positive score ('und' when every score is 0, and for NULL),
    which is exactly the CASE chain's argmax-with-priority-tie-break
    invariant. ``ascii_lower`` rather than ``utf8_lower``: a token
    lowers to an (ASCII, k-free) marker word under ``str.lower`` iff it
    does under ``ascii_lower`` — the only other code points ``str.lower``
    maps into ASCII are U+212A (to ``k``) and U+0130 (to ``i`` + U+0307,
    never a marker), while ``utf8_lower`` maps U+0130 to a bare ``i``."""
    n, langs = len(texts), len(LANG_PRIORITY)
    toks = pc.ascii_split_whitespace(pc.ascii_lower(texts))
    word = pc.index_in(pc.list_flatten(toks), value_set=_MARKER_WORDS)
    hit = pc.is_valid(word)
    doc = pc.filter(pc.list_parent_indices(toks), hit).to_numpy()
    lang = _MARKER_LANG[pc.filter(word, hit).to_numpy()]
    scores = np.bincount(doc * langs + lang,
                         minlength=n * langs).reshape(n, langs)
    cjk = pc.count_substring_regex(texts, "[\u4e00-\u9fff]")
    scores[:, -1] = pc.fill_null(cjk, 0).to_numpy()
    best = np.where(scores.max(axis=1) > 0, scores.argmax(axis=1), langs)
    return _LANG_LABELS.take(best)


def gopher_fail_t(col: Column, toks: Column,
                  params: dict | None = None) -> Column:
    p = _gopher_params(params)
    n_words = F.size(toks)
    mwl = mean_word_length_t(col, toks)
    viol = (
        (n_words < p["min_words"])
        | (n_words > p["max_words"])
        | (mwl < p["min_mean_word_len"])
        | (mwl > p["max_mean_word_len"])
        | (symbol_ratio(col) > p["max_symbol_ratio"])
        | (stopword_count(col) < p["min_stopword_count"])
        | (distinct_token_ratio_t(toks) < p["min_distinct_ratio"])
    )
    # NULL text leaves ``viol`` NULL or True, never False. coalesce, not
    # CASE WHEN: Catalyst eliminates subexpressions only in a
    # conditional's always-evaluated input, so a CASE branch re-ran an
    # inline ``tokens(col)`` once per use (noop projection of 40k pages
    # on 4 vCPUs: 4.23 s as CASE, 2.23 s as coalesce)
    return F.coalesce(viol, F.lit(True))


_STOPWORDS = pa.array(EN_STOPWORDS)


def _byte_counts(texts: pa.Array) -> np.ndarray:
    """Per row of ``texts``: (code points, Java-\\s code points, ASCII
    alphanumerics). Byte classes of the UTF-8 value buffer — a
    code point starts at every non-continuation byte, and \\s and the
    alphanumerics are one-byte code points — summed per row by one
    ``reduceat`` over the offsets (also of a sliced array)."""
    n = len(texts)
    out = np.zeros((3, n), dtype=np.int64)
    _, offsets, data = texts.buffers()
    width = np.int64 if pa.types.is_large_string(texts.type) else np.int32
    offs = np.frombuffer(offsets, width)[texts.offset:texts.offset + n + 1]
    if data is None or offs[-1] == offs[0]:
        return out
    b = np.frombuffer(data, np.uint8)[offs[0]:offs[-1]]
    u8 = np.uint8
    classes = (
        (b & u8(0xC0)) != 0x80,
        (b == 32) | (b - u8(9) < 5),  # space, \t \n \x0b \f \r
        ((b | u8(0x20)) - u8(97) < 26) | (b - u8(48) < 10),
    )
    # consecutive non-empty starts bound each non-empty row exactly:
    # the empty rows between two of them add nothing
    full = offs[1:] > offs[:-1]
    starts = offs[:-1][full] - offs[0]
    for k, cls in enumerate(classes):
        out[k, full] = np.add.reduceat(cls, starts, dtype=np.int32)
    return out


def gopher_counts(texts: pa.Array) -> np.ndarray:
    """Arrow twin of GOPHER's signals — the GOPHER kernel's signal when
    the scan already crosses into Python for that column. A (7, n)
    int64 array of per-row counts: NULL, code points, Java-\\s code
    points, ASCII alphanumerics, words, stopwords and distinct words.

    Exact parity with ``gopher_fail_t`` (tests/test_gopher_kernel.py):
    Spark ``length``/``translate`` count code points, so the first three
    are byte-class counts over the UTF-8 buffer; ``ascii_split_whitespace``
    splits on exactly the Java \\s set, so its non-empty tokens are
    ``tokens``'; a token lowers to an (ASCII, k-free) stopword under
    Spark ``lower`` iff it does under ``ascii_lower`` (see
    ``lang_id_array``). Distinctness needs the full ``lower`` off ASCII
    (É and é are one word), so each entry of the batch's token
    dictionary is lowered with ``str.lower``, as ``words`` lowers: per
    token equals per text, since no \\s character is case-ignorable
    (the final-sigma context ends at the word's edge)."""
    n = len(texts)
    counts = np.zeros((7, n), dtype=np.int64)
    counts[0] = pc.is_null(texts).to_numpy(zero_copy_only=False)
    counts[1:4] = _byte_counts(texts)
    toks = pc.ascii_split_whitespace(pc.ascii_lower(texts))
    flat = pc.list_flatten(toks)
    word = pc.greater(pc.binary_length(flat), 0)
    flat = pc.filter(flat, word)
    doc = pc.filter(pc.list_parent_indices(toks), word).to_numpy()
    counts[4] = np.bincount(doc, minlength=n)
    stop = pc.is_in(flat, value_set=_STOPWORDS).to_numpy(zero_copy_only=False)
    counts[5] = np.bincount(doc[stop], minlength=n)
    # lower the dictionary, not the rows
    vocab = pc.dictionary_encode(flat)
    lowered = pa.array([w.lower() for w in vocab.dictionary.to_pylist()],
                       pa.string())
    canon = pc.dictionary_encode(lowered).indices.to_numpy()
    size = max(len(lowered), 1)
    pairs = np.unique(doc * size + canon[vocab.indices.to_numpy()])
    counts[6] = np.bincount(pairs // size, minlength=n)
    return counts


def gopher_fail_array(params: dict | None = None):
    """The GOPHER verdict over ``gopher_counts``: NULL fails, else any
    violated threshold, with ``gopher_fail_t``'s ratios and zero guards
    in float64. One function object per parameter set."""
    p = _gopher_params(params)
    return _gopher_fail_array(**{k: p[k] for k in GOPHER_DEFAULTS})


@functools.cache
def _gopher_fail_array(min_words, max_words, min_mean_word_len,
                       max_mean_word_len, max_symbol_ratio,
                       min_stopword_count, min_distinct_ratio):
    def fail(counts: np.ndarray) -> np.ndarray:
        null, cp, ws, alnum, n, stop, distinct = counts
        rows, has_words = len(n), n > 0
        mwl = np.divide(cp - ws, n, out=np.zeros(rows), where=has_words)
        sym = np.divide(cp - alnum - ws, cp, out=np.zeros(rows),
                        where=cp > 0)
        dr = np.divide(distinct, n, out=np.ones(rows), where=has_words)
        return (null.astype(bool)
                | (n < min_words) | (n > max_words)
                | (mwl < min_mean_word_len) | (mwl > max_mean_word_len)
                | (sym > max_symbol_ratio)
                | (stop < min_stopword_count)
                | (dr < min_distinct_ratio))

    return fail


# --------------------------------------------------------- BPE-ish tokens
#: GPT-2-style pre-tokenizer pattern (public: the widely-documented
#: gpt-2 `pat`), restricted to the subset where Java regex and RE2 agree
#: (no lookahead): contractions | optional-space letters | numbers |
#: punctuation runs.
BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_token_count(col: Column) -> Column:
    """Approximate LLM token count via the BPE pre-tokenizer regex —
    a codegen'd regexp_count, no Python. NULL → NULL."""
    return F.regexp_count(col, F.lit(BPE_PATTERN))


# ------------------------------------------------- compression ratio
def compression_ratio_udf(level: int = 6, round_to: int = 6):
    """Arrow-batched zlib compression ratio: compressed_bytes /
    utf8_bytes — the low-entropy detector (boilerplate-heavy or
    repetitive text compresses far below prose; extremely random text
    sits near or above 1). A standard web-filter signal alongside the
    Gopher heuristics; deterministic for a fixed zlib ``level``
    (pinned vs direct zlib in tests). NULL → NULL; empty text → NULL
    (no bytes to judge). Non-SQL-expressible (DuckDB has no zlib
    surface), so the driver exposure is rows-only; cross-impl parity
    lives in pytest like perplexity's."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cr(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return round(len(zlib.compress(b, level)) / len(b) + 1e-9,
                         round_to)
        return s.map(one)

    return cr
