"""Character-bigram perplexity scorer (KenLM-style n-gram LM, degenerate
n=2 character case), vectorized over Arrow batches.

The model is trained at import time from a small embedded English corpus
(original text, written for this repo), giving a deterministic scorer with
zero external dependencies. Clean English prose scores low; symbol junk
and non-English text score high — the RANGE-style PERPLEXITY rule then
thresholds the score (reference RANGE semantics: NULL fails,
reference: core/executors/validity_executor.py:398-471).

Vectorization: the whole Arrow batch is normalized, concatenated into one
numpy uint8 array, bigram log-probs are gathered with one fancy-index, and
per-document means come from ``np.add.reduceat`` — no per-row Python loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column

from validatelite_spark.core.registry import BatchKernel
from validatelite_spark.plans.planner import batch_udf

#: alphabet: a-z + space + "other"; common punctuation normalizes to
#: space, every remaining char to "other" — so symbol junk lands on the
#: rarely-seen "other" bucket and scores high perplexity instead of
#: degenerating to whitespace.
_ALPHA = 28
_OTHER = 27

_TRAIN_TEXT = """
the quick growth of the web produced an enormous amount of text and much
of it is useful for training language models but a large part of it is
noise so we filter the pages before training on them the filter looks at
the length of each document the fraction of symbols the share of common
words and the repetition of lines a clean page of english prose will pass
these checks while pages made of navigation menus advertising snippets or
random characters will fail them the engine reads each page scores it and
keeps only the pages that look like natural language this simple idea
scales to very large collections when the work is spread over many
machines and each machine handles a part of the data the results are then
merged into a single table that records for every page whether it was
kept and why this record makes the whole process easy to audit and easy
to resume if a run stops in the middle of the night the same approach
works for many languages when the score model is trained on text from
each language and the threshold is tuned on a small sample of labeled
pages in practice a character model is small fast and surprisingly strong
at telling real words from junk because real words reuse the same letter
pairs again and again while junk does not
"""


#: bytes treated as space: whitespace + sentence punctuation.
_SPACE_BYTES = frozenset(b" \t\n\r.,;:!?'\"")


def _normalize_to_codes(text: str) -> np.ndarray:
    """Map text → uint8 codes in [0, 28): a-z → 0..25, whitespace and
    sentence punctuation → 26 (space, runs collapsed), anything else → 27
    ("other")."""
    b = np.frombuffer(text.lower().encode("ascii", "replace"), dtype=np.uint8)
    codes = np.full(b.size, _OTHER, dtype=np.uint8)
    codes[(b >= 97) & (b <= 122)] = b[(b >= 97) & (b <= 122)] - 97
    is_space = np.isin(b, np.frombuffer(bytes(_SPACE_BYTES), dtype=np.uint8))
    codes[is_space] = 26
    if codes.size:
        keep = np.ones(codes.size, dtype=bool)
        keep[1:] = ~((codes[1:] == 26) & (codes[:-1] == 26))
        codes = codes[keep]
    return codes


def _train_bigram_logprobs() -> np.ndarray:
    """27x27 matrix of log2 P(c2|c1) with add-one smoothing."""
    codes = _normalize_to_codes(_TRAIN_TEXT.strip())
    counts = np.ones((_ALPHA, _ALPHA), dtype=np.float64)  # Laplace
    np.add.at(counts, (codes[:-1], codes[1:]), 1.0)
    probs = counts / counts.sum(axis=1, keepdims=True)
    return np.log2(probs)


_LOGPROBS = _train_bigram_logprobs()


def _build_byte_lut() -> np.ndarray:
    lut = np.full(256, _OTHER, dtype=np.uint8)
    for b in range(97, 123):
        lut[b] = b - 97
    for b in _SPACE_BYTES:
        lut[b] = 26
    return lut


_BYTE_CODE_LUT = _build_byte_lut()

#: Perplexity assigned to NULL / empty / single-char docs (worst case —
#: RANGE semantics make NULL a failure).
MAX_PPL = float(2.0 ** (-_LOGPROBS.min()))


def perplexity_series(s: pd.Series) -> pd.Series:
    """Vectorized char-bigram perplexity for a pandas Series of strings.

    The whole Arrow batch is encoded doc-by-doc (C-level) but every
    numeric step — code mapping, space-run collapse, bigram gather,
    per-doc mean — runs ONCE over the concatenated byte buffer with a
    doc-index vector, so per-doc Python overhead is a single .encode()."""
    vals = s.astype("string")
    n = len(vals)
    out = np.full(n, MAX_PPL, dtype=np.float64)
    notna = vals.notna().to_numpy()
    texts = vals[notna].tolist()
    if not texts:
        return pd.Series(out, index=s.index)
    enc = [t.lower().encode("ascii", "replace") for t in texts]
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=len(enc))
    if lens.sum() == 0:
        return pd.Series(out, index=s.index)
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    doc_idx = np.repeat(np.arange(len(enc), dtype=np.int32), lens)
    # map to codes via a 256-entry LUT (single gather, no boolean temps)
    codes = _BYTE_CODE_LUT[buf]
    # collapse runs of spaces WITHIN a doc
    if codes.size > 1:
        keep = np.empty(codes.size, dtype=bool)
        keep[0] = True
        np.logical_not((codes[1:] == 26) & (codes[:-1] == 26)
                       & (doc_idx[1:] == doc_idx[:-1]), out=keep[1:])
        codes, doc_idx = codes[keep], doc_idx[keep]
    if codes.size > 1:
        same_doc = doc_idx[:-1] == doc_idx[1:]
        pair_doc = doc_idx[:-1][same_doc]
        pair_lp = _LOGPROBS[codes[:-1][same_doc], codes[1:][same_doc]]
        sums = np.bincount(pair_doc, weights=pair_lp, minlength=len(enc))
        counts = np.bincount(pair_doc, minlength=len(enc))
        res = np.where(counts > 0,
                       np.power(2.0, -(sums / np.maximum(counts, 1))),
                       MAX_PPL)
        out[notna] = res
    return pd.Series(out, index=s.index)


def perplexity(col: Column) -> Column:
    """Perplexity column (the signal alone, as its own pandas UDF)."""
    return batch_udf(perplexity_series, "double")(col)


def perplexity_kernel(min_ppl: float | None,
                      max_ppl: float | None) -> BatchKernel:
    """PERPLEXITY rule kernel, RANGE-style over the score: NULL text
    fails (scores MAX_PPL, which exceeds any sane max_ppl)."""
    lo = -np.inf if min_ppl is None else float(min_ppl)
    hi = np.inf if max_ppl is None else float(max_ppl)
    return BatchKernel(perplexity_series, lambda ppl: (ppl < lo) | (ppl > hi))
