"""Character-bigram perplexity scorer (KenLM-style n-gram LM, degenerate
n=2 character case), vectorized over Arrow batches.

The model is trained at import time from a small embedded English corpus
(original text, written for this repo), giving a deterministic scorer with
zero external dependencies. Clean English prose scores low; symbol junk
and non-English text score high — the RANGE-style PERPLEXITY rule then
thresholds the score (reference RANGE semantics: NULL fails,
reference: core/executors/validity_executor.py:398-471).

Vectorization: the Arrow batch's UTF-8 value buffer is coded in place
(one byte per code point kept), bigram log-probs are gathered with one
fancy-index, and per-document means come from ``np.bincount`` over a
doc-index vector — no per-row Python, no re-encoding of the text.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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

#: the code of each byte of RAW UTF-8 text, as ``str.lower`` then
#: ``encode("ascii", "replace")`` codes it: A-Z lower to a-z, and a
#: code point outside ASCII becomes one ``?`` (a space code) — indexed
#: by its lead byte, its continuation bytes dropped
_UTF8_CODE_LUT = _BYTE_CODE_LUT.copy()
_UTF8_CODE_LUT[65:91] = np.arange(26)
_UTF8_CODE_LUT[128:] = _BYTE_CODE_LUT[ord("?")]

#: Perplexity assigned to NULL / empty / single-char docs (worst case —
#: RANGE semantics make NULL a failure).
MAX_PPL = float(2.0 ** (-_LOGPROBS.min()))


def _code_points(buf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(codes, keep) of a UTF-8 byte buffer: ``keep`` marks one byte per
    code point of the lowered text. The two code points whose
    ``str.lower`` holds ASCII: U+212A KELVIN SIGN (E2 84 AA) lowers to
    ``k``, U+0130 (C4 B0) to ``i`` + U+0307, so its continuation byte
    stands for the U+0307."""
    codes = _UTF8_CODE_LUT[buf]
    keep = (buf & 0xC0) != 0x80
    kelvin = np.flatnonzero((buf[:-2] == 0xE2) & (buf[1:-1] == 0x84)
                            & (buf[2:] == 0xAA))
    codes[kelvin] = ord("k") - 97
    dotted = np.flatnonzero((buf[:-1] == 0xC4) & (buf[1:] == 0xB0))
    codes[dotted] = ord("i") - 97
    keep[dotted + 1] = True
    return codes, keep


def perplexity_array(texts: pa.Array) -> np.ndarray:
    """Vectorized char-bigram perplexity of an Arrow string array.

    Reads the array's UTF-8 value buffer and offsets directly: every
    numeric step — code mapping, space-run collapse, bigram gather,
    per-doc mean — runs ONCE over the whole buffer with a doc-index
    vector, with no per-doc Python. Equal bit for bit to scoring each
    ``text.lower().encode("ascii", "replace")``."""
    n = len(texts)
    out = np.full(n, MAX_PPL, dtype=np.float64)
    if n == 0:
        return out
    if texts.type != pa.string():
        texts = texts.cast(pa.string())
    if texts.null_count:
        texts = pc.fill_null(texts, "")  # scores MAX_PPL, like NULL
    offsets = np.frombuffer(texts.buffers()[1], dtype=np.int32,
                            count=n + 1, offset=4 * texts.offset)
    if offsets[-1] == offsets[0]:
        return out
    buf = np.frombuffer(texts.buffers()[2], dtype=np.uint8)[
        offsets[0]:offsets[-1]]
    doc_idx = np.repeat(np.arange(n, dtype=np.int32), np.diff(offsets))
    codes, keep = _code_points(buf)
    codes, doc_idx = codes[keep], doc_idx[keep]
    # collapse runs of spaces WITHIN a doc
    keep = np.empty(codes.size, dtype=bool)
    keep[0] = True
    np.logical_not((codes[1:] == 26) & (codes[:-1] == 26)
                   & (doc_idx[1:] == doc_idx[:-1]), out=keep[1:])
    codes, doc_idx = codes[keep], doc_idx[keep]
    if codes.size > 1:
        same_doc = doc_idx[:-1] == doc_idx[1:]
        pair_doc = doc_idx[:-1][same_doc]
        pair_lp = _LOGPROBS[codes[:-1][same_doc], codes[1:][same_doc]]
        sums = np.bincount(pair_doc, weights=pair_lp, minlength=n)
        counts = np.bincount(pair_doc, minlength=n)
        out = np.where(counts > 0,
                       np.power(2.0, -(sums / np.maximum(counts, 1))),
                       MAX_PPL)
    return out


def perplexity(col: Column) -> Column:
    """Perplexity column (the signal alone, as its own Arrow UDF)."""
    return batch_udf(perplexity_array, "double")(col)


def perplexity_kernel(min_ppl: float | None,
                      max_ppl: float | None) -> BatchKernel:
    """PERPLEXITY rule kernel, RANGE-style over the score: NULL text
    fails (scores MAX_PPL, which exceeds any sane max_ppl)."""
    lo = -np.inf if min_ppl is None else float(min_ppl)
    hi = np.inf if max_ppl is None else float(max_ppl)
    return BatchKernel(perplexity_array, lambda ppl: (ppl < lo) | (ppl > hi))
