"""The Arrow kernels of the planner's one pass against their references.

LANG_ID (``textquality.lang_id_array``) and PERPLEXITY
(``perplexity.perplexity_array``) are compared with the pandas kernels
they replaced, kept below as test-local references: the language must
be equal on every row, the perplexity equal bit for bit. The PII hit and
scrub (``functions/pii.py``) run on RE2, so their oracle is DuckDB (RE2
too), compared on non-ASCII rows where Python ``re`` reads ``\\b``
differently. Pure Python — no Spark session."""

from __future__ import annotations

import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from validatelite_spark.functions import perplexity as ppl
from validatelite_spark.functions.perplexity import perplexity_array
from validatelite_spark.functions.pii import (_ANY_PATTERN, PII_PATTERNS,
                                              TOXIC_PATTERN, duckdb_scrub_sql,
                                              hit_array, scrub_array)
from validatelite_spark.functions.textquality import (LANG_MARKERS,
                                                      LANG_PRIORITY,
                                                      lang_id_array, words)

#: NULL, empty, U+00A0, the two code points ``str.lower`` maps into
#: ASCII (U+0130, U+212A), combining marks, CJK and 4-byte emoji, next
#: to marker words they could turn into (or out of) a match
UNICODE_TEXTS = [
    None, "", " ", "\u00a0", "x", "the",
    "the\u00a0and of", "\u00a0the and\u00a0",
    "\u0130s the \u0130S THE is", "\u0130", "a\u0130b", "\u0130\u0130 of",
    "\u212a", "\u212aand the \u212a", "THE \u212a\u212a OF",
    "e\u0301 the cafe\u0301 and", "the\u0301 and\u0308 of",
    "中文 the 中 and", "一鿿㐀 der die",
    "一 the and 鿿", "der die the and", "le le the",
    "\U0001f600 the \U0001f600 and \U0001f600\U0001f600",
    "the\U0001f600 and", "Σ THE AND ΣΑΣ",
    "The AND\x0bof\x0cis\rthat\twith", "  the   and  ", "\n\n",
    "ends in a combining mark\u0301", "\U00010348\U00010348 \u212a",
]


def ref_lang_ids(texts: list) -> list[str]:
    """The per-row Python LANG_ID kernel the Arrow one replaced."""
    word_lang = {w: lg for lg, ws in LANG_MARKERS.items() for w in ws}
    out = []
    for t in texts:
        if t is None:
            out.append("und")
            continue
        scores = dict.fromkeys(LANG_PRIORITY, 0)
        for tok in words(t):
            lg = word_lang.get(tok)
            if lg is not None:
                scores[lg] += 1
        scores["zh"] = sum("一" <= ch <= "鿿" for ch in t)
        best = max(scores.values())
        out.append("und" if best <= 0 else
                   next(lg for lg in LANG_PRIORITY if scores[lg] == best))
    return out


def ref_perplexity(texts: list) -> np.ndarray:
    """The pandas PERPLEXITY kernel the Arrow one replaced: one
    ``lower().encode("ascii", "replace")`` per doc."""
    vals = pd.Series(texts, dtype="object")
    out = np.full(len(vals), ppl.MAX_PPL, dtype=np.float64)
    notna = vals.notna().to_numpy()
    enc = [t.lower().encode("ascii", "replace") for t in vals[notna]]
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64,
                       count=len(enc))
    if not enc or lens.sum() == 0:
        return out
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    doc_idx = np.repeat(np.arange(len(enc), dtype=np.int32), lens)
    codes = ppl._BYTE_CODE_LUT[buf]
    if codes.size > 1:
        keep = np.empty(codes.size, dtype=bool)
        keep[0] = True
        np.logical_not((codes[1:] == 26) & (codes[:-1] == 26)
                       & (doc_idx[1:] == doc_idx[:-1]), out=keep[1:])
        codes, doc_idx = codes[keep], doc_idx[keep]
    if codes.size > 1:
        same_doc = doc_idx[:-1] == doc_idx[1:]
        pair_doc = doc_idx[:-1][same_doc]
        pair_lp = ppl._LOGPROBS[codes[:-1][same_doc], codes[1:][same_doc]]
        sums = np.bincount(pair_doc, weights=pair_lp, minlength=len(enc))
        counts = np.bincount(pair_doc, minlength=len(enc))
        out[notna] = np.where(
            counts > 0, np.power(2.0, -(sums / np.maximum(counts, 1))),
            ppl.MAX_PPL)
    return out


@pytest.fixture(scope="module")
def corpus(sf_dir, edge_ws_texts) -> list:
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["text"])["text"].to_pylist()
    return [*edge_ws_texts, *UNICODE_TEXTS, *docs]


def _batches(texts: list):
    """The whole list as one array, and a sliced view (non-zero Arrow
    offset) of it."""
    arr = pa.array(texts, pa.string())
    yield texts, arr
    yield texts[3:-2], arr.slice(3, len(texts) - 5)


class TestLangId:
    def test_equals_python_kernel(self, corpus):
        for texts, arr in _batches(corpus):
            assert lang_id_array(arr).to_pylist() == ref_lang_ids(texts)

    @pytest.mark.parametrize("text", UNICODE_TEXTS)
    def test_unicode_row(self, text):
        assert lang_id_array(pa.array([text], pa.string())).to_pylist() \
            == ref_lang_ids([text])

    def test_dotted_capital_i_is_no_marker(self):
        # utf8_lower maps U+0130 to a bare "i" (three "is": en);
        # str.lower maps it to "i" + U+0307, no marker
        assert ref_lang_ids(["\u0130s \u0130s \u0130s der"]) == ["de"]
        assert lang_id_array(pa.array(["\u0130s \u0130s \u0130s der"])
                             ).to_pylist() == ["de"]


class TestPerplexity:
    def test_bit_equal_to_pandas_kernel(self, corpus):
        for texts, arr in _batches(corpus):
            got, want = perplexity_array(arr), ref_perplexity(texts)
            assert got.tobytes() == want.tobytes()

    @pytest.mark.parametrize("text", UNICODE_TEXTS)
    def test_unicode_row(self, text):
        got = perplexity_array(pa.array([text], pa.string()))
        assert got.tobytes() == ref_perplexity([text]).tobytes()

    def test_nulls_and_empty_score_max(self):
        got = perplexity_array(pa.array([None, "", "x", None], pa.string()))
        assert (got == ppl.MAX_PPL).all()


#: rows where RE2's ASCII ``\b`` and Python ``re``'s Unicode one part
#: ways, beside case folding (U+017F folds to s in both) and ASCII rows
ADVERSARIAL = [
    "é123-45-6789", "badwordé", "ébadword", "cur\u017feword",
    "\u01c5badword", "call 555.123.4567é", "1.2.3.4é", "é1.2.3.4",
    "badword\u0130", "中123-45-6789中", "curseword\u0301", "١٢٣-45-6789",
    "123-45-6789\u00a0", "ssn 123-45-6789_", "badword😀", "😀badword",
    "x@é.com", "a.b@ex.ample", "BadWord", "ＢＡＤＷＯＲＤ", "sLurword",
    "\u212a badword \u212a", None, "",
]


def _re_scrub(text: str) -> str:
    for _name, pat, repl in PII_PATTERNS:
        text = re.sub(pat, repl, text)
    return re.sub(TOXIC_PATTERN, "<TOXIC>", text, flags=re.IGNORECASE)


class TestScrubEngineIsRe2:
    @pytest.fixture(scope="class")
    def duck(self):
        con = duckdb.connect()
        rows = pa.table({"t": pa.array(ADVERSARIAL, pa.string())})
        con.register("rows", rows)
        hit = _ANY_PATTERN.replace("'", "''")
        return con.sql(
            f"SELECT coalesce(regexp_matches(t, '{hit}'), false), "
            f"{duckdb_scrub_sql('t')} FROM rows").fetchall()

    def test_hit_equals_duckdb(self, duck):
        hits = hit_array(pa.array(ADVERSARIAL, pa.string()))
        assert hits.tolist() == [h for h, _s in duck]

    def test_scrub_equals_duckdb(self, duck):
        got = scrub_array(pa.array(ADVERSARIAL, pa.string())).to_pylist()
        assert got == [s for _h, s in duck]

    def test_re_differs_only_off_ascii(self):
        got = scrub_array(pa.array(ADVERSARIAL, pa.string())).to_pylist()
        differ = {t for t, s in zip(ADVERSARIAL, got)
                  if t is not None and _re_scrub(t) != s}
        assert "é123-45-6789" in differ and "badwordé" in differ
        assert got[0] == "é<SSN>"
        assert all(not t.isascii() for t in differ)
