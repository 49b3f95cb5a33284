"""ExactSubstr family (operators/substrings.py): planted-duplicate
semantics, keep-first scrub policy, span merging, and the positional
gram table against ``word_ngrams`` — independent of the synthetic
testdata corpus."""

import pytest

from validatelite_spark.functions.textquality import word_ngrams
from validatelite_spark.operators.substrings import (
    duplicate_spans,
    exact_substring_pairs,
    positional_grams,
    substring_scrub,
)

RUN = ("alpha bravo charlie delta echo foxtrot golf hotel india "
       "juliett kilo lima")  # 12 words, shared verbatim

DOCS = [
    # doc 1: the run at word positions 3..14
    (1, "one two " + RUN + " tail one tail two tail three tail four"),
    # doc 2: the same run at word positions 1..12 (different offset →
    # a non-zero alignment diagonal)
    (2, RUN + " something entirely different follows here now okay"),
    # doc 3: no overlap with anything
    (3, "completely unrelated words that never repeat anywhere in "
        "this tiny corpus of documents at all honestly"),
    # doc 4: full duplicate of doc 2's text (also contains the run)
    (4, RUN + " something entirely different follows here now okay"),
    (5, None),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_pairs_planted(docs):
    rows = {(r.id1, r.id2): (r.overlap_words, r.n_runs)
            for r in exact_substring_pairs(
                docs, n=4, min_words=10).collect()}
    # doc1/doc2 share exactly the 12-word run; doc2/doc4 are full dups
    # (19 words); doc1/doc4 share the run like doc1/doc2
    assert rows[(1, 2)] == (12, 1)
    assert rows[(1, 4)] == (12, 1)
    assert rows[(2, 4)] == (19, 1)
    assert not any(3 in p or 5 in p for p in rows)


def test_run_length_exact(docs):
    # seed resolution: any n <= run length recovers the EXACT length
    for n in (3, 5, 8):
        rows = {(r.id1, r.id2): r.overlap_words
                for r in exact_substring_pairs(
                    docs, n=n, min_words=12).collect()}
        assert rows[(1, 2)] == 12, f"n={n}"


def test_spans_keep_first(docs):
    spans = {(r.k, r.start, r.end)
             for r in duplicate_spans(docs, n=4, min_words=10).collect()}
    # doc 1 keeps everything (it is id1 in every qualifying pair);
    # doc 2 loses the run copied from doc 1 (words 1..12); doc 4 loses
    # its full 19 words (dup of doc 2, and the run vs doc 1)
    assert (2, 1, 12) in spans
    assert (4, 1, 19) in spans
    assert not any(k == 1 for k, _, _ in spans)


def test_scrub_cuts_later_doc(docs):
    out = {r.doc_id: (r.scrubbed_text, r.words_cut)
           for r in substring_scrub(docs, n=4, min_words=10).collect()}
    assert out[1][1] == 0  # earliest doc: untouched
    assert out[2] == ("something entirely different follows here now okay",
                      12)
    assert out[4] == ("", 19)  # full duplicate: fully cut
    assert out[3][1] == 0
    assert out[5] == (None, 0)
    # untouched docs come back token-normalized (lowercased/single-space)
    assert out[3][0] == DOCS[2][1].lower()


def test_span_merge_overlapping(spark):
    # two runs against two different earlier docs overlap inside doc 30
    # → ONE merged span, each word cut once
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    mid = "w6 w7 w8 w9 w10 x1 x2 x3 x4 x5"
    df = spark.createDataFrame(
        [(10, base), (20, mid), (30, base + " x1 x2 x3 x4 x5 done")],
        "doc_id long, text string")
    spans = [(r.k, r.start, r.end)
             for r in duplicate_spans(df, n=3, min_words=5).collect()]
    assert (30, 1, 15) in spans  # 1..10 (vs 10) + 6..15 (vs 20) merged
    out = {r.doc_id: r.words_cut
           for r in substring_scrub(df, n=3, min_words=5).collect()}
    assert out[30] == 15


def test_positional_grams_match_word_ngrams(docs, edge_ws_docs,
                                            edge_ws_texts):
    docs = docs.unionByName(edge_ws_docs)
    got = set(map(tuple, positional_grams(docs, n=4).collect()))
    rows = DOCS + [(9001 + i, t) for i, t in enumerate(edge_ws_texts)]
    want = {(k, pos, g) for k, t in rows if t is not None
            for pos, g in enumerate(word_ngrams(t, 4), 1)}
    assert got == want and got


@pytest.mark.parametrize("tail1, want", [
    # doc 1 also has "tail" after the shared words: a 21-word run
    ("tail one", ("zeta eta theta two", 21)),
    ("end one", ("zeta eta theta tail two", 20)),
])
def test_scrub_cuts_the_right_words_after_edge_whitespace(spark, tail1,
                                                          want):
    # the span positions come from the Arrow gram kernel and are cut
    # out of the Column token sequence: a leading newline must not
    # shift one against the other
    shared = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, "alpha beta gamma " + shared + " " + tail1),
         (2, "\nzeta eta theta " + shared + " tail two"),
         (3, "nothing in common with the others")],
        "doc_id long, text string")
    out = {r.doc_id: (r.scrubbed_text, r.words_cut)
           for r in substring_scrub(df, n=8, min_words=15).collect()}
    assert out[2] == want
    assert out[1][1] == 0 and out[3][1] == 0
