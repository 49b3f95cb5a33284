"""Winnowing fingerprints (operators/winnowing.py) vs an independent
pure-Python implementation of the Schleimer et al. algorithm, plus the
local-overlap matching guarantee and pair candidacy."""

import hashlib
import re

import pytest


def h32(gram: str) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16)


def ref_winnow(text, n=2, window=4):
    # words are runs of non-Java-\s characters (str.split() would also
    # split on U+00A0 and other Unicode spaces)
    toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text.lower()) if t]
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    if not grams:
        return set()
    hs = [h32(g) for g in grams]
    sel = set()
    last = max(len(hs) - window, 0)
    for p in range(last + 1):
        win = hs[p:p + window]
        m = min(win)
        # rightmost occurrence of the min in this window
        ri = max(i for i, v in enumerate(win) if v == m)
        sel.add((m, p + ri))
    return sel


TEXTS = {
    1: "the quick brown fox jumps over the lazy dog and then "
       "runs far away into the deep dark woods tonight",
    2: "an entirely different start then the quick brown fox jumps "
       "over the lazy dog appears in the middle of this one",
    3: "no overlap with anything else at all in this short doc",
    4: "tiny doc",
}


@pytest.fixture(scope="module")
def texts(edge_ws_texts):
    return {**TEXTS, **{10 + i: t for i, t in enumerate(edge_ws_texts)}}


@pytest.fixture(scope="module")
def docs(spark, texts):
    return spark.createDataFrame(
        list(texts.items()), "doc_id long, text string")


class TestFingerprints:
    @pytest.mark.parametrize("arrow", [True, False])
    def test_matches_reference(self, spark, docs, texts, arrow):
        from validatelite_spark.operators.winnowing import \
            winnow_fingerprints
        got = {}
        for r in winnow_fingerprints(docs, arrow=arrow).collect():
            got.setdefault(r["k"], set()).add((r["fp"], r["pos"]))
        want = {k: ref_winnow(t) for k, t in texts.items() if ref_winnow(t)}
        assert got == want

    def test_short_doc_selects_one(self, spark):
        from validatelite_spark.operators.winnowing import \
            winnow_fingerprints
        df = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
        out = winnow_fingerprints(df).collect()
        assert len(out) == 1  # one gram, one truncated window

    def test_matching_guarantee(self, spark, docs):
        # docs 1 and 2 share a run of 9 tokens >= window + n - 1 = 5
        # -> at least one shared fingerprint is GUARANTEED
        from validatelite_spark.operators.winnowing import \
            winnow_fingerprints
        by = {}
        for r in winnow_fingerprints(docs).collect():
            by.setdefault(r["k"], set()).add(r["fp"])
        assert by[1] & by[2]
        assert not (by[1] & by[3])

    def test_bad_args(self, spark, docs):
        from validatelite_spark.operators.winnowing import \
            winnow_fingerprints
        with pytest.raises(ValueError):
            winnow_fingerprints(docs, window=0)


class TestPairs:
    @pytest.mark.parametrize("key_type", ["long", "string"])
    def test_shared_counts(self, spark, key_type):
        """Long keys take the packed-key count, string keys the
        two-column one; both must match the reference."""
        from validatelite_spark.operators.winnowing import winnow_pairs
        key = int if key_type == "long" else str
        docs = spark.createDataFrame(
            [(key(k), t) for k, t in TEXTS.items()],
            f"doc_id {key_type}, text string")
        ref = {key(k): {f for f, _ in ref_winnow(t)}
               for k, t in TEXTS.items()}
        want = {}
        ids = sorted(ref)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                s = len(ref[a] & ref[b])
                if s >= 1:
                    want[(a, b)] = s
        got = {(r["id1"], r["id2"]): r["shared"]
               for r in winnow_pairs(docs, min_shared=1).collect()}
        assert got == want and (key(1), key(2)) in got
