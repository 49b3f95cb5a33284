"""BPE training/encoding (functions/bpe.py) vs an independent
pure-Python Sennrich-style reference: exact merge-sequence equality,
regex merge edge cases (overlaps, regex metachars), encoder parity
and reconstruction."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from validatelite_spark.functions.bpe import (
    EOW,
    apply_merge,
    bpe_encode,
    pair_counts,
    train_bpe,
    word_frequencies,
)


def ref_train(texts, n, lowercase=True, min_count=1):
    """Independent reference: list-of-symbols vocab, left-to-right
    non-overlapping merges, (count desc, pair-string asc) argmax."""
    wf = Counter()
    for t in texts:
        wf.update((t.lower() if lowercase else t).split())
    vocab = {w: (list(w) + [EOW], f) for w, f in wf.items()}
    merges = []
    for _ in range(n):
        pc = Counter()
        for syms, f in vocab.values():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (left, right), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        if cnt < min_count:
            break
        merges.append((left, right, cnt))
        for w, (syms, f) in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == left
                        and syms[i + 1] == right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = (out, f)
    return merges


TEXTS = ["the cat sat on the mat",
         "the dog sat on the log",
         "a cat and a dog and a rat",
         "low lower lowest slow slowly",
         "the the the cat cat dog"]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame([(t,) for t in TEXTS], "text string")


class TestTrain:
    def test_merges_match_reference(self, spark, corpus):
        got = train_bpe(corpus, "text", 15)
        assert got == ref_train(TEXTS, 15)

    def test_checkpoint_interval_invariance(self, spark, corpus):
        a = train_bpe(corpus, "text", 10, checkpoint_every=2)
        b = train_bpe(corpus, "text", 10, checkpoint_every=100)
        assert a == b

    def test_min_count_stops_early(self, spark, corpus):
        got = train_bpe(corpus, "text", 500, min_count=3)
        assert all(c >= 3 for _, _, c in got)
        assert got == ref_train(TEXTS, 500, min_count=3)

    def test_regex_metachars_in_symbols(self, spark):
        texts = ["a.b a.b a.b (x) (x) $y $y"]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        assert train_bpe(df, "text", 8) == ref_train(texts, 8)

    def test_overlapping_runs_merge_left_to_right(self, spark):
        # 'aaaa' with merge (a,a): left-to-right gives 'aa aa', never
        # the overlapping 'a aa a'
        texts = ["aaaa aaaa aaaa"]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        assert train_bpe(df, "text", 3) == ref_train(texts, 3)

    def test_apply_merge_boundaries(self, spark):
        w = spark.createDataFrame(
            [("xll", 1)], "word string, freq long") \
            .withColumn("seq", F.lit("x l l " + EOW))
        out = apply_merge(w, "l", "l").first()["seq"]
        assert out == "x ll " + EOW
        # no cross-boundary merge: 'll x' is not 'l l'
        w2 = w.withColumn("seq", F.lit("ll l " + EOW))
        assert apply_merge(w2, "l", "l").first()["seq"] \
            == "ll l " + EOW


class TestEncode:
    def test_reconstruction_and_priority(self, spark, corpus):
        merges = train_bpe(corpus, "text", 12)
        out = corpus.select(
            "text", bpe_encode(F.col("text"), merges).alias("toks")
        ).collect()
        for r in out:
            joined = "".join(r["toks"]).replace(EOW, " ").strip()
            assert joined == " ".join(r["text"].lower().split())

    def test_unmerged_text_is_chars(self, spark):
        df = spark.createDataFrame([("zq",)], "text string")
        (r,) = df.select(bpe_encode(F.col("text"), [])
                         .alias("t")).collect()
        assert r["t"] == ["z", "q", EOW]

    def test_word_boundaries_match_training(self, spark):
        # encoding must split text into exactly the words training
        # counted: U+00A0 is not a separator, edge \n/\r are
        df = spark.createDataFrame(
            [("ab\u00a0cd ab\u00a0cd",), ("\nx y\r\n",)], "text string")
        trained = {r["word"] for r in
                   word_frequencies(df, "text").collect()}
        encoded = set()
        for r in df.select(bpe_encode(F.col("text"), [])
                           .alias("t")).collect():
            encoded.update("".join(r["t"]).split(EOW)[:-1])
        assert encoded == trained == {"ab\u00a0cd", "x", "y"}

    def test_null_text(self, spark):
        df = spark.createDataFrame([(None,)], "text string")
        (r,) = df.select(bpe_encode(F.col("text"), [])
                         .alias("t")).collect()
        assert r["t"] is None


class TestPairCounts:
    def test_initial_counts_match(self, spark, corpus):
        wf = word_frequencies(corpus, "text")
        got = {r["pair"]: r["cnt"]
               for r in pair_counts(wf).collect()}
        ref = Counter()
        for t in TEXTS:
            for w, f in Counter(t.lower().split()).items():
                syms = list(w) + [EOW]
                for i in range(len(syms) - 1):
                    ref[f"{syms[i]} {syms[i+1]}"] += f
        assert got == dict(ref)
