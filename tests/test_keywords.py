"""TF-IDF domain keyword extraction (operators/keywords.py) vs an
independent pure-Python reference (sklearn smooth_idf formula)."""

import math
from collections import Counter, defaultdict

import pytest


def ref_top_terms(rows, k, min_df=1, stopwords=()):
    tf = defaultdict(Counter)
    for dom, text in rows:
        if text is None:
            continue
        for w in text.lower().split():
            if w and w not in stopwords:
                tf[dom][w] += 1
    dfreq = Counter()
    for dom in tf:
        for w in tf[dom]:
            dfreq[w] += 1
    n = len(tf)
    out = {}
    for dom in tf:
        scored = []
        for w, c in tf[dom].items():
            if dfreq[w] < min_df:
                continue
            s = round(c * (math.log((1 + n) / (1 + dfreq[w])) + 1)
                      + 1e-9, 6)
            scored.append((w, c, s))
        scored.sort(key=lambda t: (-t[2], t[0]))
        out[dom] = scored[:k]
    return out


ROWS = [
    ("a.com", "spark spark parquet shuffle join join join"),
    ("a.com", "parquet shuffle the the the"),
    ("b.com", "cats cats dogs the the"),
    ("b.com", "dogs dogs birds the"),
    ("c.com", "the quick brown fox the lazy dog"),
    ("c.com", None),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(ROWS, "source string, text string")


class TestDomainTopTerms:
    def test_matches_reference(self, spark, corpus):
        from validatelite_spark.operators.keywords import domain_top_terms
        got = defaultdict(list)
        out = domain_top_terms(corpus, top_k=3).collect()
        for r in sorted(out, key=lambda r: (r["domain"], -r["tfidf"],
                                            r["term"])):
            got[r["domain"]].append((r["term"], r["tf"],
                                     round(r["tfidf"], 6)))
        assert dict(got) == ref_top_terms(ROWS, 3)

    def test_stopwords_and_min_df(self, spark, corpus):
        from validatelite_spark.operators.keywords import domain_top_terms
        out = domain_top_terms(corpus, top_k=10, stopwords=["the"],
                              min_df=2).collect()
        terms = {r["term"] for r in out}
        assert "the" not in terms
        # min_df=2: only terms in >= 2 domains survive
        ref = ref_top_terms(ROWS, 10, min_df=2, stopwords=("the",))
        assert terms == {w for v in ref.values() for (w, _, _) in v}

    def test_tf_table_cached_for_all_three_consumers(self, spark,
                                                     corpus):
        # the (domain, term, tf) table feeds dfreq + the N-domains
        # scalar + the scoring join; AQE does NOT reuse that exchange,
        # so it must come from the persisted table in all three places
        # (the corpus explode runs once, not three times)
        from validatelite_spark.operators.keywords import domain_top_terms
        df = domain_top_terms(corpus)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 3

    def test_rank_ties_deterministic(self, spark):
        from validatelite_spark.operators.keywords import domain_top_terms
        df = spark.createDataFrame(
            [("d", "aa bb aa bb cc")], "source string, text string")
        out = [r["term"] for r in domain_top_terms(df, top_k=2).collect()]
        # aa and bb tie on tf and df -> identical tfidf -> term asc
        assert out == ["aa", "bb"]


class TestVocabCoverage:
    def test_curve(self, spark):
        from validatelite_spark.operators.keywords import vocab_coverage
        df = spark.createDataFrame(
            [("a a a b b c",), ("a b x",), (None,), ("",)],
            "text string")
        # counts: a=4 b=3 x=1 c=1 (ties c<x alphabetically), total 9
        got = [(r.rank, r.term, r.n, r.cum_fraction)
               for r in vocab_coverage(df, top_k=3).collect()]
        assert got == [
            (1, "a", 4, round(4 / 9 + 1e-9, 6)),
            (2, "b", 3, round(7 / 9 + 1e-9, 6)),
            (3, "c", 1, round(8 / 9 + 1e-9, 6)),  # tail 'x' still in denom
        ]

    def test_full_coverage_reaches_one(self, spark):
        from validatelite_spark.operators.keywords import vocab_coverage
        df = spark.createDataFrame([("p q r",)], "text string")
        rows = vocab_coverage(df).collect()
        assert rows[-1].cum_fraction == 1.0
        assert [r.rank for r in rows] == [1, 2, 3]
