"""Repetition signals + benchmark decontamination.

No reference counterpart (the reference's closest surface is rule-metric
aggregation, core/engine/rule_engine.py); semantics follow the public
Gopher repetition heuristics (Rae et al. 2021 A1.1) and the GPT-3
appendix-C n-gram decontamination rule.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import ngrams, ngrams_arrow
from validatelite_spark.operators.repetition import (
    contaminated_docs,
    dup_ngram_fraction,
    dup_ngram_fraction_arrow,
    repetition_signals,
)


def test_repetition_signals_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"),        # trigrams: aba bab aba bab
         (2, "one two three four"), # all distinct
         (3, "x y")],               # < 3 tokens → no row
        ["doc_id", "text"])
    rows = {r.doc_id: r for r in repetition_signals(df, n=3).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_ngrams == 4
    assert rows[1].dup_ngram_frac == 0.5
    assert rows[1].top_ngram_frac == 0.5
    assert rows[2].dup_ngram_frac == 0.0
    assert rows[2].top_ngram_frac == 0.5  # 1/2 occurrences


def test_ngrams_all_column_vs_arrow_parity(spark, sf_dir, edge_ws_docs):
    df = (spark.read.parquet(f"{sf_dir}/documents.parquet")
          .select("doc_id", "text").limit(50).unionByName(edge_ws_docs))
    a = df.select("doc_id", ngrams(F.col("text"), 3).alias("ng"))
    b = df.select("doc_id", ngrams_arrow(3)(F.col("text")).alias("ng"))
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_contaminated_docs_plants_hit(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(1, "x beta gamma delta epsilon y"),  # shares one 4-gram
         (2, "totally unrelated clean words here")],
        ["doc_id", "text"])
    out = contaminated_docs(docs, bench, n=4).collect()
    assert len(out) == 1
    (hit,) = out
    assert hit.doc_id == 1 and hit.hit_ngrams == 1
    assert hit.overlap_frac == round(1 / 3 + 1e-9, 6)


def test_dup_fraction_column_vs_arrow_parity(spark, sf_dir, edge_ws_docs):
    df = (spark.read.parquet(f"{sf_dir}/documents.parquet")
          .select("doc_id", "text").limit(100).unionByName(edge_ws_docs))
    rows = df.select(
        dup_ngram_fraction(F.col("text"), 3).alias("a"),
        dup_ngram_fraction_arrow(3)(F.col("text")).alias("b")).collect()
    assert rows and all(r.a == r.b for r in rows)


def test_repetition_rule_through_engine(spark):
    """REPETITION is registered-only (no RuleType member) and must flow
    through Rule validation → registry dispatch → merged agg, with
    NULL-text counted as failed (completeness semantics)."""
    from validatelite_spark.core.rules import Rule
    from validatelite_spark.operators.engine import RuleEngine

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),   # dup trigram frac 3/4
         (2, "all words here are different ok"),
         (3, None)],
        ["doc_id", "text"])
    (res,) = RuleEngine(spark).execute(
        df, [Rule("REPETITION", "text",
                  {"n": 3, "max_dup_ngram_frac": 0.2})])
    assert res.status.value == "FAILED"
    assert (res.total_records, res.failed_records) == (3, 2)
    assert res.execution_plan["execution_type"] == "merged_agg"


def test_contaminated_docs_broadcasts_benchmark(spark, sf_dir):
    """The benchmark n-gram set must be broadcast — the corpus side is
    the 100 TB side and must not shuffle its exploded n-grams."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    is_bench = F.substring(
        F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    plan = (contaminated_docs(df.filter(~is_bench), df.filter(is_bench),
                              n=4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_contaminated_docs_size_gated_shuffle_branch(spark, sf_dir,
                                                     monkeypatch):
    """Over-threshold benchmarks must NOT broadcast (VERDICT r2 #4: the
    corpus-vs-corpus configuration would broadcast ~TBs at scale).
    Above ``BROADCAST_NGRAM_THRESHOLD`` distinct n-grams the join falls
    back to a shuffled sort-merge join — and the results are identical
    to the broadcast branch."""
    from validatelite_spark.operators import repetition

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    is_bench = F.substring(
        F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    docs, bench = df.filter(~is_bench), df.filter(is_bench)

    bcast = contaminated_docs(docs, bench, n=4)
    # a 1-n-gram threshold must pick the shuffled branch
    monkeypatch.setattr(repetition, "BROADCAST_NGRAM_THRESHOLD", 1)
    shuffled = contaminated_docs(docs, bench, n=4)
    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastExchange" not in plan
    assert "BroadcastExchange" in \
        bcast._jdf.queryExecution().executedPlan().toString()

    a = sorted(map(tuple, bcast.collect()))
    b = sorted(map(tuple, shuffled.collect()))
    assert a == b


def test_top_ngrams_boilerplate_mining(spark):
    from validatelite_spark.operators.repetition import top_ngrams
    rows = [(i, f"click here to subscribe now plus unique{i} tail{i}")
            for i in range(6)]
    rows += [(100, "totally different text with no repeats at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = top_ngrams(df, "text", "doc_id", n=3, k=3).collect()
    # boilerplate trigrams shared by the 6 planted docs dominate
    assert out[0]["ngram"] == "click here to"
    assert out[0]["n_docs"] == 6 and out[0]["occurrences"] == 6
    assert all(r["n_docs"] >= 2 for r in out)
    plan_df = top_ngrams(df, "text", "doc_id", n=3, k=3)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


class TestContaminationProvenance:
    def test_pairs_and_counts(self, spark):
        from validatelite_spark.operators.repetition import (
            contamination_provenance)
        bench = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon"),
             (200, "one two three four five six")],
            "doc_id long, text string")
        docs = spark.createDataFrame(
            # doc 1 copies bench 100's 5-gram span (shares 2 distinct
            # 4-grams); doc 2 shares one 4-gram with bench 200;
            # doc 3 clean
            [(1, "alpha beta gamma delta epsilon zeta"),
             (2, "zero one two three four nope nope nope"),
             (3, "totally unrelated words with no overlap here")],
            "doc_id long, text string")
        got = {(r.doc_id, r.bench_id): r.hit_ngrams
               for r in contamination_provenance(
                   docs, bench, n=4).collect()}
        assert got == {(1, 100): 2, (2, 200): 1}

    def test_min_hits(self, spark):
        from validatelite_spark.operators.repetition import (
            contamination_provenance)
        bench = spark.createDataFrame(
            [(9, "a b c d e")], "doc_id long, text string")
        docs = spark.createDataFrame(
            [(1, "a b c d x")], "doc_id long, text string")
        assert contamination_provenance(
            docs, bench, n=4, min_hits=2).count() == 0
        assert contamination_provenance(
            docs, bench, n=4, min_hits=1).count() == 1
