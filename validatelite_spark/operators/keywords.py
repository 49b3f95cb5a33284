"""TF-IDF keyword extraction per source/domain.

Curation reports need "what is this source actually about" — the
standard answer is TF-IDF over domain-aggregated term counts: each
domain is one pseudo-document, ``tf`` its term count, ``idf`` the
smoothed inverse domain frequency (sklearn's ``smooth_idf`` form,
``ln((1+N)/(1+df)) + 1`` — never divides by zero, never negative), and
the report is each domain's top-k terms by tf·idf. Surfaces boilerplate
farms (top terms = template words), topic drift between snapshots
(compose with ``operators/drift.py``), and seed-quality triage.

The reference has no corpus-analysis surface (its rules are row-local;
nearest is the aggregate rule metrics, reference:
core/executors/base_executor.py) — this is a training-data operator.

Scale shape: ONE corpus scan explodes whitespace tokens into a
``groupBy(domain, term).count()`` (map-side partial combine; output is
|domains| × |per-domain vocab| rows — millions, not corpus-sized);
domain frequency is a second tiny aggregate OVER THAT TABLE (already
distinct per (domain, term), so a plain count — no two-shuffle
``countDistinct`` over the corpus); the N-domains scalar stays in-plan
via a broadcast 1-row cross join (no driver collect); top-k is a
window partitioned by domain over the aggregated table — skew bounded
by vocab size, never by document count. Ranking uses the ROUNDED
tf·idf (6 dp, +1e-9 — CLAUDE.md rule 2) with a term-asc tie-break so
rank order is reproducible in any engine despite last-ulp ``ln``
differences between libms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import tokens


def domain_term_counts(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """(domain, term, tf) over ``textquality.tokens`` — the one
    corpus-wide pass (same tokenization as functions/bpe.py
    word_frequencies)."""
    return (df.select(F.col(by).alias("domain"),
                      F.explode(tokens(F.col(text_col))).alias("term"))
            .groupBy("domain", "term")
            .agg(F.count(F.lit(1)).alias("tf")))


def domain_top_terms(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    top_k: int = 5,
    min_df: int = 1,
    stopwords=None,
    round_to: int = 6,
) -> DataFrame:
    """Top-``top_k`` terms per domain by smoothed TF-IDF:
    (domain, term, tf, tfidf). ``min_df`` drops terms seen in fewer
    than that many domains (hapax noise); ``stopwords`` is an optional
    literal list filtered BEFORE counting (tiny — in-predicate, no
    join).

    The (domain, term, tf) table feeds THREE consumers (domain
    frequency, the N-domains scalar, and the scoring join) and AQE
    does NOT reuse the exchange across them — unpersisted, the
    corpus-wide explode+aggregate runs three times (measured). The
    vocab-sized table is cached once instead."""
    tf = domain_term_counts(df, text_col, by)
    if stopwords:
        tf = tf.filter(~F.col("term").isin(list(stopwords)))
    tf = tf.cache()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    nd = tf.agg(F.count_distinct("domain").alias("__n"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(nd))
              .withColumn(
                  "tfidf",
                  F.round(F.col("tf") * (F.log((1.0 + F.col("__n"))
                                               / (1.0 + F.col("df")))
                                         + F.lit(1.0)) + 1e-9, round_to)))
    w = (Window.partitionBy("domain")
         .orderBy(F.desc("tfidf"), F.asc("term")))
    return (scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= top_k)
            .select("domain", "term", "tf", "tfidf"))


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 10_000,
    round_to: int = 6,
) -> DataFrame:
    """Tokenizer-prep coverage curve: the corpus' ``top_k`` most
    frequent terms ranked by (count DESC, term ASC) with each rank's
    CUMULATIVE fraction of ALL corpus tokens —
    ``(rank, term, n, cum_fraction)``. Answers "how many vocabulary
    entries cover 95% of tokens", the sizing question every
    tokenizer-training run starts with; the tail beyond ``top_k`` still
    counts in the denominator, so cum_fraction is absolute, not
    relative to the head.

    Scale shape: term frequencies are ONE map-side-combinable
    ``groupBy(term).count()`` over the exploded corpus (output is
    vocab-sized, not corpus-sized); the total-token scalar stays
    in-plan via a broadcast 1-row cross join (no driver collect, same
    idiom as the tf·idf N above); the head is a
    ``TakeOrderedAndProject`` top-k, and the only window runs over
    those ≤ ``top_k`` rows — bounded by construction, never by corpus
    or vocab size. Deterministic at any partitioning: the (count DESC,
    term ASC) order is total."""
    tf = (df.select(F.explode(tokens(F.col(text_col))).alias("term"))
          .groupBy("term").count()
          .withColumnRenamed("count", "n"))
    total = tf.agg(F.sum("n").alias("__tot"))
    order = [F.col("n").desc(), F.col("term").asc()]
    top = tf.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (top.crossJoin(F.broadcast(total))
            .select(F.row_number().over(Window.orderBy(*order))
                    .alias("rank"),
                    "term", "n",
                    F.round(F.sum("n").over(w) / F.col("__tot")
                            + F.lit(1e-9), round_to)
                    .alias("cum_fraction")))
