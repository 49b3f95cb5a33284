"""DSIR-style data selection: hashed n-gram importance resampling.

Algorithm (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", arXiv:2302.03169): featurize every document as
a bag of hashed word uni+bigrams, fit bucketed unigram models of the
TARGET distribution (the domain you want more of — e.g. held-out
benchmark/wiki-like text) and the RAW distribution (the crawl), score
each raw document with the log importance weight

    log w(x) = Σ_{g ∈ grams(x)}  log p̂_target(bucket(g))
                                − log p̂_raw(bucket(g))

(add-α smoothed over ``n_buckets`` hash buckets), then resample
without replacement via the Gumbel-top-k trick: keep the k documents
maximizing ``log w + Gumbel noise``.

Spark-first shape, 100 TB notes:

- Gram extraction is ONE fused Arrow UDF per pass emitting the
  uni+bigram occurrence list (byte-identical to concatenating
  ``textquality.ngrams_arrow(1)`` and ``(2)``, at one tokenizer
  pass and one JVM↔Python round trip), and the raw-side gram-bucket
  table is persisted so the model fit and the scorer share one pass. Bucketing is a pure-Column
  ``conv(substr(md5(g),1,8),16,10) % B`` — the repo's engine-portable
  hash (operators/sampling.py uses the same), so the DuckDB oracle
  rebuilds identical buckets.
- The two distributions are explode → groupBy(bucket).count():
  map-side partial aggregation means each input partition contributes
  at most B rows to the shuffle, independent of corpus size.
- The log-ratio table is B rows — built plan-side (domain =
  ``spark.range(B)`` so unseen buckets get the smoothed prior) and
  broadcast into the per-document scoring join; totals fold in via a
  one-row cross join, never a driver collect.
- Per-document scoring is ONE shuffle keyed by doc id (groupBy-sum of
  joined log-ratios); the Gumbel draw is a pure function of
  ``md5(id:seed)`` — deterministic across runs, partitionings, and
  cluster sizes — and the k-cut is orderBy+limit, which Spark executes
  as TakeOrderedAndProject (per-partition top-k, no global sort).

Everything is replayed end-to-end by the DuckDB oracles
(``dsir_weights`` / ``dsir_sample`` in __spark_entry__.py): the only
engine-dependent arithmetic is ``ln`` (last-ulp libm differences on
identical integer ratios), absorbed by the +1e-9-then-round-6 rule
(CLAUDE.md rule 2).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import words


DEFAULT_BUCKETS = 4096
_DENOM = 1_000_000


def _doc_grams(text: Column) -> Column:
    """Word unigram + bigram occurrences (duplicates preserved —
    DSIR's features are counts, not sets). ONE Arrow round trip: the
    fused builder emits the concatenated uni+bigram list per doc —
    byte-identical to concat(ngrams_arrow(1), ngrams_arrow(2))
    (same tokens, same order) at half the JVM↔Python traffic and one
    tokenizer pass instead of two."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def uni_bi(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            toks = words(t)
            out.append(toks + [toks[i] + " " + toks[i + 1]
                               for i in range(len(toks) - 1)])
        return pd.Series(out)

    return uni_bi(text)


def _gram_bucket(g: Column, n_buckets: int) -> Column:
    return (F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
            .cast("long") % F.lit(n_buckets))


def hashed_gram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(id, bucket) — one row per gram OCCURRENCE. NULL/short texts
    produce no rows (their weight coalesces to 0 downstream)."""
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(_doc_grams(F.col(text_col))).alias("g"))
            .select("id", _gram_bucket(F.col("g"), n_buckets)
                    .alias("bucket")))


def dsir_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
    raw_buckets: DataFrame | None = None,
) -> DataFrame:
    """(bucket, llr) — the B-row smoothed log-likelihood-ratio table
    ``ln p̂_target(b) − ln p̂_raw(b)``. Buckets never seen on either
    side get the smoothed prior (ratio 0 when totals match).
    ``raw_buckets``: a pre-built (persisted) raw-side gram-bucket
    table, so the scorer can share one gram-extraction pass with the
    model fit instead of re-running the Arrow tokenizer over the whole
    crawl a second time."""
    spark = raw.sparkSession
    tc = (hashed_gram_buckets(target, text_col, id_col, n_buckets)
          .groupBy("bucket").agg(F.count(F.lit(1)).alias("tc")))
    if raw_buckets is None:
        raw_buckets = hashed_gram_buckets(raw, text_col, id_col,
                                          n_buckets)
    rc = raw_buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    dom = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    counts = (dom.join(tc, "bucket", "left").join(rc, "bucket", "left")
              .select("bucket",
                      F.coalesce("tc", F.lit(0)).alias("tc"),
                      F.coalesce("rc", F.lit(0)).alias("rc")))
    totals = counts.agg(F.sum("tc").alias("tt"), F.sum("rc").alias("rt"))
    a, b = float(alpha), float(n_buckets)
    return (counts.crossJoin(totals)
            .select("bucket",
                    (F.log((F.col("tc") + a) / (F.col("tt") + a * b))
                     - F.log((F.col("rc") + a) / (F.col("rt") + a * b)))
                    .alias("llr")))


def dsir_weights(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """(id, logw) — per-raw-document log importance weight: the sum of
    broadcast-joined bucket log-ratios over the document's gram
    occurrences. Documents with no grams (NULL/one-token text) score
    0. One shuffle keyed by id; rounded (+1e-9 first) so partial-sum
    order cannot leak into the value. The raw gram-bucket table is
    persisted and SHARED between the model fit and the scoring join —
    one gram-extraction pass over the crawl, not two."""
    raw_bk = hashed_gram_buckets(raw, text_col, id_col,
                                 n_buckets).cache()
    lam = dsir_log_ratios(target, raw, text_col, id_col, n_buckets,
                          alpha, raw_buckets=raw_bk)
    sums = (raw_bk
            .join(F.broadcast(lam), "bucket")
            .groupBy("id").agg(F.sum("llr").alias("s")))
    return (raw.select(F.col(id_col).alias("id"))
            .join(sums, "id", "left")
            .select("id",
                    F.round(F.coalesce(F.col("s"), F.lit(0.0))
                            + F.lit(1e-9), round_to).alias("logw")))


def _gumbel(id_col: Column, seed: int) -> Column:
    """Deterministic Gumbel(0,1) draw: u from the md5 hash-bucket of
    ``id:seed`` (the engine-portable uniform the samplers use), then
    −ln(−ln(u)). u ∈ (0,1) strictly — the +0.5 offset keeps both log
    arguments finite."""
    u = ((F.conv(F.substring(
        F.md5(F.concat_ws(":", id_col.cast("string"), F.lit(str(seed)))),
        1, 8), 16, 10).cast("long") % F.lit(_DENOM))
        + F.lit(0.5)) / F.lit(float(_DENOM))
    return -F.log(-F.log(u))


def dsir_resample(
    target: DataFrame,
    raw: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Gumbel-top-k importance resample WITHOUT replacement:
    (id, logw, score) for the k raw documents maximizing
    ``logw + Gumbel(md5(id:seed))`` — equivalent in distribution to
    sampling k docs ∝ w(x) without replacement (Vieira 2014), but a
    pure function of (corpus, seed): reruns, repartitions, and cluster
    sizes all select the SAME documents. Ties at the rounded score
    break by id; the cut is TakeOrderedAndProject (no global sort)."""
    raw_bk = hashed_gram_buckets(raw, text_col, id_col,
                                 n_buckets).cache()
    lam = dsir_log_ratios(target, raw, text_col, id_col, n_buckets,
                          alpha, raw_buckets=raw_bk)
    sums = (raw_bk
            .join(F.broadcast(lam), "bucket")
            .groupBy("id").agg(F.sum("llr").alias("s")))
    scored = (raw.select(F.col(id_col).alias("id"))
              .join(sums, "id", "left")
              .select("id", F.coalesce(F.col("s"), F.lit(0.0)).alias("s"))
              .select("id",
                      F.round(F.col("s") + F.lit(1e-9), round_to)
                      .alias("logw"),
                      F.round(F.col("s") + _gumbel(F.col("id"), seed)
                              + F.lit(1e-9), round_to).alias("score")))
    return scored.orderBy(F.desc("score"), "id").limit(k)
