"""Exact-substring overlap detection and scrubbing (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better" — the
ExactSubstr side of that paper, complementing the NearDup/MinHash side
in ``operators/dedup.py``).

The paper's formulation — one corpus-wide suffix array over a flat
byte concatenation — is inherently single-machine. The distributed
re-expression here recovers the same maximal-run answer from local
seeds: hash every word n-gram AT ITS POSITION, match seeds across
documents, and merge seeds that sit on the same alignment diagonal.
Any shared word run of length L >= n between two documents produces
exactly L - n + 1 consecutive seed matches on one (id1, id2, p1 - p2)
diagonal, so the run length is recovered *exactly* as
``island_seed_count + n - 1`` — no approximation for runs >= n; runs
shorter than n words are invisible by construction (that is the
resolution knob, equivalent to the paper's 50-token threshold).

Scale shape (100 TB):
- the positional-gram table is one row per corpus WORD (linear, the
  same order as the shingle explode the MinHash path already stages);
- seed matching is ``dedup._cooccurrence`` over (gram, (doc, pos))
  occurrences, the primitive the n-gram pair metrics use: hot grams
  (boilerplate sentences shared by millions of pages) are dropped at
  ``df_cap`` occurrences exactly like ``DEFAULT_DF_CAP`` stop-shingles
  — a gram over the cap contributes O(df²) seed pairs and zero dedup
  signal (logged, never silent) — and a capped gram's pair set streams
  through the chained generators, never one giant row;
- run merging is a window PARTITIONED BY (id1, id2, diagonal) — group
  size is bounded by the shorter document's length, not the corpus;
- span merging / scrubbing are per-document windows + one aggregate
  back to one row per document (parallelism = document count).

reference: litedatum/validatelite has no substring machinery; the rule
surface analogue is core/executors (validity family). Algorithm per
Lee et al. 2022 §3.1 (ExactSubstr, public).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import ngrams_arrow, tokens
from validatelite_spark.operators.dedup import DEFAULT_DF_CAP, _cooccurrence
from validatelite_spark.sources.reader import spread


def positional_grams(df: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id", n: int = 8) -> DataFrame:
    """(k, pos, g): every word n-gram of every document at its 1-based
    word position. The gram array is built in one Arrow batch
    (CLAUDE.md rule 3 keeps higher-order functions out of corpus-wide
    projections)."""
    gs = ngrams_arrow(n)(F.col(text_col))
    return (spread(df).select(F.col(key_col).alias("k"), gs.alias("gs"))
            .filter(F.size("gs") > 0)
            .select("k", F.posexplode("gs").alias("pos0", "g"))
            .select("k", (F.col("pos0") + 1).alias("pos"), "g"))


def _seed_pairs(pg: DataFrame, df_cap: int | None, op: str) -> DataFrame:
    """Cross-document seed matches (id1, p1, id2, p2) with id1 < id2:
    ``dedup._cooccurrence`` over (gram, struct(k, pos)) occurrences,
    keeping pairs from two different documents. Seeds are unique by
    construction — one gram per (doc, position) — so no distinct() is
    needed afterwards. The gram table is cached when capping, because
    the cap scan and the expansion both read it."""
    if df_cap is not None:
        pg = pg.cache()
    pairs = _cooccurrence(pg, "g", F.struct("k", "pos"), df_cap, op)
    return (pairs.filter(F.col("id1.k") != F.col("id2.k"))
            .select(F.col("id1.k").alias("id1"), F.col("id1.pos").alias("p1"),
                    F.col("id2.k").alias("id2"), F.col("id2.pos").alias("p2")))


def _diagonal_runs(seeds: DataFrame, n: int) -> DataFrame:
    """(id1, id2, p1_start, p2_start, run_words) — one row per maximal
    shared run, via gaps-and-islands on each alignment diagonal.
    Positions on one (pair, diagonal) are unique (one gram per
    position), so ``p1 - row_number()`` labels consecutive seeds with a
    constant island id."""
    w = Window.partitionBy("id1", "id2", "diag").orderBy("p1")
    return (seeds
            .withColumn("diag", F.col("p1") - F.col("p2"))
            .withColumn("island", F.col("p1") - F.row_number().over(w))
            .groupBy("id1", "id2", "diag", "island")
            .agg(F.min("p1").alias("p1_start"),
                 F.min("p2").alias("p2_start"),
                 (F.count(F.lit(1)) + F.lit(n - 1)).alias("run_words"))
            .drop("diag", "island"))


def exact_substring_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
    min_words: int = 15,
    df_cap: int | None = DEFAULT_DF_CAP,
) -> DataFrame:
    """Document pairs sharing an exact word run of >= ``min_words``
    words: (id1, id2, overlap_words, n_runs) with id1 < id2,
    ``overlap_words`` the longest shared run and ``n_runs`` how many
    distinct maximal runs clear the threshold.

    Exact for every run >= n words (seed resolution); ``min_words``
    plays the role of Lee et al.'s 50-token report threshold — at web
    scale raise both (n=15, min_words=50) so the seed table carries
    fewer, longer grams."""
    pg = positional_grams(df, text_col, key_col, n)
    runs = _diagonal_runs(
        _seed_pairs(pg, df_cap, "exact_substring_pairs"), n)
    return (runs.groupBy("id1", "id2")
            .agg(F.max("run_words").alias("overlap_words"),
                 F.sum(F.when(F.col("run_words") >= min_words, 1)
                       .otherwise(0)).alias("n_runs"))
            .filter(F.col("overlap_words") >= min_words)
            .orderBy("id1", "id2"))


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
    min_words: int = 15,
    df_cap: int | None = DEFAULT_DF_CAP,
) -> DataFrame:
    """Merged word spans to CUT per document: (k, start, end) 1-based
    inclusive word ranges duplicated verbatim elsewhere in the corpus.

    Keep-first policy matching the exact-dedup representative rule: for
    each qualifying run between id1 < id2, the LATER document (id2)
    loses its copy — the id1 occurrence survives. A document that
    duplicates an earlier document AND is duplicated by a later one
    keeps its id1-side span (it is the earlier doc there). Overlapping
    or adjacent spans within a document are merged (gaps-and-islands on
    the running max end) so the scrub step cuts each word once."""
    pg = positional_grams(df, text_col, key_col, n)
    runs = _diagonal_runs(_seed_pairs(pg, df_cap, "duplicate_spans"), n)
    spans = (runs.filter(F.col("run_words") >= min_words)
             .select(F.col("id2").alias("k"),
                     F.col("p2_start").alias("start"),
                     (F.col("p2_start") + F.col("run_words") - 1)
                     .alias("end")))
    # merge overlapping/adjacent spans per doc: island increments when
    # this span starts past every previous span's end
    w = Window.partitionBy("k").orderBy("start", "end")
    prev_max = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    return (spans
            .withColumn("new_island",
                        F.when(prev_max.isNull()
                               | (F.col("start") > prev_max + 1), 1)
                        .otherwise(0))
            .withColumn("island", F.sum("new_island").over(w))
            .groupBy("k", "island")
            .agg(F.min("start").alias("start"), F.max("end").alias("end"))
            .drop("island")
            .orderBy("k", "start"))


def substring_scrub(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
    min_words: int = 15,
    df_cap: int | None = DEFAULT_DF_CAP,
) -> DataFrame:
    """Cut every duplicated span (keep-first policy of
    ``duplicate_spans``) out of each document's TOKEN stream:
    (k, scrubbed_text, words_cut). Documents with nothing to cut pass
    through with words_cut = 0; token-normalized text (lowercased,
    single-spaced) is returned for all rows — the scrub operates on the
    word sequence, the same normalization every dedup operator here
    applies.

    Shape: explode each affected document's tokens once, anti-filter
    positions covered by a span (range join on the merged span list —
    bounded per doc), re-aggregate in position order. Only documents
    WITH spans pay the explode; the rest is a broadcast-size anti-join
    at typical duplication rates (spans exist for a few % of docs)."""
    spans = duplicate_spans(df, text_col, key_col, n, min_words, df_cap)
    toks = tokens(F.col(text_col))
    base = df.select(F.col(key_col).alias("k"),
                     toks.alias("w"),
                     F.col(text_col).alias("__orig"))
    affected = spans.select("k").distinct()
    hit = (base.join(affected, "k")
           .select("k", F.posexplode("w").alias("pos0", "tok"))
           .withColumn("pos", F.col("pos0") + 1))
    kept = (hit.join(spans,
                     (hit["k"] == spans["k"])
                     & (F.col("pos") >= F.col("start"))
                     & (F.col("pos") <= F.col("end")),
                     "left_anti"))
    rebuilt = (kept.groupBy("k")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("pos", "tok"))),
                       lambda s: s["tok"]), " ").alias("scrubbed_text"),
                    F.count(F.lit(1)).alias("n_kept")))
    sizes = base.select("k", F.size("w").alias("n_words"),
                        F.array_join("w", " ").alias("norm_text"))
    out = (sizes.join(rebuilt, "k", "left")
           .join(affected.withColumn("__hit", F.lit(1)), "k", "left")
           .select(
               F.col("k").alias(key_col),
               F.when(F.col("__hit").isNotNull(),
                      F.coalesce(F.col("scrubbed_text"), F.lit("")))
               .otherwise(F.col("norm_text")).alias("scrubbed_text"),
               F.when(F.col("__hit").isNotNull(),
                      F.col("n_words") - F.coalesce(F.col("n_kept"),
                                                    F.lit(0)))
               .otherwise(F.lit(0)).cast("bigint").alias("words_cut")))
    return out.orderBy(key_col)
