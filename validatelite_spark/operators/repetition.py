"""Within-document repetition signals and benchmark decontamination.

Two training-data-pipeline operators the reference has no analogue for
(its closest surface is the rule-metric aggregates, core/engine/
rule_engine.py) but that any 100 TB web-text curation run needs:

* ``repetition_signals`` — Gopher's repetition section (Rae et al. 2021,
  appendix A1.1): per-document duplicate-n-gram fraction and
  most-frequent-n-gram share.  Boilerplate/spam pages repeat the same
  phrases; ``distinct_token_ratio`` (textquality.py) only sees unigram
  reuse, these see phrase reuse.
* ``contaminated_docs`` — train/test decontamination by word-n-gram
  overlap against a benchmark corpus (the GPT-3 appendix-C /
  Llama-style 8-gram rule, parameterised n).

Scale shape (100 TB):

* repetition: one shuffle keyed by (doc_id, ngram).  Keys are
  document-local, so the hottest key is bounded by the longest document
  — no global hot key, and partial aggregation collapses repeats
  map-side before the exchange.
* decontamination: benchmark n-gram sets are MBs (eval suites), the
  corpus is the 100 TB side — so the benchmark set is broadcast and the
  corpus-side exploded n-grams join map-side without ever shuffling.
  The broadcast is SIZE-GATED (``contaminated_docs`` counts the
  benchmark's distinct n-grams against ``BROADCAST_NGRAM_THRESHOLD``
  first): a corpus-sized "benchmark" (e.g. corpus-vs-corpus overlap
  checks) would otherwise broadcast terabytes — above the threshold the
  join falls back to a shuffled sort-merge join, which scales with both
  sides.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from validatelite_spark.core.registry import BatchKernel
from validatelite_spark.functions.textquality import (
    ngrams,
    ngrams_arrow,
    word_ngrams,
)
from validatelite_spark.operators.dedup import _shingle_table
from validatelite_spark.plans.planner import batch_udf


def dup_ngram_fraction(col: Column, n: int = 3) -> Column:
    """Pure-Column duplicate-n-gram fraction (1 − distinct/total
    occurrences); docs with < ``n`` tokens score 0.0, NULL text stays
    NULL.  The rule-predicate form of ``repetition_signals``'s
    ``dup_ngram_frac`` — no explode, so it folds into the engine's fused
    single-scan aggregate.  NOTE: built on transform/slice
    (CodegenFallback, BENCH.md lesson 2) — fine in a merged metrics
    scan, but keep it out of per-row hot projections; bulk annotation
    should go through ``repetition_signals``."""
    ng = ngrams(col, n)
    t = F.size(ng)
    return F.when(t <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(ng)) / t)


@functools.cache
def dup_ngram_array(n: int = 3):
    """Signal: ``dup_ngram_fraction`` per document of an Arrow batch —
    identical values (both sides are IEEE-double ``1 − distinct/total``),
    built in tight Python over the batch's strings; NULL text → NaN
    (NULL in Spark). Cached: one function object per ``n``, one pass per
    batch."""

    def frac(texts: pa.Array) -> np.ndarray:
        out = np.full(len(texts), np.nan)
        for i, t in enumerate(texts.to_pylist()):
            if t is not None:
                ng = word_ngrams(t, n)
                out[i] = 1.0 - len(set(ng)) / len(ng) if ng else 0.0
        return out

    return frac


def dup_ngram_fraction_arrow(n: int = 3):
    """``dup_ngram_array`` as an Arrow UDF — the rule-predicate hot
    path's Column form: the pure-Column version's transform/slice chain
    is CodegenFallback and re-evaluates the tokenizer per array element
    (~interpreted O(tokens²) per row) — measured ~40× slower on the
    metrics scan."""
    return batch_udf(dup_ngram_array(n), "double")


#: REPETITION rule defaults (Gopher A1.1 uses per-n thresholds; one
#: knob here, overridable per rule).
REPETITION_DEFAULTS = {"n": 3, "max_dup_ngram_frac": 0.2}


def repetition_kernel(params: dict | None = None) -> BatchKernel:
    """REPETITION rule kernel: NULL text fails (completeness semantics,
    like GOPHER/NOT_NULL — see core/rules.py NULL table); otherwise fails
    when the duplicate-n-gram fraction exceeds ``max_dup_ngram_frac``."""
    p = dict(REPETITION_DEFAULTS)
    if params:
        p.update({k: v for k, v in params.items() if v is not None})
    limit = float(p["max_dup_ngram_frac"])
    return BatchKernel(dup_ngram_array(int(p["n"])),
                       lambda frac: np.isnan(frac) | (frac > limit))


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram repetition metrics:

    * ``dup_ngram_frac``  — fraction of n-gram occurrences that repeat an
      earlier occurrence (1 − distinct/total),
    * ``top_ngram_frac``  — share of occurrences held by the single most
      frequent n-gram,
    * ``n_ngrams``        — total n-gram occurrences.

    Documents with fewer than ``n`` tokens are omitted (no n-grams).
    Two-level aggregation: count per (doc, ngram), then roll up per doc —
    both partial-agg map-side; see module docstring for the scale story.
    """
    ng = ngrams_arrow(n)(F.col(text_col))
    ex = df.select(F.col(id_col), F.explode(ng).alias("s"))
    per = ex.groupBy(id_col, "s").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy(id_col)
        .agg(F.sum("c").alias("total"),
             F.count(F.lit(1)).alias("nd"),
             F.max("c").alias("top"))
        .select(
            F.col(id_col),
            F.round(F.lit(1.0) - F.col("nd") / F.col("total")
                    + F.lit(1e-9), 6).alias("dup_ngram_frac"),
            F.round(F.col("top") / F.col("total")
                    + F.lit(1e-9), 6).alias("top_ngram_frac"),
            F.col("total").alias("n_ngrams"),
        )
    )


#: the decontamination joins broadcast the benchmark n-gram set only up
#: to this many distinct n-grams (~8M 8-gram strings ≈ 500 MB serialized
#: — the edge of sane broadcast territory on big executors)
BROADCAST_NGRAM_THRESHOLD = 8_000_000


def top_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 100,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-wide most frequent n-grams → (ngram, n_docs, occurrences)
    — boilerplate mining: the hottest n-grams across a web corpus are
    navigation chrome / cookie banners / footer text, and this list is
    the input to a boilerplate blocklist (and to picking ``df_cap``).

    One explode + one partial-aggregating groupBy(ngram) + a
    ``TakeOrderedAndProject`` top-k — no global sort, nothing collects
    the full n-gram table. Ties break by ngram ascending
    (deterministic). ``min_docs`` drops the singleton tail before the
    top-k (the overwhelming majority of n-grams — they can never be
    boilerplate)."""
    ng = ngrams_arrow(n)(F.col(text_col))
    # occurrences + containing-doc count in one pass: count per
    # (doc, ngram) first, then roll up — both aggs partial map-side
    per_doc = (docs.select(F.col(id_col).alias("__d"),
                           F.explode(ng).alias("s"))
               .groupBy("__d", "s").agg(F.count(F.lit(1)).alias("c")))
    return (per_doc.groupBy("s")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("c").alias("occurrences"))
            .filter(F.col("n_docs") >= min_docs)
            .orderBy(F.desc("occurrences"), F.desc("n_docs"), F.col("s"))
            .limit(k)
            .select(F.col("s").alias("ngram"), "n_docs", "occurrences"))


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Documents sharing ≥ ``min_hits`` distinct word n-grams with a
    benchmark corpus → ``(doc_id, hit_ngrams, overlap_frac)`` where
    ``overlap_frac`` is the share of the doc's distinct n-grams found in
    the benchmark.

    Join strategy is size-gated: the distinct benchmark n-grams are
    counted first (one cheap aggregate over the small side). Up to
    ``BROADCAST_NGRAM_THRESHOLD`` the set broadcasts (eval suites are
    MBs; the corpus side joins map-side and never shuffles its n-grams
    — only per-doc hit counts move); above it the join is a shuffled
    sort-merge join — the right shape when the "benchmark" is itself
    corpus-sized (corpus-vs-corpus overlap), where a broadcast would
    ship terabytes to every executor.
    """
    bcol = bench_text_col or text_col
    # the gate runs one small-side job at plan-construction time (the
    # benchmark is the small side by contract). The distinct n-gram set
    # is CACHED across the gate count and the join — without it the
    # benchmark-side Arrow shingling + distinct ran twice per call; the
    # footprint is benchmark-bounded (MBs by contract, and the gate
    # itself refuses to broadcast past the threshold).
    b_sh = (
        _shingle_table(benchmark, bcol, id_col, n)
        .select(F.explode("sh").alias("s"))
        .distinct()
        .cache()
    )
    if b_sh.count() <= BROADCAST_NGRAM_THRESHOLD:
        bench_side = F.broadcast(b_sh)
    else:
        bench_side = b_sh.hint("merge")
    d_tab = _shingle_table(docs, text_col, id_col, n)
    ex = d_tab.select("k", "sz", F.explode("sh").alias("s"))
    return (
        ex.join(bench_side, "s")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("hit_ngrams"),
             F.first("sz").alias("sz"))
        .filter(F.col("hit_ngrams") >= min_hits)
        .select(
            F.col("k").alias(id_col),
            F.col("hit_ngrams"),
            F.round(F.col("hit_ngrams") / F.col("sz")
                    + F.lit(1e-9), 6).alias("overlap_frac"),
        )
    )


def contamination_provenance(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
) -> DataFrame:
    """Which benchmark item leaked into which corpus doc:
    ``(doc_id, bench_id, hit_ngrams)`` — distinct word ``n``-grams
    shared per (corpus doc, benchmark doc) pair, ≥ ``min_hits``.

    ``contaminated_docs`` answers "is this doc contaminated";
    this answers the audit's follow-up — WHICH eval item, so a leak can
    be traced to its source (same contract as
    ``similarity.embedding_decontaminate(mode='report')``, exact
    n-grams instead of embeddings).

    Scale shape: same size-gated benchmark side as ``contaminated_docs``
    but keyed (bench_id, shingle) instead of a distinct shingle set —
    the join fan-out per shingle is (corpus docs containing it) ×
    (benchmark docs containing it). A benchmark is an EVAL SUITE by
    contract (thousands of items), so the bench-side multiplicity is
    bounded; if a shingle is boilerplate across the whole benchmark,
    the pair table bounds at |contaminated docs| × |bench| — run
    ``boilerplate_strip``/``intra_doc_line_dedup`` upstream or raise
    ``n`` when the benchmark itself carries template text. The heavy
    aggregate groups on (doc, bench) pairs — map-side combinable,
    never a window."""
    bcol = bench_text_col or text_col
    bid = bench_id_col or id_col
    # cached across the gate count and the join — same rationale (and
    # bound) as contaminated_docs above
    b_tab = (_shingle_table(benchmark, bcol, bid, n)
             .select(F.col("k").alias("__bid"),
                     F.explode("sh").alias("s"))
             .distinct()
             .cache())
    if b_tab.count() <= BROADCAST_NGRAM_THRESHOLD:
        bench_side = F.broadcast(b_tab)
    else:
        bench_side = b_tab.hint("merge")
    ex = (_shingle_table(docs, text_col, id_col, n)
          .select("k", F.explode("sh").alias("s")))
    return (ex.join(bench_side, "s")
            .groupBy("k", "__bid")
            .agg(F.count(F.lit(1)).alias("hit_ngrams"))
            .filter(F.col("hit_ngrams") >= min_hits)
            .select(F.col("k").alias(id_col),
                    F.col("__bid").alias("bench_id"),
                    "hit_ngrams"))
