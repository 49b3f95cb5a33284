"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
the MOSS algorithm) + shared-fingerprint candidate pairs.

Winnowing is the position-robust local fingerprinting family the
shingle sketches here don't cover: guarantee-by-construction that any
shared run of at least ``window + n - 1`` tokens between two documents
yields at least one SHARED selected fingerprint — the matching
guarantee MinHash (whole-document resemblance) does not give for short
local overlaps. Used for plagiarism/quote/citation detection and as a
cheap local-overlap candidate stage ahead of
``operators/dedup.ngram_containment_pairs`` verification.

Algorithm: hash every word n-gram, slide a window of ``window``
consecutive hashes, select each window's minimum (tie → rightmost),
dedupe selections. Selection is ONE window-min per document: the
(hash, position) pair packs into a single BIGINT —
``h32 * 2^20 + (2^20-1-pos)`` — so the plain numeric ``min`` picks
the smallest hash and, on ties, the RIGHTMOST position, with no
struct/argmin comparator to disagree across engines. The hash is the
first 8 md5 hex digits (non-negative 32-bit — same portable trick as
``sampling._hash_bucket``), so DuckDB replays the whole pipeline
bit-for-bit, window frame included.

Scale shape: the window is partitioned BY DOCUMENT and ordered by
position — parallelism is the document count, one task never holds
more than one document's n-grams (bounded by doc length; the 2^20
position clamp documents the supported doc size). Candidate pairing
is ``dedup._cooccurrence`` over (fingerprint, doc) — the capped
per-group chained-generator expansion, never a fat self-join — and
the shared counts use the packed-key ``dedup._pair_counts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import ngrams, ngrams_arrow
from validatelite_spark.operators.dedup import (
    DEFAULT_DF_CAP,
    _cooccurrence,
    _key_stats,
    _pair_counts,
)

_POS_MOD = 1 << 20  # max supported n-grams per document


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 2,
    window: int = 4,
    arrow: bool = True,
) -> DataFrame:
    """(k, fp, pos): the winnowed fingerprint set per document —
    fp the selected 32-bit n-gram hash, pos its n-gram index.
    ``arrow=False`` keeps the pure-Column gram chain (no-Python
    contexts / the oracle-anchor plan); both produce identical rows."""
    if window < 1 or n < 1:
        raise ValueError("n and window must be >= 1")
    grams = (ngrams_arrow(n)(F.col(text_col)) if arrow
             else ngrams(F.col(text_col), n))
    base = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(key_col).alias("k"), grams.alias("g"))
            .filter(F.size("g") >= 1)
            .select("k", F.size("g").alias("L"),
                    F.posexplode("g").alias("pos", "gram")))
    h32 = F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10) \
        .cast("long")
    enc = (h32 * _POS_MOD
           + (F.lit(_POS_MOD - 1) - F.least(F.col("pos"),
                                            F.lit(_POS_MOD - 1))))
    w = (Window.partitionBy("k").orderBy("pos")
         .rowsBetween(Window.currentRow, window - 1))
    sel = (base.withColumn("__enc", enc)
           .withColumn("__win", F.min("__enc").over(w))
           # complete windows only (plus the single truncated window of
           # a shorter-than-window doc at pos 0), matching the paper
           .filter((F.col("pos") <= F.greatest(F.col("L") - window,
                                               F.lit(0))))
           .select("k", F.col("__win").alias("enc")).distinct())
    return sel.select(
        "k",
        F.floor(F.col("enc") / _POS_MOD).cast("long").alias("fp"),
        (F.lit(_POS_MOD - 1) - F.col("enc") % _POS_MOD).alias("pos"))


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 2,
    window: int = 4,
    min_shared: int = 2,
    df_cap: int | None = DEFAULT_DF_CAP,
) -> DataFrame:
    """(id1, id2, shared): unordered document pairs sharing at least
    ``min_shared`` distinct winnowed fingerprint hashes — the local
    text-overlap candidate stage. Fingerprints in more than ``df_cap``
    docs are dropped with a logged count (boilerplate n-grams — same
    stop-shingle contract as ``ngram_jaccard_pairs``).

    The fingerprint table feeds the key-range aggregate, the hot-fp
    scan and the pair expansion; AQE does not reuse that exchange, so
    the (selected, ~2/window of the grams) table is cached once instead
    of re-running the corpus-wide window+UDF selection per consumer."""
    fps = (winnow_fingerprints(df, text_col, key_col, n, window)
           .select("k", "fp").distinct().cache())
    stats = _key_stats(fps)
    pairs = _cooccurrence(fps, "fp", "k", df_cap, "winnow_pairs")
    return (_pair_counts(pairs, "shared", stats)
            .filter(F.col("shared") >= min_shared))
