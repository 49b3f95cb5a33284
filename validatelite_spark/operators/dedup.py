"""Deduplication operators for training-data pipelines.

Five dedup strategies, all pure DataFrame compositions (no Python in the
hot path), designed for the 100 TB shape:

- **exact**: md5 fingerprint of normalized text → winner-per-digest
  ``groupBy(fp).agg(min(struct(key)))`` (partial agg collapses the copy
  set of a viral page map-side — no window, no single-task hot
  partition) → join back keeps the min-key doc. The shuffle key is the
  digest (uniform across DISTINCT texts; the hot key is the copy count
  of one page, which the partial aggregate absorbs).
- **ngram-jaccard** (and **containment**): word n-gram shingles →
  explode → ``_cooccurrence`` (group docs per shingle, expand ordered
  pairs inside each group — no self-join) → pair-count aggregation →
  exact score filter. A document-frequency cap drops stop-shingles (a
  shingle in >df_cap docs contributes O(df²) candidate pairs; capping
  bounds the blow-up, the standard web-dedup trick). Winnowing
  fingerprints and exact-substring seeds share the same primitive.
- **minhash-lsh**: k=bands*rows xxhash64 min-hashes per doc → band
  buckets → candidate pairs from same-bucket docs → *exact Jaccard
  verification* of candidates only. Output equals the exhaustive
  n-gram-jaccard result as long as LSH recall ≈ 1 at the chosen
  threshold (b=32,r=3 → recall 1-2e-6 at j=0.7), but the join is on tiny
  band buckets instead of raw shingles.
- **simhash**: 64-bit sign-aggregated token-hash fingerprint; hamming≤k
  candidates via the 4-chunk pigeonhole banding; exact hamming verify.
- **embedding-cosine**: near-dup pairs by cosine similarity over an
  embedding column (see operators/similarity.py for the ANN machinery).

Each strategy returns either the surviving docs or the duplicate pairs —
both deterministic (min-key representative, sorted pair ids).
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, ShortType

from validatelite_spark.functions.textquality import (
    fingerprint,
    tokens,
    word_ngrams,
)
from validatelite_spark.session import checkpoint
from validatelite_spark.sources.reader import spread

logger = logging.getLogger(__name__)

#: default document-frequency cap: a shingle present in more docs than
#: this is a stop-shingle ("click here to …") and is dropped before pair
#: expansion — one such shingle at web scale otherwise collects ALL its
#: doc ids into one collect_list array and expands O(df²) pairs inside a
#: single task. 2k bounds the worst per-shingle expansion at ~2M pairs
#: (streamed, never one giant row — see ``_expand_pairs``) and is
#: still ~80x above the max df observed in the sf0.1 corpus (25), so
#: small-scale results are exact while the 100 TB path is bounded by
#: construction; near-dup pairs produced by a shingle shared across 2k+
#: documents are boilerplate noise, not signal.
DEFAULT_DF_CAP = 2_000

#: default membership cap for an LSH candidate BUCKET (a (band, sig)
#: minhash bucket or a (band, block-key) simhash bucket). Unlike a hot
#: SHINGLE, an oversized bucket is usually a GENUINE near-dup cluster
#: (10^5 trivially-varied copies of one template page that survive exact
#: dedup) — it cannot be dropped, and the all-pairs expansion is O(B²)
#: (10^10 candidate rows from one 10^5-member cluster, before
#: verification sees any of them). Buckets at or under the cap expand
#: all C(B,2) ordered pairs (≤ ~500k rows, streamed through the chained
#: generators); buckets above it emit STAR edges (min-id member ↔ each
#: other member, B-1 rows). Connected components only needs
#: connectivity, not cliques, so ``dedup_groups`` /
#: ``keep_representatives`` output is unchanged whenever the star edges
#: survive exact verification — exactly the genuine-cluster case, where
#: every member near-duplicates every other. The PAIR list itself is
#: reduced for oversized buckets (logged, never silent); pass
#: ``bucket_cap=None`` for the uncapped oracle-anchor form.
DEFAULT_BUCKET_CAP = 1_000

#: corpus size above which ``simhash_pairs``' auto banding switches
#: from the narrow m=d+1 shape (4 bands of 16-bit keys at d=3) to the
#: Manku block-combination shape (m=6 → 20 bands of ~32-bit keys).
#: Expected RANDOM same-key collisions are ~N²/2^16 per band on the
#: narrow shape — they cross ~N candidate rows per band at N = 2^16·k;
#: 10^6 keeps the narrow shape's random-collision load under ~15·N
#: while the wide shape at that size is ~20·N²/2^32 ≈ 4.7k rows total.
#: Output is identical either way (pigeonhole recall is exactly 1);
#: only the candidate count changes.
SIMHASH_AUTO_BLOCKS_THRESHOLD = 1_000_000


# ------------------------------------------------------------------ exact
def exact_dedup(df: DataFrame, text_col: str = "text",
                key_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min key) per normalized-text fingerprint.
    NULL texts are all kept (no fingerprint).

    Scale shape: winner per fingerprint via
    ``groupBy(fp).agg(min(struct(key)))`` — the partial aggregate runs
    map-side, so 10^6 copies of one viral page collapse to one row per
    map task before the shuffle — then a join back on the fingerprint
    keeps only the winning row. No ``Window.partitionBy(fp)``: a window
    partition is one unsplittable task holding every copy of the hot
    page; the aggregate+join shape is AQE-skew-splittable. ``key_col``
    must identify rows uniquely within a fingerprint group (a doc key);
    rows duplicating BOTH text and key are all kept."""
    fp = fingerprint(F.col(text_col))
    winners = (df.filter(F.col(text_col).isNotNull())
               .groupBy(fp.alias("__fp"))
               .agg(F.min(F.struct(F.col(key_col))).alias("__w")))
    return (
        df.withColumn("__fp", fp)
        .join(winners, "__fp", "left")
        .filter(F.col(text_col).isNull()
                | F.struct(F.col(key_col)).eqNullSafe(F.col("__w")))
        .drop("__fp", "__w")
    )


def url_dedup(df: DataFrame, url_col: str = "url",
              key_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min key) per CANONICAL url
    (functions/urls.py: fragment/tracking-param/default-port/www
    normalization) — the first dedup stage of a crawl pipeline, before
    any content dedup. NULL urls are all kept.

    Same scale shape as ``exact_dedup``: winner per canonical url via a
    map-side-combinable ``groupBy.agg(min(struct(key)))`` + join back —
    a hot URL (one page crawled 10^6 times) collapses in the partial
    aggregate, and AQE can split the residual skewed join partition."""
    from validatelite_spark.functions.urls import canonical_url

    cu = canonical_url(F.col(url_col))
    winners = (df.filter(F.col(url_col).isNotNull())
               .groupBy(cu.alias("__cu"))
               .agg(F.min(F.struct(F.col(key_col))).alias("__w")))
    return (
        df.withColumn("__cu", cu)
        .join(winners, "__cu", "left")
        .filter(F.col(url_col).isNull()
                | F.struct(F.col(key_col)).eqNullSafe(F.col("__w")))
        .drop("__cu", "__w")
    )


def url_decontaminate(df: DataFrame, benchmark_urls: DataFrame,
                      url_col: str = "url",
                      bench_url_col: str | None = None) -> DataFrame:
    """Drop docs whose CANONICAL url appears in a benchmark/blocklist
    url set — the url-level leg of decontamination (the n-gram leg is
    ``operators/repetition.decontaminate``): eval sets often publish
    source urls, and matching after ``canonical_url`` catches the
    http/https/www/tracking variants a raw string match misses.

    NULL urls are kept (a NULL join key never matches, and left_anti
    keeps non-matching rows). The benchmark side is reduced to distinct
    canonical urls; the anti-join shuffles on the canonical string
    (benchmark sets are small — Catalyst/AQE broadcasts the build side
    when it fits)."""
    from validatelite_spark.functions.urls import canonical_url

    bcol = bench_url_col or url_col
    bench = (benchmark_urls
             .filter(F.col(bcol).isNotNull())
             .select(canonical_url(F.col(bcol)).alias("__cu"))
             .distinct())
    return (df.withColumn("__cu", canonical_url(F.col(url_col)))
            .join(bench, "__cu", "left_anti")
            .drop("__cu"))


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_docs, keep_id) for every duplicated fingerprint."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(fingerprint(F.col(text_col)).alias("fp"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(key_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------- shingles
def shingles_arrow(n: int = 3):
    """Arrow-batched shingle UDF: each document's distinct word n-grams
    (``textquality.word_ngrams``) in first-occurrence order — the
    values of ``F.array_distinct(textquality.ngrams(col, n))``, built in
    tight Python per batch instead of a CodegenFallback
    higher-order-function chain interpreted per row (BENCH.md lesson
    2). Docs with < n tokens produce an empty array. Nondeterministic
    for the reason given on ``ngrams_arrow``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series([[] if t is None
                          else list(dict.fromkeys(word_ngrams(t, n)))
                          for t in texts])

    return sh.asNondeterministic()


def _shingle_table(df: DataFrame, text_col: str, key_col: str,
                   n: int) -> DataFrame:
    """(key, shingle_set, set_size) for docs with at least one shingle,
    shingled by the batched ``shingles_arrow`` UDF."""
    sh = shingles_arrow(n)(F.col(text_col))
    # the (expensive) shingling projection is spread when the source is
    # under-parallel (downstream aggs shuffle regardless)
    return (
        spread(df).select(F.col(key_col).alias("k"), sh.alias("sh"))
        .withColumn("sz", F.size("sh"))
        .filter(F.col("sz") > 0)
    )


def _cooccurrence(members: DataFrame, group: str, member: str | Column,
                  df_cap: int | None, op: str) -> DataFrame:
    """Ordered ``(id1, id2)`` member pairs that share a ``group`` value
    — the one co-occurrence primitive behind n-gram Jaccard and
    containment, winnowing and exact-substring seeds.

    Physical shape: instead of a self-join on the group key (which
    amplifies hot groups quadratically THROUGH the join), collect the
    sorted member list per group and expand ordered pairs inside it
    (``_expand_pairs``) — one groupBy(group), no join on the fat side.
    Singleton groups (the vast majority) never leave the first agg.
    ``member`` may be a struct column (pairs then compare field-wise);
    the caller filters or projects the struct fields itself.

    ``df_cap`` bounds the rows per group — documents for shingle and
    fingerprint sets, occurrences for positional grams. Groups over it
    are found in ONE eager job on the row table, before collect_list,
    so a boilerplate group never builds its giant member array in an
    aggregation buffer. They are collected to the driver, reported in
    one warning (truncation is never silent) and removed by a broadcast
    anti-join that is added only when something is dropped. The caller
    caches ``members`` when the cap scan and the expansion both read
    it."""
    if df_cap is not None:
        hot = (members.groupBy(group).count()
               .filter(F.col("count") > df_cap).select(group).collect())
        if hot:
            logger.warning(
                "%s: dropped %d keys with more than df_cap=%d rows "
                "before pairing", op, len(hot), df_cap)
            hot = members.sparkSession.createDataFrame(
                hot, members.select(group).schema)
            members = members.join(F.broadcast(hot), group, "left_anti")
    groups = (members.groupBy(group)
              .agg(F.sort_array(F.collect_list(member)).alias("ks"))
              .filter(F.size("ks") > 1))
    return _expand_pairs(groups)


def _key_stats(keys: DataFrame) -> Row:
    """``(lo, hi, n)`` of the ``k`` column in one eager aggregate — the
    packed-count gate of ``_pair_counts`` and a size-gated broadcast
    share it."""
    return keys.agg(F.min("k").alias("lo"), F.max("k").alias("hi"),
                    F.count(F.lit(1)).alias("n")).first()


def _pair_counts(pairs: DataFrame, name: str, stats: Row) -> DataFrame:
    """``(id1, id2, <name>)`` — co-occurrence counts over the expanded
    pair stream.

    When the key is an integer in [0, 2^31) (``stats`` from
    ``_key_stats``), the count aggregates over ONE packed 64-bit key
    (``id1 << 32 | id2``) instead of a two-column key and unpacks on
    the (much smaller per-group) aggregate output: the pair table can
    reach ~10^8 rows for a dense corpus, and halving the grouping
    key's hash/compare/shuffle bytes measured 15.3 s → 6.8 s on the
    sf1.0 expansion+count. Non-integral or out-of-range keys keep the
    two-column aggregate — identical output either way (the pack is
    injective on the gated domain)."""
    ktype = pairs.schema["id1"].dataType
    if not (isinstance(ktype, (IntegerType, LongType, ShortType))
            and stats["lo"] is not None and stats["lo"] >= 0
            and stats["hi"] < 2 ** 31):
        return pairs.groupBy("id1", "id2").agg(
            F.count(F.lit(1)).alias(name))
    packed = pairs.select(
        (F.shiftleft(F.col("id1").cast("long"), 32)
         + F.col("id2").cast("long")).alias("p"))
    agg = packed.groupBy("p").agg(F.count(F.lit(1)).alias(name))
    # unpack on the aggregate output, restoring the caller's key type
    return agg.select(
        F.shiftrightunsigned(F.col("p"), 32).cast(ktype).alias("id1"),
        F.col("p").bitwiseAND(F.lit(4294967295)).cast(ktype)
        .alias("id2"),
        name)


def _expand_pairs(groups: DataFrame, star_over: int | None = None,
                  respread: bool = True) -> DataFrame:
    """Ordered (id1, id2) pairs from a sorted per-group member array
    ``ks`` — the chained-generator shape: posexplode the member list to
    (i, id1), then explode the i+1.. suffix as id2, so each generated
    row holds at most one group-sized array and the O(B²) pairs STREAM
    through whole-stage codegen into the downstream aggregate (never one
    flattened B²-element row — the round-2 OOM hazard).

    ``star_over``: groups LARGER than this emit star edges only —
    id1 pinned to the group minimum (``ks`` is sorted), id2 = every
    other member; B-1 rows instead of C(B,2). Implemented by slicing
    the left generator to the first element while the suffix explode
    still walks the full array, so both shapes share one plan.

    The input is explicitly re-spread to 4× the session parallelism:
    AQE's partition coalescing sizes the upstream group-by's output by
    its BYTES and cannot see the O(B²) generator blow-up above it — at
    sf1.0 it coalesced an 80 MB per-shingle table under a 150M-row
    expansion + partial aggregate, and the stage ran with GB-sized
    per-task agg state (spill + GCLocker stalls; measured 28 s → 8-12 s
    for the expansion+count with the re-spread). Partition count
    derives from the session, not a constant. ``respread=False`` for
    the LSH candidate paths (minhash/simhash): their per-bucket
    expansion is already bounded by ``bucket_cap`` and the bucket
    tables are small — there the extra shuffle is pure overhead
    (measured ~+1-2 s per query at sf1.0 with no stage to save)."""
    if respread:
        par = groups.sparkSession.sparkContext.defaultParallelism
        groups = groups.repartition(4 * par)
    if star_over is None:
        src = F.col("ks")
    else:
        src = (F.when(F.size("ks") > star_over, F.slice("ks", 1, 1))
               .otherwise(F.col("ks")))
    lefts = groups.select(
        F.col("ks"), F.posexplode(src).alias("__i", "id1"))
    return lefts.select(
        "id1",
        F.explode(F.slice(
            F.col("ks"), F.col("__i") + 2,
            F.greatest(F.size("ks") - F.col("__i") - 1, F.lit(0))))
        .alias("id2"))


_STAR_EDGES = ("emitting star edges (min-member hub) instead of all "
               "pairs; connectivity (dedup groups) is preserved, the raw "
               "pair list is reduced")


def _log_oversized_buckets(per_bucket: DataFrame, cap: int, op: str,
                           effect: str = _STAR_EDGES) -> None:
    """Count buckets past ``bucket_cap`` and warn with what the cap does
    to them (``effect``) — a reduced candidate-pair list must never be
    silent. The caller materializes ``per_bucket`` first, so the count
    and the pair expansion share one aggregation pass."""
    n_big = per_bucket.filter(F.size("ks") > cap).count()
    if n_big:
        logger.warning("%s: %d candidate buckets exceed bucket_cap=%d — %s",
                       op, n_big, cap, effect)


def _jaccard() -> Column:
    """|A ∩ B| / |A ∪ B| over ``_scored_pairs``' columns."""
    return F.col("common") / (F.col("sz1") + F.col("sz2") - F.col("common"))


def _scored_pairs(common: DataFrame, sizes: DataFrame, name: str,
                  score: Column, threshold: float,
                  broadcast_sizes: bool | None = None) -> DataFrame:
    """(id1, id2, common) + (k, sz) → ``(id1, id2, <name>)`` pairs whose
    ``score`` (over ``common``, ``sz1``, ``sz2``; rounded to 6 places
    after the 1e-9 tie epsilon) is ≥ threshold.

    The candidate-pair table can dwarf the corpus (114M rows at sf1.0
    for 2.5k surviving pairs) while ``sizes`` is ONE small row per doc
    — a sort-merge join would re-shuffle the fat pair table twice just
    to attach two ints. The sizes side is therefore broadcast when it
    fits (size-gated like ``keep_representatives``: ``None`` counts the
    sizes table once; at corpus scales past the threshold the shuffled
    join returns, semantics identical)."""
    if broadcast_sizes is None:
        broadcast_sizes = sizes.count() <= KEEP_BROADCAST_THRESHOLD
    sa = sizes.select(F.col("k").alias("id1"), F.col("sz").alias("sz1"))
    sb = sizes.select(F.col("k").alias("id2"), F.col("sz").alias("sz2"))
    if broadcast_sizes:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return (
        common.join(sa, "id1").join(sb, "id2")
        .withColumn(name, F.round(score + F.lit(1e-9), 6))
        .filter(F.col(name) >= threshold)
        .select("id1", "id2", name)
    )


def _shingle_pairs(df, text_col, key_col, n, df_cap, op, name, score,
                   threshold):
    """Shared body of the exhaustive n-gram pair metrics: cached
    shingle table (it feeds the cap scan, the pair expansion AND both
    size joins) → ``_cooccurrence`` over (shingle, doc) → packed
    common-shingle counts → ``score`` over the per-doc set sizes. One
    aggregate over the sizes table feeds both the packed-key gate and
    the sizes broadcast gate."""
    t = _shingle_table(df, text_col, key_col, n).cache()
    sizes = t.select("k", "sz")
    stats = _key_stats(sizes)
    pairs = _cooccurrence(t.select("k", F.explode("sh").alias("s")),
                          "s", "k", df_cap, op)
    return _scored_pairs(_pair_counts(pairs, "common", stats), sizes,
                         name, score, threshold,
                         stats["n"] <= KEEP_BROADCAST_THRESHOLD)


# --------------------------------------------------------- ngram-jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.7,
    df_cap: int | None = DEFAULT_DF_CAP,
) -> DataFrame:
    """Exhaustive near-dup pairs by exact n-gram Jaccard.

    ``df_cap``: drop shingles appearing in more than df_cap docs before
    pairing — ON by default (DEFAULT_DF_CAP): a web-scale stop-shingle
    otherwise expands O(df²) pairs in one task. The dropped count is
    always logged — silent truncation would read as full coverage.
    Pass None for the exact uncapped variant (oracle anchor / tiny
    inputs only). The shingle table stays cached;
    ``spark.catalog.clearCache()`` releases it."""
    return _shingle_pairs(df, text_col, key_col, n, df_cap,
                          "ngram_jaccard_pairs", "jaccard", _jaccard(),
                          threshold)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = DEFAULT_DF_CAP,
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT
    (Broder 1997's other resemblance measure): containment =
    |A ∩ B| / min(|A|, |B|) — the smaller document's covered fraction.
    Jaccard misses the canonical web pattern this catches: a short
    quote or syndicated article embedded in a much longer page has
    tiny Jaccard (union is dominated by the long page) but containment
    ≈ 1. One row per unordered pair (id1 < id2, ``containment``
    column); same physical shape, stop-shingle cap, and cached shingle
    table as ``ngram_jaccard_pairs``."""
    return _shingle_pairs(
        df, text_col, key_col, n, df_cap, "ngram_containment_pairs",
        "containment",
        F.col("common") / F.least(F.col("sz1"), F.col("sz2")), threshold)


# ----------------------------------------------------------- minhash-lsh
def _band_table(ex: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(k, band, sig) LSH band hashes from an exploded (k, s) shingle
    table: min-hash signature per seed via one partial-aggregating
    groupBy, then one posexplode over the array of per-band hashes."""
    num_hashes = bands * rows_per_band
    aggs = [F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)]
    sig = ex.groupBy("k").agg(*aggs)
    band_sigs = F.array(*[
        F.xxhash64(*[F.col(f"h{b * rows_per_band + r}")
                     for r in range(rows_per_band)])
        for b in range(bands)
    ])
    return sig.select(F.col("k"),
                      F.posexplode(band_sigs).alias("band", "sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.7,
    bands: int = 32,
    rows_per_band: int = 3,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    Candidates come from same-(band, band-hash) buckets — grouped per
    bucket and expanded through the chained generators (one shuffle on
    the tiny bucket key; no self-join, which would shuffle the band
    table twice and amplify hot buckets THROUGH the join); each
    candidate pair is then verified with exact Jaccard so the output
    matches the exhaustive result whenever LSH recall ≈ 1. Tune
    (bands, rows_per_band) to the threshold: miss prob = (1-j^r)^b —
    the b=32/r=3 default gives 2e-6 at j = 0.7 but a loose 1.4e-2 at
    j = 0.5; drop to r=2 (1e-4 at j = 0.5) when thresholding that low.

    ``bucket_cap``: buckets larger than this (a genuine near-dup
    CLUSTER — 10^5 copies of a template page land in one bucket by
    design, and all-pairs is O(B²) there) emit star edges instead —
    see DEFAULT_BUCKET_CAP; ``dedup_groups`` output is preserved, the
    raw pair list within oversized buckets is reduced (logged). None →
    uncapped (oracle anchor). The shingle table (it feeds the signature
    pass AND the verification join) stays cached."""
    t = _shingle_table(df, text_col, key_col, n).cache()
    ex = t.select("k", F.explode("sh").alias("s"))
    # one posexplode over an array of band hashes — a single pass instead
    # of a `bands`-way union of scans
    bands_df = _band_table(ex, bands, rows_per_band)
    per_bucket = (bands_df.groupBy("band", "sig")
                  .agg(F.sort_array(F.collect_list("k")).alias("ks"))
                  .filter(F.size("ks") > 1))
    if bucket_cap is not None:
        per_bucket = per_bucket.cache()
        _log_oversized_buckets(per_bucket, bucket_cap, "minhash_lsh_pairs")
    candidates = _expand_pairs(per_bucket, bucket_cap,
                               respread=False).distinct()
    # exact verification of candidates only: common-shingle counts are
    # re-derived from the exploded (k, shingle) table joined onto the
    # candidate pairs — only ids + shingle strings shuffle. (The previous
    # shape joined the full shingle ARRAYS onto every pair: two shuffles
    # of fat arrays plus an array_intersect per pair — wasteful when the
    # exploded table already exists for the signature pass.)
    e1 = ex.select(F.col("k").alias("id1"), "s")
    e2 = ex.select(F.col("k").alias("id2"), "s")
    common = (
        candidates.join(e1, "id1")          # pair × its id1 shingles
        .join(e2, ["id2", "s"])             # keep shingles id2 also has
        .groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("common"))
    )
    return _scored_pairs(common, t.select("k", "sz"), "jaccard",
                         _jaccard(), threshold)


# ------------------------------------------- incremental exact-fp index
def fingerprint_index_write(df: DataFrame, path: str,
                            text_col: str = "text",
                            key_col: str = "doc_id") -> None:
    """Persist (fp, k) — the exact-dedup twin of ``minhash_index_write``
    for the rolling-crawl shape: new batches drop exact duplicates of
    everything already kept without rescanning the corpus. NULL texts
    are not indexed (they never match anything). Index size is one
    16-byte digest + key per doc — trivially small next to the corpus."""
    (df.filter(F.col(text_col).isNotNull())
     .select(fingerprint(F.col(text_col)).alias("fp"),
             F.col(key_col).alias("k"))
     .write.mode("overwrite").parquet(f"{path}/fps"))


def fingerprint_index_append(df: DataFrame, path: str,
                             text_col: str = "text",
                             key_col: str = "doc_id") -> None:
    """Fold a new batch's fingerprints into the index (deterministic
    content — replay-safe under distinct-on-read, same contract as the
    minhash index appends)."""
    (df.filter(F.col(text_col).isNotNull())
     .select(fingerprint(F.col(text_col)).alias("fp"),
             F.col(key_col).alias("k"))
     .write.mode("append").parquet(f"{path}/fps"))


def incremental_exact_dedup(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    within_batch: bool = True,
) -> DataFrame:
    """Survivors of a NEW batch against a persisted fingerprint index:
    batch-internal exact dedup first (min-key winner — the same
    min-struct shape as ``exact_dedup``), then a left-anti join on the
    16-byte digest drops docs whose text the corpus already has. NULL
    texts pass through. One shuffle keyed by digest (uniform); the
    index side is read pre-projected to the digest column only."""
    spark = new_docs.sparkSession
    batch = exact_dedup(new_docs, text_col, key_col) if within_batch \
        else new_docs
    old = spark.read.parquet(f"{path}/fps").select("fp").distinct()
    fp = fingerprint(F.col(text_col))
    nn = (batch.filter(F.col(text_col).isNotNull())
          .withColumn("__fp", fp)
          .join(old.withColumnRenamed("fp", "__fp"), "__fp",
                "left_anti")
          .drop("__fp"))
    return nn.unionByName(batch.filter(F.col(text_col).isNull()))


# ----------------------------------------------- incremental minhash index
def minhash_index_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    bands: int = 32,
    rows_per_band: int = 3,
) -> None:
    """Persist the corpus-side MinHash dedup index so NEW batches can be
    deduped against the corpus WITHOUT re-shingling it — the production
    incremental shape (a crawl pipeline dedupes each incoming batch
    against everything already kept, not the union from scratch).

    Layout under ``path``: ``bands/`` (k, band, sig — the LSH candidate
    feed), ``shingles/`` (k, s exploded — exact-Jaccard verification),
    ``docs/`` (k, sz — set sizes), and a ``_minhash_params.json``
    sidecar pinning (n, bands, rows_per_band) so a probe can never use
    mismatched hashing. Index size is O(corpus shingles) — the same
    data the one-shot path shuffles, now paid once instead of per batch.
    The shingle table feeding all three writes is cached for the call.
    """
    import json

    from validatelite_spark.sources import fsutil

    t = _shingle_table(df, text_col, key_col, n).cache()
    ex = t.select("k", F.explode("sh").alias("s"))
    _band_table(ex, bands, rows_per_band).write.mode(
        "overwrite").parquet(f"{path}/bands")
    ex.write.mode("overwrite").parquet(f"{path}/shingles")
    t.select("k", "sz").write.mode("overwrite").parquet(f"{path}/docs")
    # sidecar via the Hadoop FS client — works on URI-scheme index paths
    fsutil.write_utf8(
        df.sparkSession, f"{path.rstrip('/')}/_minhash_params.json",
        json.dumps({"n": n, "bands": bands,
                    "rows_per_band": rows_per_band}))
    t.unpersist()


def minhash_index_append(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> None:
    """Fold a new batch into an existing ``minhash_index_write`` index —
    the maintenance step after incremental dedup keeps (part of) a
    batch: shingle ONLY the new docs with the index's pinned params and
    append their band hashes / shingles / sizes. Append-only parquet
    writes — no rewrite of the existing index files, so the cost is
    O(new batch) regardless of corpus size. The caller is responsible
    for passing only docs that should join the corpus (i.e. after
    ``keep_representatives``/dedup)."""
    import json

    from validatelite_spark.sources import fsutil

    p = json.loads(fsutil.read_utf8(
        new_docs.sparkSession,
        f"{path.rstrip('/')}/_minhash_params.json"))
    t = _shingle_table(new_docs, text_col, key_col, p["n"]).cache()
    ex = t.select("k", F.explode("sh").alias("s"))
    _band_table(ex, p["bands"], p["rows_per_band"]).write.mode(
        "append").parquet(f"{path}/bands")
    ex.write.mode("append").parquet(f"{path}/shingles")
    t.select("k", "sz").write.mode("append").parquet(f"{path}/docs")
    t.unpersist()


def incremental_minhash_pairs(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.7,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and a persisted corpus index
    (``minhash_index_write``): ``(old_id, new_id, jaccard)``.

    Only the new batch is shingled; candidates come from joining its
    band hashes against the stored ``bands/`` table (shuffle keyed by
    the tiny (band, sig) pair), and exact-Jaccard verification joins the
    stored ``shingles/`` against the new batch's — ids + shingle strings
    only, same lean shape as ``minhash_lsh_pairs``. Output matches the
    exhaustive cross-corpus Jaccard at LSH recall ≈ 1 (b=32, r=3 ⇒ miss
    prob ≈ 2e-6 at j = 0.7). Internal new×new dedup stays
    ``minhash_lsh_pairs`` — this operator is the cross edge.

    ``bucket_cap``: an INDEX bucket past the cap contributes only its
    min-id member as the candidate target (instead of fanning every new
    collision out to all B old members — O(B·batch) rows from one hot
    bucket). A deduped index should have no oversized buckets (its
    near-dup clusters were collapsed before indexing), so the cap is a
    guard, not a working mode; the downstream dedup use (``is this new
    doc a dup of ANYTHING old``) needs one verified edge, which the
    cluster representative provides. None → uncapped exhaustive pairs."""
    import json

    from validatelite_spark.sources import fsutil

    spark = new_docs.sparkSession
    p = json.loads(fsutil.read_utf8(
        spark, f"{path.rstrip('/')}/_minhash_params.json"))
    old_bands = spark.read.parquet(f"{path}/bands")
    old_ex = spark.read.parquet(f"{path}/shingles")
    old_sz = spark.read.parquet(f"{path}/docs")

    t_new = _shingle_table(new_docs, text_col, key_col, p["n"]).cache()
    new_ex = t_new.select("k", F.explode("sh").alias("s"))
    new_bands = _band_table(new_ex, p["bands"], p["rows_per_band"])

    # group the index side per bucket first: the join then moves one
    # row per bucket instead of one per member, and the cap has a
    # natural seam (slice the sorted member list to its min element)
    old_pb = (old_bands.groupBy("band", "sig")
              .agg(F.sort_array(F.collect_list("k")).alias("ks")))
    if bucket_cap is not None:
        # a checkpoint, not a cache(): index_dedup_batch appends to the
        # index this reads, and an append re-caches every cached plan
        # over that path
        old_pb = checkpoint(old_pb)
        _log_oversized_buckets(
            old_pb, bucket_cap, "incremental_minhash_pairs",
            "each index bucket past the cap contributes only its min-id "
            "member as a candidate target")
        old_pb = old_pb.withColumn(
            "ks", F.when(F.size("ks") > bucket_cap,
                         F.slice("ks", 1, 1)).otherwise(F.col("ks")))
    candidates = (
        new_bands.withColumnRenamed("k", "id2")
        .join(old_pb, ["band", "sig"])
        .select(F.explode("ks").alias("id1"), "id2")
        .filter(F.col("id1") != F.col("id2"))
        .distinct()
    )
    e1 = old_ex.select(F.col("k").alias("id1"), "s")
    e2 = new_ex.select(F.col("k").alias("id2"), "s")
    common = (
        candidates.join(e1, "id1")
        .join(e2, ["id2", "s"])
        .groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("common"))
    )
    # one size per key, the NEW batch's row winning: a re-crawled doc
    # whose text changed would otherwise survive distinct() as two
    # (k, sz) rows and fan the size join out into duplicate/incorrect
    # jaccard rows (ADVICE r3). Note the probe's common-shingle counts
    # still come from the STALE stored shingles for such a doc until
    # the index is rewritten — the size is just the consistent half.
    sizes = (old_sz.select("k", "sz", F.lit(0).alias("__new"))
             .unionByName(t_new.select("k", "sz",
                                       F.lit(1).alias("__new")))
             .groupBy("k")
             .agg(F.max(F.struct("__new", "sz")).alias("__w"))
             .select("k", F.col("__w.sz").alias("sz")))
    return _scored_pairs(common, sizes, "jaccard", _jaccard(), threshold)


# ---------------------------------------------------------------- simhash
def simhash_table(df: DataFrame, text_col: str = "text",
                  key_col: str = "doc_id", bits: int = 64,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """(k, sh): 64-bit SimHash per doc — per-bit sign of the sum of ±1
    votes from each distinct token's hash bit.

    ``hash_fn``: "xxhash64" (default — fastest, JVM-native) or "md5"
    (64 bits from the first 16 hex chars of md5(token) — bit-for-bit
    reproducible in any engine with md5, which is how the DuckDB oracle
    verifies the whole SimHash pipeline end-to-end).

    Physical shape: one explode + one groupBy with 64 SUM aggregates
    (map-side partial aggregation), then a driver-free fold of the sign
    bits into a long. Docs with no tokens are excluded."""
    ex = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(key_col).alias("k"),
                F.explode(F.array_distinct(tokens(F.col(text_col))))
                .alias("t"))
    )
    if hash_fn == "md5":
        hi = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(F.md5("t"), 9, 8), 16, 10).cast("long")
        h = F.shiftleft(hi, 32).bitwiseOR(lo)
    elif hash_fn == "xxhash64":
        h = F.xxhash64(F.col("t"))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # branch-free votes: sum the raw bit (0/1) plus one row count —
    # with ±1 votes the sum is b - (n - b) = 2b - n, so "votes > 0"
    # is exactly "2·b > n"; dropping the per-row CASE halves the
    # per-(row, bit) aggregate work while producing the identical
    # signature bit-for-bit
    aggs = [
        F.sum(F.shiftright(h, i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(bits)
    ]
    votes = ex.groupBy("k").agg(F.count(F.lit(1)).alias("__n"), *aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig.bitwiseXOR(
            F.when(F.col(f"b{i}") * 2 > F.col("__n"),
                   F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long")))
    return votes.select("k", sig.alias("sh"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _block_cols(blocks: int) -> list[Column]:
    """Split the 64-bit ``sh`` column into ``blocks`` bit-fields (last
    block absorbs the remainder bits)."""
    width = 64 // blocks
    out = []
    for c in range(blocks):
        shift = c * width
        w = 64 - shift if c == blocks - 1 else width
        cmask = (1 << w) - 1 if w < 64 else -1
        out.append(F.shiftrightunsigned(F.col("sh"), shift)
                   .bitwiseAND(F.lit(cmask)))
    return out


def simhash_candidates(
    sh: DataFrame,
    max_distance: int = 3,
    blocks: int | None = None,
    verify: bool = True,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Exact hamming<=max_distance pairs from a ``(k, sh)`` signature
    table via pigeonhole banding + exact verify.

    Pigeonhole (Manku/Jain/Das Sarma, WWW'07 §3): split the 64-bit hash
    into m blocks; a pair within distance d differs in at most d blocks,
    so it AGREES on some (m-d)-subset — key each doc on every
    (m-d)-combination of its block values and candidates are same-key
    collisions. Recall is exactly 1 by construction (not probabilistic);
    exact hamming verification removes false positives.

    ``blocks=None`` → m = d+1 (key = 1 block): 4 bands of 16-bit keys
    at d=3 — fine to ~10^6 docs and the DuckDB-oracle anchor shape.
    At web scale the expected same-key collisions are ~N²/2^16 per band
    (round-3 verdict #3), so the scale path passes ``blocks=m > d+1``:
    keys widen to (m-d)·(64/m) bits at the cost of C(m, m-d) bands.
    d=3, m=6 → 20 bands of ~32-bit keys → collisions ~N²/2^32 per
    band; m=8 → C(8,5) = 56 bands of 40-bit keys. Identical output
    either way — only the candidate count changes.
    (``simhash_pairs`` auto-selects m from the corpus count.)

    Candidates are expanded per bucket through the chained generators
    (one groupBy on the banding key — no self-join). ``bucket_cap``:
    a bucket past the cap is a genuine near-dup cluster sharing one
    key by design (identical signatures collide in EVERY band); it
    emits star edges (min-id hub ↔ other, B-1 rows) instead of the
    O(B²) all-pairs — see DEFAULT_BUCKET_CAP. Dedup-group connectivity
    is preserved (a cluster's members verify against the hub); the raw
    pair list within oversized buckets is reduced (logged). None →
    uncapped (oracle anchor).

    ``verify=False`` is a DIAGNOSTIC: returns the deduped candidate
    pairs WITHOUT the hamming filter, so tests/capacity planning can
    measure how many pairs a banding admits before verification."""
    from itertools import combinations

    m = blocks if blocks is not None else max_distance + 1
    if m <= max_distance:
        raise ValueError(
            f"blocks={m} must exceed max_distance={max_distance}")
    if 64 // m < 4:
        raise ValueError(f"blocks={m} leaves <4 bits per block")
    r = m - max_distance
    combos = list(combinations(range(m), r))
    if len(combos) > 128:
        raise ValueError(
            f"C({m},{r})={len(combos)} bands — lower blocks")
    bcols = _block_cols(m)
    key_cols = [f"kb{i}" for i in range(r)]
    banded = None
    for ci, sel in enumerate(combos):
        row = sh.select(
            F.struct(F.col("k"), F.col("sh")).alias("e"),
            F.lit(ci).alias("band"),
            *[bcols[s].alias(key_cols[i]) for i, s in enumerate(sel)])
        banded = row if banded is None else banded.unionByName(row)
    # struct(k, sh) sorts by k first → ks[0] is the min-id member, so
    # star mode pins the hub exactly like the minhash path
    per_bucket = (banded.groupBy("band", *key_cols)
                  .agg(F.sort_array(F.collect_list("e")).alias("ks"))
                  .filter(F.size("ks") > 1))
    if bucket_cap is not None:
        per_bucket = per_bucket.cache()
        _log_oversized_buckets(per_bucket, bucket_cap, "simhash_candidates")
    pairs = _expand_pairs(per_bucket, bucket_cap, respread=False)
    out = (pairs.select(
        F.col("id1.k").alias("id1"), F.col("id2.k").alias("id2"),
        hamming64(F.col("id1.sh"), F.col("id2.sh")).alias("distance"))
        .distinct())
    return out.filter(F.col("distance") <= max_distance) if verify else out


def _auto_blocks(n_docs: int, max_distance: int = 3) -> int | None:
    """Banding auto-selection rule for ``simhash_pairs``: narrow
    m = d+1 shape (None) at or under SIMHASH_AUTO_BLOCKS_THRESHOLD
    docs, Manku block-combination keys above it — m = 6 at the default
    d = 3 (20 bands of ~32-bit keys), widened to d+2 for larger radii
    so m > d always holds (capped at 16 → ≥4 bits per block)."""
    if n_docs <= SIMHASH_AUTO_BLOCKS_THRESHOLD:
        return None
    return min(max(6, max_distance + 2), 16)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_distance: int = 3,
    hash_fn: str = "xxhash64",
    blocks: int | str | None = "auto",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_distance.

    Banding strategy (and the ``blocks`` scale knob) documented on
    ``simhash_candidates``. ``blocks="auto"`` (default) counts the
    signature table (one cheap action on the frame that is cached for
    the candidate pass anyway) and applies ``_auto_blocks`` — narrow
    banding for small corpora (the oracle-anchor shape), Manku
    block-combination keys past SIMHASH_AUTO_BLOCKS_THRESHOLD, where
    the narrow 16-bit keys' random collisions alone would dominate the
    candidate stage. Pass None (narrow) or an int m to pin a shape;
    output is identical for any valid banding."""
    sh = simhash_table(df, text_col, key_col, hash_fn=hash_fn).cache()
    if blocks == "auto":
        blocks = _auto_blocks(sh.count(), max_distance)
    return simhash_candidates(sh, max_distance=max_distance,
                              blocks=blocks)


# -------------------------------------------------------- dedup groups
def dedup_groups(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, group_id).

    ``group_id`` is the minimum doc id in the component, so labels are
    deterministic at any partitioning/cluster size. Min-label
    propagation: each iteration every vertex takes the min of its own
    and its neighbors' labels; converges in O(graph diameter) rounds —
    near-dup components are cliques-ish, so typically 2-3.

    Scale shape: one shuffle per round (edges ⋈ labels then
    groupBy(v).min), label table is (id, id) only, and each round is a
    ``session.checkpoint`` so the plan/lineage does not grow with
    iterations (the standard iterative-algorithm hygiene; reliable when
    the session sets ``spark.checkpoint.dir``). Returns only vertices
    that appear in ``pairs`` — docs with no near-dup are their own
    group by definition."""
    # materialize the (possibly expensive) pair plan ONCE — the
    # bidirectional union below would otherwise recompute it twice
    pairs = checkpoint(pairs.select(id1, id2))
    edges = checkpoint(pairs.select(F.col(id1).alias("src"),
                                    F.col(id2).alias("dst"))
                       .union(pairs.select(F.col(id2).alias("src"),
                                           F.col(id1).alias("dst")))
                       .distinct())
    labels = checkpoint(edges.select(F.col("src").alias("v")).distinct()
                        .withColumn("label", F.col("v")))

    def _label_sum(lbl):
        # exact decimal sum — the convergence witness. Labels only ever
        # DECREASE (the min-aggregate includes each vertex's own label
        # and the vertex set is fixed), so the sum strictly decreases
        # iff any label changed; comparing two scalar sums replaces the
        # per-round join+count job (two extra shuffles) the loop used
        # to pay. decimal(38,0) cannot overflow below ~10^19 vertices
        # of 64-bit ids.
        return (lbl.agg(F.sum(F.col("label").cast("decimal(38,0)"))
                        .alias("s")).collect()[0]["s"])

    def _round(labels, prev_sum):
        msgs = (edges.join(labels.withColumnRenamed("v", "src"), "src")
                .select(F.col("dst").alias("v"), "label"))
        new = checkpoint(labels.unionByName(msgs)
                         .groupBy("v").agg(F.min("label").alias("label")))
        new_sum = _label_sum(new)
        return new, new_sum, int(prev_sum != new_sum)

    changed = 0
    cur_sum = _label_sum(labels)
    for _ in range(max_iters):
        labels, cur_sum, changed = _round(labels, cur_sum)
        if changed == 0:
            break
    if changed > 0:
        # the final allowed iteration still changed labels — that can
        # mean EITHER diameter == max_iters (labels now correct, just
        # unproven) or diameter > max_iters (labels wrong). One extra
        # verification round disambiguates before raising (ADVICE r2).
        labels, cur_sum, changed = _round(labels, cur_sum)
        if changed > 0:
            raise RuntimeError(
                f"dedup_groups did not converge in {max_iters} "
                "iterations (labels still changing); raise "
                "max_iters — near-dup components are normally "
                "diameter 2-3")
    return labels.select(F.col("v").alias("doc_id"),
                         F.col("label").alias("group_id"))


#: above this many group rows the keep_representatives join switches
#: from broadcast to a shuffled sort-merge join. 8M (id, id) longs is
#: ~128 MB serialized — comfortably under executor broadcast budgets,
#: and web corpora where 30-50% of docs have a near-dup blow far past
#: it, so the gate matters exactly where the broadcast would OOM.
KEEP_BROADCAST_THRESHOLD = 8_000_000


def keep_representatives(
    df: DataFrame,
    groups: DataFrame,
    key_col: str = "doc_id",
) -> DataFrame:
    """Drop all but one doc per near-dup group: keep the doc whose id IS
    the group label (the min id — deterministic), plus every doc in no
    group. ``groups`` is dedup_groups' output (only docs WITH a
    near-dup appear).

    The join is size-gated like ``decontaminate``'s benchmark side
    (operators/repetition.py): at typical small-corpus dup rates the
    groups table broadcasts, but at web scale 30-50% of docs carry a
    near-dup — billions of group rows — and an unconditional broadcast
    is a driver/executor OOM (round-3 verdict #2). The groups table is
    counted once at plan-construction time and broadcasts only up to
    ``KEEP_BROADCAST_THRESHOLD`` rows; above it a plain shuffled
    equi-join on the doc key (uniform — ids, not content) carries
    identical semantics."""
    g = groups.withColumnRenamed("doc_id", key_col)
    broadcast = g.count() <= KEEP_BROADCAST_THRESHOLD
    g_side = F.broadcast(g) if broadcast else g.hint("merge")
    return (df.join(g_side, key_col, "left")
            .filter(F.col("group_id").isNull()
                    | (F.col(key_col) == F.col("group_id")))
            .drop("group_id"))


def keep_best_representatives(
    df: DataFrame,
    groups: DataFrame,
    score_col: str,
    key_col: str = "doc_id",
) -> DataFrame:
    """Quality-priority keep-one: per near-dup group keep the member
    with the HIGHEST ``score_col`` (tie → min key; NULL score sorts
    last), plus every doc in no group.

    ``keep_representatives`` keeps the min-id doc — deterministic but
    quality-blind; the RefinedWeb/FineWeb convention keeps the longest
    or highest-classifier-score member of each cluster so dedup never
    discards the best copy. ``groups`` is ``dedup_groups`` output.

    Scale shape: winner selection is a map-side-combinable
    ``groupBy(group_id).agg(min(struct(-score, key)))`` over the
    members-only join (never a window over the corpus); both joins key
    on uniform ids. The winner table (≤ one row per group) re-enters
    via the same size-gated broadcast as ``keep_representatives``."""
    g = groups.withColumnRenamed("doc_id", key_col)
    broadcast = g.count() <= KEEP_BROADCAST_THRESHOLD
    g_side = F.broadcast(g) if broadcast else g.hint("merge")
    # NULL score → -inf so a scored member always beats an unscored one
    neg = -F.coalesce(F.col(score_col).cast("double"),
                      F.lit(float("-inf")))
    winners = (df.select(F.col(key_col), F.col(score_col))
               .join(g_side, key_col)
               .groupBy("group_id")
               .agg(F.min(F.struct(neg.alias("n"),
                                   F.col(key_col).alias("k")))
                    .alias("__w"))
               .select("group_id", F.col("__w.k").alias("__wk")))
    w_side = F.broadcast(winners) if broadcast else winners.hint("merge")
    return (df.join(g_side, key_col, "left")
            .join(w_side, "group_id", "left")
            .filter(F.col("group_id").isNull()
                    | (F.col(key_col) == F.col("__wk")))
            .drop("group_id", "__wk"))


def dedup_census(groups: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Cluster-size histogram over ``dedup_groups`` output:
    ``(cluster_size, n_clusters, n_docs)``, ascending by size.

    The number a curation report leads with — how much of the corpus is
    duplicated, and in what SHAPE: many small pairs (organic near-dups)
    vs a few giant clusters (template/spam farms — exactly the
    populations the LSH ``bucket_cap`` star-edge path exists for, see
    DEFAULT_BUCKET_CAP). Docs with no near-dup never appear in
    ``groups``; add them as size-1 clusters corpus-side if needed.

    Two map-side-combinable aggregates, the second over the cluster
    table (≤ one row per cluster) — no window, no collect."""
    sizes = (groups.groupBy("group_id")
             .agg(F.count(F.lit(1)).alias("cluster_size")))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .select("cluster_size", "n_clusters",
                    (F.col("cluster_size") * F.col("n_clusters"))
                    .alias("n_docs"))
            .orderBy("cluster_size"))
