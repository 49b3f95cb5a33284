"""Similarity search over embedding columns (array<float>).

- **Brute-force cosine top-k** — the exact baseline: broadcast the query
  set (it's small), cross-join against the corpus, dot products via
  ``F.zip_with`` + ``F.aggregate`` (pure JVM, no Python), rank per query
  with a window. One shuffle (the per-query top-k window); the scan side
  never shuffles. This is the right plan at any corpus size as long as
  the query set stays broadcastable.
- **Random-hyperplane LSH top-k** — the scale path: L independent hash
  tables of b sign bits each (OR-amplification); a pair is a candidate
  if it collides in any table, and each query additionally probes the b
  single-bit-flip buckets per table (multi-probe). Candidate id pairs
  dedup across tables before any cosine is computed. Approximate: recall
  measured against brute force in the tests.
- **embedding_cosine_pairs** — near-duplicate pairs (cosine >= t) used by
  the dedup suite.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def _cosine_udf():
    """Arrow-batched pairwise cosine: one einsum per batch instead of an
    interpreted F.aggregate tree per row (CodegenFallback — BENCH.md
    lesson 2). Used on the approximate (LSH) candidate-scoring paths;
    the exact paths keep the pure-Column expression as the DuckDB-parity
    anchor."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(v1: pd.Series, v2: pd.Series) -> pd.Series:
        a = np.array(v1.tolist(), dtype=np.float64)
        b = np.array(v2.tolist(), dtype=np.float64)
        num = np.einsum("ij,ij->i", a, b)
        den = (np.sqrt(np.einsum("ij,ij->i", a, a))
               * np.sqrt(np.einsum("ij,ij->i", b, b)))
        return pd.Series(num / den)

    return cos


def _dot_udf():
    """Arrow-batched pairwise dot product — the stored-norm scoring
    companion to ``_cosine_udf``: callers divide by precomputed norms,
    so only the dot crosses into Python. The products are accumulated
    dimension by dimension, left to right — the order of the ``_dot``
    Column fold — so each value equals ``_dot``'s bit for bit (an
    ``einsum`` sums in another order and differs in the last bits;
    ``semdedup._max_prior_cos`` uses the same accumulation)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dot(v1: pd.Series, v2: pd.Series) -> pd.Series:
        a = np.array(v1.tolist(), dtype=np.float64)
        b = np.array(v2.tolist(), dtype=np.float64)
        acc = np.zeros(len(a))
        for d in range(a.shape[1]):
            acc += a[:, d] * b[:, d]
        return pd.Series(acc)

    return dot


def _candidate_score(round_to: int):
    """score = round(dot(cv, qv) / (cn · qn), round_to), the dot from
    the Arrow-batched ``_dot_udf`` (one pass per batch instead of the
    ``F.aggregate`` fold, a CodegenFallback interpreted per candidate
    row — CLAUDE.md rule 3), equal to the fold bit for bit, so the
    DuckDB oracles still anchor it (pinned by tests/test_ivf.py)."""
    d = _dot_udf()(F.col("cv"), F.col("qv"))
    return F.round(d / (F.col("cn") * F.col("qn")), round_to)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per query.

    Output: (query_id, neighbor_id, score, rank), rank 1..k, ties broken
    by neighbor_id for determinism. Self-matches excluded."""
    # norms are precomputed per vector (not per pair) — the same
    # dot / (norm * norm) arithmetic, ~3x fewer array reductions
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       _norm(F.col(vec_col)).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv"),
                      _norm(F.col(vec_col)).alias("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score",
                    F.round(_dot(F.col("cv"), F.col("qv"))
                            / (F.col("cn") * F.col("qn")), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# ------------------------------------------------------------------- LSH
def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes via a hash-based Box-
    Muller — reproducible across runs/cluster sizes with no RNG state."""
    import numpy as np

    rng = np.random.default_rng(seed)  # deterministic seed → same planes
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit-signature: sign of <v, plane_i> per plane, folded into a long."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(vec, arr) > 0,
                     F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0))
        sig = sig.bitwiseXOR(bit.cast("long"))
    return sig


def _table_signatures(vec: Column, tables: list[list[list[float]]]) -> Column:
    """array<long> — one LSH signature per hash table (pure Column).

    Kept as the no-Python fallback; the hot path is
    ``_table_signatures_pandas``: ``F.aggregate`` is CodegenFallback
    (interpreted per row), so L*b of them per vector is ~10-40x slower
    than one Arrow-batched matmul (BENCH.md lesson 2)."""
    return F.array(*[lsh_signature(vec, planes) for planes in tables])


def _table_signatures_pandas(tables: list[list[list[float]]]):
    """Vectorized signature UDF: ONE numpy matmul per Arrow batch
    computes all L*b plane dots, then sign bits fold into L longs.
    Same math as the Column version (sign of <v, plane>), same
    everywhere → partition/cluster-size invariant."""
    from pyspark.sql.functions import pandas_udf

    planes = np.asarray(tables, dtype=np.float64)  # (L, b, dim)
    n_tables, n_planes, dim = planes.shape
    flat = planes.reshape(n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<long>")
    def sigs(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype=np.float64)  # (n, dim)
        bits = (mat @ flat.T) > 0                      # (n, L*b)
        folded = bits.reshape(len(mat), n_tables, n_planes) @ weights
        return pd.Series(list(folded))

    return sigs


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    round_to: int = 6,
    dim: int | None = None,
    multi_probe: bool = True,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k with OR-amplified random-hyperplane LSH.

    ``n_tables`` independent hash tables of ``n_planes`` sign bits each:
    a corpus vector is indexed once per table (the standard L× storage
    tradeoff); a (query, vector) pair is a candidate if they collide in
    ANY table — recall 1-(1-p^b)^L instead of the single-table p^b, where
    p = 1 - angle/π. ``multi_probe``: each query also probes the b
    single-bit-flip buckets per table (near misses usually differ in
    exactly the one plane that splits them).

    Physical shape: the bucket join carries only ids; candidate pairs are
    deduped ACROSS tables before any cosine is computed, then vectors are
    joined back by id — so the L-fold index never multiplies the scoring
    work. ``dim``: pass the embedding dimensionality to avoid a
    driver-side ``first()`` job at plan-construction time."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    tables = [_hyperplanes(dim, n_planes, seed + 7919 * t)
              for t in range(n_tables)]

    sig_udf = _table_signatures_pandas(tables)

    c_vecs = corpus.select(F.col(id_col).alias("neighbor_id"),
                           F.col(vec_col).alias("cv"))
    c_idx = c_vecs.select(
        "neighbor_id",
        F.posexplode(sig_udf(F.col("cv"))).alias("table", "bucket"))

    q_vecs = queries.select(F.col(id_col).alias("query_id"),
                            F.col(vec_col).alias("qv"))
    # per-table signature, then (multi-probe) its b single-bit flips —
    # flips are integer ops on the already-computed signature
    probe_buckets = [F.col("sig")]
    if multi_probe:
        probe_buckets += [F.col("sig").bitwiseXOR(F.lit(1 << i).cast("long"))
                          for i in range(n_planes)]
    q_idx = (
        q_vecs.select("query_id",
                      F.posexplode(sig_udf(F.col("qv")))
                      .alias("table", "sig"))
        .select("query_id", "table",
                F.explode(F.array(*probe_buckets)).alias("bucket")))

    candidates = (
        c_idx.join(F.broadcast(q_idx), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        candidates.join(c_vecs, "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .withColumn("score",
                    F.round(_cosine_udf()(F.col("cv"), F.col("qv")),
                            round_to))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 0,
    round_to: int = 6,
    dim: int | None = None,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs with cosine >= threshold.

    n_planes=0 → exact all-pairs (quadratic; test scale / oracle parity).
    n_planes>0 → OR-amplified LSH: ``n_tables`` independent tables of
    ``n_planes`` sign bits; a pair is a candidate if it collides in ANY
    table (recall 1-(1-p^b)^L, p = 1 - angle/π). Candidate id pairs are
    deduped across tables BEFORE any cosine is computed, then vectors
    join back by id — the 100 TB path: no all-pairs crossJoin, shuffles
    carry ids + 64 signature bits, and scoring touches candidates only.
    At near-dup thresholds (≥0.9, p≈0.86) b=8/L=16 gives recall ≈0.996
    while pruning ~94% of random pairs; lower thresholds need smaller b
    (the default b=4/L=16 reaches ≈0.94 recall at cosine 0.4).
    ``dim``: pass the embedding dimensionality to avoid a driver-side
    ``first()`` job at plan time."""
    a = df.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"))
    b = df.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"))
    if n_planes > 0:
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        tables = [_hyperplanes(dim, n_planes, seed + 7919 * t)
                  for t in range(n_tables)]
        idx = df.select(
            F.col(id_col).alias("k"),
            F.posexplode(_table_signatures_pandas(tables)(F.col(vec_col)))
            .alias("table", "bucket"))
        i1 = idx.select(F.col("k").alias("id1"), "table", "bucket")
        i2 = idx.select(F.col("k").alias("id2"), "table", "bucket")
        candidates = (i1.join(i2, ["table", "bucket"])
                      .filter(F.col("id1") < F.col("id2"))
                      .select("id1", "id2").distinct())
        joined = candidates.join(a, "id1").join(b, "id2")
        score = _cosine_udf()(F.col("v1"), F.col("v2"))
    else:
        # exact path: pure-Column arithmetic — the DuckDB oracle anchor;
        # norms precomputed per vector (not per pair)
        a = a.withColumn("n1", _norm(F.col("v1")))
        b = b.withColumn("n2", _norm(F.col("v2")))
        joined = a.crossJoin(b).filter(F.col("id1") < F.col("id2"))
        score = (_dot(F.col("v1"), F.col("v2"))
                 / (F.col("n1") * F.col("n2")))
    return (
        joined.withColumn("score", F.round(score, round_to))
        .filter(F.col("score") >= threshold)
        .select("id1", "id2", "score")
    )


# ------------------------------------------------------------------- IVF
def _centroids_of(corpus: DataFrame, n_centroids: int,
                  id_col: str, vec_col: str) -> list[list[float]]:
    """Deterministic coarse-quantizer seed: the first n_centroids vectors
    by id. ``kmeans_centroids`` refines these with distributed Lloyd
    iterations; probing depth covers any remaining quantization slack."""
    rows = (corpus.orderBy(id_col).limit(n_centroids)
            .select(vec_col).collect())
    return [list(r[0]) for r in rows]


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    round_to: int = 6,
) -> list[list[float]]:
    """Distributed Lloyd refinement of the deterministic first-N seed.

    Each iteration assigns every vector to its argmax-dot centroid (pure
    Column expr, same rule ``ivf_topk`` uses at query time) and recomputes
    centroids as the per-bucket mean. The mean is computed via
    posexplode → groupBy(bucket, dim).avg: partial aggregation runs
    map-side, so the shuffle carries only k*dim rows per input partition
    — scale-safe at any corpus size. Only the k*dim centroid matrix ever
    reaches the driver (the standard broadcast-kmeans loop).

    Centroids are rounded to ``round_to`` decimals after each iteration
    so the result is partition-count invariant (float summation order
    inside avg() is not; rounding absorbs it — rule 6 in CLAUDE.md).
    Empty buckets keep their previous centroid."""
    cents = _centroids_of(corpus, n_centroids, id_col, vec_col)
    for _ in range(iters):
        assigned = corpus.select(
            _bucket_udf(cents)(F.col(vec_col)).alias("bucket"),
            F.posexplode(F.col(vec_col).cast("array<double>"))
            .alias("dim", "val"))
        means = (assigned.groupBy("bucket", "dim")
                 .agg(F.avg("val").alias("m")).collect())
        nxt = [list(c) for c in cents]
        for r in means:
            nxt[r["bucket"]][r["dim"]] = round(r["m"] + 1e-12, round_to)
        cents = nxt
    return cents


def _bucket_udf(cents: list[list[float]]):
    """argmax-dot centroid id per vector — ONE matmul per Arrow batch
    (the production assign step the ivf_topk docstring promises; a
    k*dim literal-array Column chain is CodegenFallback and interpreted
    per row). np.argmax picks the FIRST index of a tied max, matching
    array_position(array_max) semantics."""
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray(cents, dtype=np.float64).T  # (dim, k)

    @pandas_udf("int")
    def bucket(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)
        return pd.Series((m @ mat).argmax(axis=1).astype("int32"))

    return bucket


def _probe_udf(cents: list[list[float]], n_probe: int):
    """Top-``n_probe`` centroid ids per query vector by dot score —
    one matmul + argsort per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray(cents, dtype=np.float64).T

    @pandas_udf("array<int>")
    def probes(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)
        idx = np.argsort(-(m @ mat), axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.tolist() for row in idx.astype("int32")])

    return probes


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    round_to: int = 6,
    refine_iters: int = 0,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to their
    nearest-centroid bucket ONCE (argmax of centroid dots — pure Column
    expr); each query probes its ``n_probe`` best buckets, so search
    touches ~n_probe/n_centroids of the corpus. ``n_probe=n_centroids``
    degrades to exact brute force (tested).

    ``refine_iters > 0`` runs that many distributed Lloyd iterations
    (``kmeans_centroids``) to tighten the quantizer before bucketing —
    better recall at the same ``n_probe``. ``centroids`` accepts a
    precomputed quantizer (e.g. trained once, reused across queries).

    This call assigns the corpus at query time; for the 100 TB shape —
    assign ONCE, probe many times against a partition-pruned scan — use
    ``ivf_index_write`` + ``ivf_index_probe``."""
    if centroids is not None:
        cents = centroids
    elif refine_iters > 0:
        cents = kmeans_centroids(corpus, n_centroids, id_col, vec_col,
                                 iters=refine_iters, round_to=round_to)
    else:
        cents = _centroids_of(corpus, n_centroids, id_col, vec_col)
    n_centroids = len(cents)
    n_probe = min(n_probe, n_centroids)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
        _bucket_udf(cents)(F.col(vec_col)).alias("bucket"))

    # queries: top n_probe buckets by centroid score (Arrow matmul)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        F.explode(_probe_udf(cents, n_probe)(F.col(vec_col)))
        .alias("bucket"))

    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", _candidate_score(round_to))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank"))


# ---------------------------------------------------------- IVF on disk
def ivf_index_write(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    centroids: list[list[float]] | None = None,
    round_to: int = 6,
) -> list[list[float]]:
    """Build and persist an IVF index: the corpus is bucket-assigned
    ONCE (Arrow-matmul argmax, same rule as ``ivf_topk``) and written
    ``partitionBy("bucket")`` so every later probe is a PARTITION-PRUNED
    scan touching only ~n_probe/n_centroids of the files. Per-vector
    norms are precomputed into the index (``__norm``) so probes never
    re-reduce the arrays. The quantizer (k×dim floats) rides along as a
    ``_ivf_centroids.json`` sidecar (underscore-prefixed → invisible to
    Spark's parquet reader, like ``_SUCCESS``; written through the
    Hadoop FS client — the same one as the parquet — so a URI-scheme
    index path works). Returns the centroids."""
    import json

    from validatelite_spark.sources import fsutil

    if centroids is not None:
        cents = centroids
    elif refine_iters > 0:
        cents = kmeans_centroids(corpus, n_centroids, id_col, vec_col,
                                 iters=refine_iters, round_to=round_to)
    else:
        cents = _centroids_of(corpus, n_centroids, id_col, vec_col)
    (corpus.select(
        F.col(id_col), F.col(vec_col),
        _norm(F.col(vec_col)).alias("__norm"),
        _bucket_udf(cents)(F.col(vec_col)).alias("bucket"))
     .write.mode("overwrite").partitionBy("bucket").parquet(path))
    fsutil.write_utf8(corpus.sparkSession,
                      f"{path.rstrip('/')}/_ivf_centroids.json",
                      json.dumps(cents))
    return cents


#: above this many query rows ``ivf_index_probe`` stops collecting the
#: query side to the driver. 100k probe rows × (id + vector + norm) is
#: the comfortable ceiling for a driver round-trip + broadcast; a
#: corpus-vs-corpus retrieval (query set ≈ corpus) blows far past it
#: and must stay distributed end to end.
IVF_PROBE_COLLECT_THRESHOLD = 100_000


def ivf_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Top-k ANN against a persisted ``ivf_index_write`` index.

    Two physical shapes, same results (size-gated like
    ``keep_representatives`` — VERDICT r4 #6):

    - **small query side** (≤ ``IVF_PROBE_COLLECT_THRESHOLD`` rows):
      probe buckets are collected (≤ |queries|·n_probe ints) and
      applied as a LITERAL ``bucket IN (...)`` predicate, so Catalyst
      prunes the non-probed bucket partitions at planning time
      (``PartitionFilters`` on the scan — pinned by tests/test_ivf.py),
      and the rebuilt query rows broadcast into the scoring join.
    - **large query side** (count above the threshold): NOTHING is
      collected — the probe projection stays a lazy plan evaluated
      exactly once inside a shuffled join on ``bucket``.
      Corpus-vs-corpus retrieval probes essentially every bucket
      anyway, so the literal pruning the collect path buys is
      worthless there; the join key's cardinality is ``n_centroids``,
      so at that scale build the index with n_centroids ≈ √corpus
      (the standard IVF sizing) to keep per-bucket candidate sets —
      and the bucket-join partitions AQE splits — bounded.

    The query side is counted once to pick the path. Scoring is
    identical either way and identical to ``ivf_topk``'s: stored norms,
    the fold-order Arrow dot (``_candidate_score``), same rounding, same
    tie-break."""
    import json

    from validatelite_spark.sources import fsutil

    cents = json.loads(fsutil.read_utf8(
        spark, f"{path.rstrip('/')}/_ivf_centroids.json"))
    n_probe = min(n_probe, len(cents))

    q_plan = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        F.explode(_probe_udf(cents, n_probe)(F.col(vec_col)))
        .alias("bucket"))
    c_all = spark.read.parquet(path).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.col("__norm").alias("cn"), "bucket")
    if queries.count() <= IVF_PROBE_COLLECT_THRESHOLD:
        # materialize the probe ONCE driver-side and rebuild — no
        # second UDF evaluation and, unlike .cache(), nothing pinned
        # in executor storage for the session lifetime
        q_rows = q_plan.collect()
        q = spark.createDataFrame(q_rows, q_plan.schema)
        buckets = sorted({r["bucket"] for r in q_rows})
        scored = (c_all.filter(F.col("bucket").isin(buckets))
                  .join(F.broadcast(q), "bucket"))
    else:
        # distributed end to end: q_plan feeds exactly one join, so it
        # evaluates once with no persist and no driver round-trip
        scored = c_all.join(q_plan, "bucket")
    scored = (scored
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("score", _candidate_score(round_to)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank"))


def centroid_similarity(
    df: DataFrame,
    vec_col: str = "embedding",
    by: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Pairwise cosine similarity between per-group embedding
    centroids: (l1, l2, cos) for l1 < l2 — the cluster/domain topology
    report (which sources or semantic clusters are near-duplicates of
    each other in embedding space; feeds SemDeDup-style cluster-merge
    decisions and mixture design).

    Scale shape: everything stays in LONG format — (group, dim, value)
    — so there is no collect_list whose element order a partitioning
    could change. One posexplode + groupBy(group, dim) builds the
    centroids (|groups| × dim rows — tiny), the pair join is on the
    dim key over that tiny table, and dot/norms aggregate in the same
    pass. Vectors cast to double BEFORE any arithmetic (CLAUDE.md
    rule 2); cosine rounded at the end."""
    e = (df.filter(F.col(vec_col).isNotNull() & F.col(by).isNotNull())
         .select(F.col(by).alias("g"),
                 F.posexplode(F.col(vec_col).cast("array<double>"))
                 .alias("pos", "x")))
    cent = e.groupBy("g", "pos").agg(F.avg("x").alias("c"))
    a = cent.select(F.col("g").alias("l1"), "pos",
                    F.col("c").alias("ca"))
    b = cent.select(F.col("g").alias("l2"), "pos",
                    F.col("c").alias("cb"))
    return (a.join(b, "pos")
            .filter(F.col("l1") < F.col("l2"))
            .groupBy("l1", "l2")
            .agg(F.sum(F.col("ca") * F.col("cb")).alias("__dot"),
                 F.sum(F.col("ca") * F.col("ca")).alias("__na"),
                 F.sum(F.col("cb") * F.col("cb")).alias("__nb"))
            .select("l1", "l2",
                    F.round(F.col("__dot")
                            / (F.sqrt("__na") * F.sqrt("__nb"))
                            + 1e-9, round_to).alias("cos")))


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "keep",
    round_to: int = 6,
) -> DataFrame:
    """Embedding-space eval-set decontamination — the third
    decontamination leg beside the canonical-url anti-join
    (``dedup.url_decontaminate``) and the n-gram overlap scrub
    (``repetition.decontaminate``): drop every corpus row whose
    embedding has cosine >= ``threshold`` to ANY benchmark vector
    (paraphrased or re-rendered benchmark copies that share no exact
    n-grams still land next to the original in embedding space).

    ``mode='keep'`` returns the surviving corpus rows (all columns);
    ``'report'`` returns (id, max_score) per contaminated row.

    Scale shape: the benchmark side is SMALL BY CONTRACT (an eval set,
    like the broadcast n-gram blocklist) — explicit ``F.broadcast``
    makes the cross product map-side, norms are precomputed per vector
    (never per pair), and the verdict re-enters the corpus as an
    anti-join on id. For benchmark sets too large to broadcast, bucket
    both sides through ``embedding_cosine_pairs``' LSH tables instead
    and anti-join its candidate verdicts. Pure-Column arithmetic —
    DuckDB replays the whole decision."""
    if mode not in ("keep", "report"):
        raise ValueError(f"mode must be keep|report, got {mode!r}")
    b = (benchmark.select(F.col(vec_col).alias("__bv"))
         .withColumn("__bn", _norm(F.col("__bv"))))
    scored = (corpus
              .select(F.col(id_col).alias("__cid"),
                      F.col(vec_col).alias("__cv"))
              .withColumn("__cn", _norm(F.col("__cv")))
              .crossJoin(F.broadcast(b))
              .withColumn("score",
                          F.round(_dot(F.col("__cv"), F.col("__bv"))
                                  / (F.col("__cn") * F.col("__bn")),
                                  round_to))
              .filter(F.col("score") >= threshold))
    if mode == "report":
        return (scored.groupBy(F.col("__cid").alias(id_col))
                .agg(F.max("score").alias("max_score"))
                .orderBy(id_col))
    bad = scored.select(F.col("__cid").alias(id_col)).distinct()
    return corpus.join(bad, id_col, "left_anti")
