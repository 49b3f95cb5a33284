"""SemDeDup-style semantic deduplication over an embedding column.

Algorithm (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540): cluster
the corpus by embedding, then inside each cluster drop every document
whose cosine similarity to a *better-ranked* cluster member reaches
``eps``. Rank is ascending similarity to the cluster centroid — the
paper's keep-farthest-from-centroid policy (their best variant) —
with ties broken by id. The dominance rule matches the published
implementation's upper-triangular max: a document is dropped when ANY
better-ranked neighbour (itself kept or dropped) is within ``eps``;
dominators are NOT re-checked for survival.

Spark-first shape (nothing here is a port — the reference engine
/root/reference has no embedding surface at all):

- **Assignment** is either ``mode="kmeans"`` (argmax-dot against a
  k-centroid matrix — one Arrow matmul per batch via
  ``similarity._bucket_udf``; centroids from ``kmeans_centroids`` when
  ``iters > 0``, else the deterministic first-k seed) or
  ``mode="lsh"`` (sign-bit signature against seeded hyperplanes — the
  fully SQL-replayable scale path that needs no driver-side centroid
  state at all).
- **Ranking centroids are always the per-bucket mean**, recomputed
  distributed: posexplode → groupBy(bucket, dim).avg runs its partial
  aggregation map-side, so the shuffle carries k·dim rows per input
  partition, and the k-row centroid table broadcasts back. (At Lloyd
  convergence the cluster centroid IS the bucket mean, so this matches
  SemDeDup's ranking exactly while staying collect-free.)
- **Dominance** is a within-bucket self-join on (bucket, rank) ids
  only; vectors join back by id for the candidate cosines — the same
  candidates-then-join-back shape as ``embedding_cosine_pairs``.
  The join is quadratic in cluster size BY DESIGN (that is SemDeDup's
  own contract: k is chosen so clusters stay small — the paper uses
  50k clusters for LAION-440M; at 10^12 docs k grows with n so n/k
  stays bounded). ``max_cluster_size`` is the guard for natural skew:
  buckets above the cap are conservatively kept whole (no drops) and
  counted, mirroring ``DEFAULT_DF_CAP`` in operators/dedup.py.

Centroid similarities are pure-Column (``F.aggregate`` fold — the
DuckDB-parity anchor; the oracle replays every step including the
bucket means). Pairwise dominance runs in ONE per-bucket Arrow kernel
(``_max_prior_cos``) whose per-dimension accumulation order reproduces
the Column fold bit-for-bit — see its docstring. Rows with a NULL
vector are kept verbatim (bucket/centroid_sim NULL) — they cannot be
compared. Zero-norm vectors produce NaN cosines and are likewise never
dropped... except via the engine's NaN-is-largest compare, identical on
both the old join shape and the kernel (pinned in tests).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import (_bucket_udf, _centroids_of, _dot,
                         _hyperplanes, _norm, _table_signatures_pandas,
                         kmeans_centroids)

DEFAULT_EPS = 0.95


def semdedup_assign(
    df: DataFrame,
    mode: str = "kmeans",
    n_clusters: int = 8,
    iters: int = 3,
    n_planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, bucket) — cluster assignment for non-NULL vectors.

    kmeans: bucket = argmax dot(v, centroid) (ties → lowest id, the
    np.argmax rule). iters=0 uses the deterministic first-k seed
    directly — that variant is exactly SQL-replayable; iters>0 runs
    distributed Lloyd refinement (pytest-verified vs a numpy
    reference). lsh: bucket = n_planes sign bits folded into a long
    (seeded hyperplanes — SQL-replayable at any bucket count).
    """
    nn = (df.select(F.col(id_col).alias("id"),
                    F.col(vec_col).cast("array<double>").alias("v"))
          .filter(F.col("v").isNotNull()))
    if mode == "kmeans":
        if iters > 0:
            cents = kmeans_centroids(nn, n_clusters, "id", "v", iters=iters)
        else:
            cents = _centroids_of(nn, n_clusters, "id", "v")
        bucket = _bucket_udf(cents)(F.col("v")).cast("long")
    elif mode == "lsh":
        if dim is None:
            dim = len(nn.select("v").first()[0])
        planes = _hyperplanes(dim, n_planes, seed)
        bucket = F.element_at(
            _table_signatures_pandas([planes])(F.col("v")), 1)
    else:
        raise ValueError(f"unknown semdedup mode: {mode!r}")
    return nn.withColumn("bucket", bucket)


def bucket_mean_centroids(assigned: DataFrame,
                          round_to: int = 6) -> DataFrame:
    """(bucket, centroid array<double>) — distributed per-bucket mean.

    posexplode → groupBy(bucket, dim).avg (map-side partials; the
    shuffle carries k·dim rows per partition, never vectors), then the
    array is rebuilt with a sorted collect_list over exactly |dims|
    rows per bucket. Means are rounded (+1e-12 tie-break first) so the
    result is partition-count invariant — float summation order inside
    avg() is not, and the rounding absorbs it (CLAUDE.md rule 6/2).
    """
    exploded = assigned.select(
        "bucket", F.posexplode(F.col("v")).alias("dim", "val"))
    means = (exploded.groupBy("bucket", "dim")
             .agg(F.round(F.avg("val") + F.lit(1e-12), round_to)
                  .alias("m")))
    return (means.groupBy("bucket")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"]).alias("centroid")))


def _max_prior_cos(ranked: DataFrame,
                   block_rows: int = 2048) -> DataFrame:
    """(id, max_cos) per bucket member: the maximum cosine to any
    better-ranked member (rank = centroid_sim ASC, id ASC) of the same
    bucket; -inf when no valid predecessor exists.

    One ``applyInPandas`` per bucket — the quadratic dominance work is
    SemDeDup's own contract (clusters are sized so n/k stays bounded),
    but it runs as numpy row-blocks instead of a candidate-pair
    self-join, so nothing pair-shaped ever shuffles. Float parity with
    the pure-Column path it replaces (the DuckDB-oracle anchor):
    every dot and squared norm is accumulated dimension-by-dimension in
    ascending order — exactly the ``F.aggregate`` fold's left-to-right
    order — so each per-pair cosine is the bit-identical IEEE double,
    and max() of identical values is identical. Members with NaN
    centroid_sim neither dominate nor are dominated (the NULL-comparison
    semantics of the join shape this replaces). ``block_rows`` bounds
    kernel memory at block_rows × bucket_size doubles."""
    import numpy as np

    id_type = dict(ranked.dtypes)["id"]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        csim = pdf["centroid_sim"].to_numpy(dtype=np.float64)
        v = np.array(pdf["v"].tolist(), dtype=np.float64)
        order = np.lexsort((ids, csim))
        vs = v[order]
        valid = ~np.isnan(csim[order])
        n, dim = vs.shape
        # squared norms, accumulated per dimension (fold order)
        sq = np.zeros(n)
        for d in range(dim):
            sq += vs[:, d] * vs[:, d]
        nrm = np.sqrt(sq)
        out = np.full(n, -np.inf)
        for lo in range(0, n, block_rows):
            hi = min(lo + block_rows, n)
            acc = np.zeros((hi - lo, n))
            for d in range(dim):
                acc += vs[lo:hi, d][:, None] * vs[None, :, d]
            cos = acc / (nrm[lo:hi][:, None] * nrm[None, :])
            # predecessors only (j < i), and only valid dominators
            mask = (np.arange(n)[None, :] < np.arange(lo, hi)[:, None]) \
                & valid[None, :]
            blocked = np.where(mask, cos, -np.inf)
            if n:
                out[lo:hi] = blocked.max(axis=1)
        out[~valid] = -np.inf
        return pd.DataFrame({"id": ids[order], "max_cos": out})

    return (ranked.groupBy("bucket")
            .applyInPandas(fn, f"id {id_type}, max_cos double"))


def semdedup_flags(
    df: DataFrame,
    eps: float = DEFAULT_EPS,
    mode: str = "kmeans",
    n_clusters: int = 8,
    iters: int = 3,
    n_planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Per-document verdict: (id, bucket, centroid_sim, kept).

    kept=false iff some same-bucket document with a strictly better
    (centroid_sim ASC, id ASC) rank has round(cosine, round_to) >= eps.
    Buckets larger than ``max_cluster_size`` are kept whole (the skew
    guard — conservative, never wrong, only under-deduped; the count
    of such buckets is observable via ``bucket_sizes``). Dominance runs
    in the ``_max_prior_cos`` bucket kernel, bit-identical to the
    pure-Column fold — see its docstring.
    """
    assigned = semdedup_assign(df, mode=mode, n_clusters=n_clusters,
                               iters=iters, n_planes=n_planes, seed=seed,
                               dim=dim, id_col=id_col, vec_col=vec_col)
    # materialize the centroid table once — it is k·dim-bounded (the
    # same driver-side budget kmeans_centroids already spends), and a
    # literal local relation keeps the explode→groupBy centroid shuffle
    # from re-running in every branch that references `sims` below
    cents = bucket_mean_centroids(assigned, round_to=round_to)
    spark = df.sparkSession
    cents = spark.createDataFrame(
        [(r["bucket"], list(r["centroid"])) for r in cents.collect()],
        "bucket long, centroid array<double>")
    sims = (assigned.join(F.broadcast(cents), "bucket")
            .select("id", "bucket", "v",
                    F.round(_dot(F.col("v"), F.col("centroid"))
                            / (_norm(F.col("v"))
                               * _norm(F.col("centroid"))),
                            round_to).alias("centroid_sim")))

    ranked = sims.select("id", "bucket", "centroid_sim", "v")
    if max_cluster_size is not None:
        sizes = (sims.groupBy("bucket")
                 .agg(F.count(F.lit(1)).alias("_bsz")))
        ranked = (ranked.join(F.broadcast(sizes), "bucket")
                  .filter(F.col("_bsz") <= max_cluster_size)
                  .drop("_bsz"))
    # Dominance in ONE per-bucket Arrow kernel: per member, the MAX
    # cosine over all better-(centroid_sim, id)-ranked members of its
    # bucket. This replaces the within-bucket (rank-condition) self-join
    # + per-pair vector join-back + interpreted F.aggregate cosine fold
    # that dominated the query (6M candidate pairs × a CodegenFallback
    # 64-dim fold at sf1.0). Bit-identical by construction: the kernel
    # accumulates dot products and squared norms DIMENSION-BY-DIMENSION
    # in the same left-to-right order as the _dot/_norm Column folds,
    # and the rounded comparison stays in Spark — F.round is monotone,
    # so round(max cos) >= eps <=> any round(cos) >= eps (pinned
    # exact-equal in tests/test_semdedup.py).
    dropped = (_max_prior_cos(ranked)
               .filter(F.round(F.col("max_cos"), round_to) >= eps)
               .select(F.col("id").alias("pid")))

    flags = (sims.join(dropped, sims["id"] == dropped["pid"], "left")
             .select(F.col("id"), "bucket", "centroid_sim",
                     F.col("pid").isNull().alias("kept")))
    nulls = (df.filter(F.col(vec_col).isNull())
             .select(F.col(id_col).alias("id"),
                     F.lit(None).cast("long").alias("bucket"),
                     F.lit(None).cast("double").alias("centroid_sim"),
                     F.lit(True).alias("kept")))
    return flags.unionByName(nulls)


def semdedup_keep(
    df: DataFrame,
    eps: float = DEFAULT_EPS,
    id_col: str = "vec_id",
    **kwargs,
) -> DataFrame:
    """The kept corpus — original rows whose flag is kept=true."""
    flags = semdedup_flags(df, eps=eps, id_col=id_col, **kwargs)
    keep_ids = flags.filter(F.col("kept")).select(F.col("id"))
    return df.join(keep_ids.withColumnRenamed("id", id_col),
                   id_col, "left_semi")


def bucket_sizes(
    df: DataFrame,
    mode: str = "kmeans",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """(bucket, n) — the cluster-size histogram; the observability
    companion to ``max_cluster_size`` (how much would the cap skip?)."""
    assigned = semdedup_assign(df, mode=mode, id_col=id_col,
                               vec_col=vec_col, **kwargs)
    return assigned.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
