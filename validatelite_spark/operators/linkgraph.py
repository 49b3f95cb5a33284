"""Link-graph domain authority: distributed PageRank power iteration.

Web curation ranks DOMAINS by link authority (Common-Crawl publishes
exactly this as its host-level ranking; seed lists and crawl
prioritization consume it) — a complement to the content-side
reputation in ``operators/domains.py``. The reference has no graph
surface (row-local rules only); this is a training-data operator.

Classic PageRank with damping ``d``::

    r_{k+1}(v) = (1-d)/N + d * (sum_{u->v} r_k(u)/deg(u) + D_k/N)

where ``D_k`` is the total rank mass sitting on dangling nodes (no
out-edges) — redistributed uniformly, the standard fix that keeps the
ranks a probability distribution.

Scale shape (the canonical Spark iterative-graph hygiene):

- the edge table and out-degrees are computed ONCE and materialized;
  every iteration is one join (edges ⋈ ranks, shuffle on ``src``) plus
  one ``groupBy(dst).sum`` (map-side partial combine) — no window, no
  driver-side graph;
- the dangling-mass scalar stays IN-PLAN via a broadcast 1-row cross
  join (no per-iteration collect);
- each round re-materializes the rank table (``session.checkpoint``:
  reliable when the session sets ``spark.checkpoint.dir`` on a shared
  FS, local otherwise — same seam as ``dedup.dedup_groups``), so
  lineage does not grow with iterations;
- ranks are rounded ONLY at the end (6 dp, +1e-9 — CLAUDE.md rule 2):
  double summation order differs per partitioning, but the ~1e-15
  drift is far under the rounding grid, so results are reproducible
  across cluster sizes AND replayable in DuckDB by unrolling the same
  iterations as a CTE chain (see ``__spark_entry__.py``
  ``_pagerank_oracle``).

Convergence: fixed ``iters`` (the oracle-replayable contract — an
unrolled SQL chain has no early exit). 10-20 iterations is the
standard web-graph operating point; at 100 TB each extra iteration is
one more shuffle of an |edges|-sized table, nothing else grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from validatelite_spark.session import checkpoint


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """(node, rank) after ``iters`` power iterations over the distinct
    directed edge set. Self-loops and duplicate edges are dropped
    (standard host-graph cleaning); nodes are every distinct endpoint;
    initial rank is uniform 1/N."""
    if not 0 < damping < 1:
        raise ValueError("damping must be in (0, 1)")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    spark = edges.sparkSession
    e = checkpoint(edges.select(F.col(src).alias("src"),
                                F.col(dst).alias("dst"))
                   .filter(F.col("src").isNotNull()
                           & F.col("dst").isNotNull()
                           & (F.col("src") != F.col("dst")))
                   .distinct())
    nodes = checkpoint(e.select(F.col("src").alias("node"))
                       .union(e.select(F.col("dst").alias("node")))
                       .distinct())
    deg = checkpoint(e.groupBy(F.col("src").alias("node"))
                     .agg(F.count(F.lit(1)).alias("deg")))
    n_nodes = nodes.count()
    if n_nodes == 0:
        return spark.createDataFrame([], "node string, rank double")
    base = (1.0 - damping) / n_nodes
    ranks = checkpoint(nodes.withColumn("rank", F.lit(1.0 / n_nodes)))

    for _ in range(iters):
        with_deg = ranks.join(deg, "node", "left")
        contribs = (e.join(
            with_deg.filter(F.col("deg").isNotNull())
            .select(F.col("node").alias("src"),
                    (F.col("rank") / F.col("deg")).alias("share")),
            "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("m")))
        dang = (with_deg.filter(F.col("deg").isNull())
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")))
        ranks = checkpoint(
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select("node",
                    (F.lit(base) + damping
                     * (F.coalesce(F.col("m"), F.lit(0.0))
                        + F.col("dm") / n_nodes)).alias("rank")))
    return ranks.select(
        "node", F.round(F.col("rank") + 1e-9, round_to).alias("rank"))


def synth_host_edges(
    docs: DataFrame,
    by: str = "source",
    fanout: int = 3,
    mult: int = 7,
) -> DataFrame:
    """Deterministic synthetic host graph over the corpus's domain set
    (the testdata documents carry no hyperlinks — same fixture
    philosophy as ``pipeline/pages.py``): index the distinct domains
    0..n-1 in lexical order, then link domain ``i`` to domains
    ``(i*mult + j) % n`` for ``j`` in ``1..fanout``. A pure function
    of the domain SET — partition/cluster-size invariant and exactly
    replayable in SQL. Real crawls swap this for edges extracted from
    ``functions/extraction.py`` hrefs."""
    from pyspark.sql import Window
    doms = (docs.filter(F.col(by).isNotNull())
            .select(F.col(by).alias("d")).distinct()
            .withColumn("i", F.row_number().over(
                Window.orderBy("d")) - 1))
    n = doms.count()
    j = F.explode(F.array(*[F.lit(x) for x in range(1, fanout + 1)]))
    src_side = doms.select("d", "i").withColumn("j", j).withColumn(
        "ti", (F.col("i") * mult + F.col("j")) % n)
    return (src_side.join(doms.select(F.col("d").alias("dst_d"),
                                      F.col("i").alias("ti")), "ti")
            .select(F.col("d").alias("src"), F.col("dst_d").alias("dst")))


def host_edges(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    drop_self: bool = True,
) -> DataFrame:
    """Host-level link edges from crawled pages:
    ``(src, dst, n_links)`` — src is the page url's host, dst each
    outlink's host, counted over all pages. The input side of
    ``pagerank`` (closing the crawl → graph → authority loop; CC's
    host-level ranking is built exactly this way).

    Link extraction is the pure-Column regex tier
    (``functions.extraction.extract_links`` — double-quoted hrefs;
    absolute http(s) only survive ``url_host``). ``drop_self`` removes
    intra-host edges (navigation chrome dominates raw counts and
    carries no cross-host authority).

    Scale shape: one corpus scan, explode outlinks, ONE
    map-side-combinable ``groupBy(src, dst).count()`` over an
    |host-pairs|-sized table; no window, no collect. html may be
    binary (decoded as UTF-8 with malformed bytes replaced — hosts in
    hrefs are ASCII) or string."""
    from pyspark.sql.types import BinaryType

    from validatelite_spark.functions.extraction import (
        extract_links, url_host)

    h = F.col(html_col)
    if isinstance(df.schema[html_col].dataType, BinaryType):
        h = F.decode(h, "UTF-8")
    out = (df.select(url_host(F.col(url_col)).alias("src"),
                     F.explode(extract_links(h)).alias("__link"))
           .withColumn("dst", url_host(F.col("__link")))
           .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()))
    if drop_self:
        out = out.filter(F.col("src") != F.col("dst"))
    return (out.groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("n_links")))
