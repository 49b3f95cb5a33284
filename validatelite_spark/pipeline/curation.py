"""End-to-end corpus curation — the composed job a training-data team
actually runs, as ONE lazy DataFrame plan.

Logical stage order (the standard web-pipeline sequence):

1. **quality filter** — the rule engine's keep decision
   (``QualityPipeline.annotate``: NOT_NULL + GOPHER + LANG_ID compiled
   predicates, one projection);
2. **exact dedup** — normalized-fingerprint, min-id representative
   (``operators/dedup.exact_dedup``);
3. **token budget** — per-language deterministic selection up to a
   budget (``operators/sampling.token_budget_filter``, two-phase
   prefix sum).

PHYSICAL order runs dedup FIRST. That commutation is exact, not an
approximation: the keep decision is a pure function of the text, and
exact-dup copies share the text byte-for-byte, so every copy of a
fingerprint group has the same keep verdict and the min-key survivor
is identical whichever side of the filter the dedup runs on (pinned by
the unchanged ``curation_end_to_end`` oracle, which replays the
LOGICAL order in SQL). It matters because ``exact_dedup``'s winner
branch re-evaluates its input: with dedup first that branch recomputes
only ``md5(text)`` over the raw scan; with filter first it would
recompute the whole rule projection (regex-heavy) per branch —
measured ~30% slower end-to-end at sf0.1.

Because every stage is a pure DataFrame transformation, the composition
is ONE Catalyst plan: the quality predicates evaluate in the scan
projection, the dedup shuffle keys on the md5 fingerprint, and the
budget's windows partition by (lang, bucket) — no materialization
between stages unless the caller persists. The whole chain is
DuckDB-verifiable (driver query ``curation_end_to_end``): keep
predicate, fingerprint dedup, and running-sum cut replayed in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from validatelite_spark.core.rules import Rule, RuleType, SeverityLevel
from validatelite_spark.operators.dedup import exact_dedup, url_decontaminate
from validatelite_spark.operators.sampling import token_budget_filter
from validatelite_spark.pipeline.quality import (PipelineConfig,
                                                 QualityPipeline)


def _standard_rules(text_col: str, allowed_langs) -> list:
    return [
        Rule(RuleType.NOT_NULL, text_col, name=f"not_null_{text_col}",
             severity=SeverityLevel.CRITICAL),
        Rule(RuleType.GOPHER, text_col, name=f"gopher_{text_col}",
             severity=SeverityLevel.HIGH),
        Rule(RuleType.LANG_ID, text_col,
             {"allowed_langs": list(allowed_langs)},
             name=f"lang_id_{text_col}", severity=SeverityLevel.HIGH),
    ]


def curate(
    spark: SparkSession,
    docs: DataFrame,
    token_budget: int,
    text_col: str = "text",
    key_col: str = "doc_id",
    lang_col: str = "lang",
    token_col: str = "n_chars",
    allowed_langs: tuple[str, ...] = ("en",),
    benchmark_urls: DataFrame | None = None,
    url_col: str = "url",
    benchmark_texts: DataFrame | None = None,
    decon_n: int = 8,
    decon_min_hits: int = 1,
    bench_text_col: str | None = None,
) -> DataFrame:
    """[url-decontaminate →] quality-filter → exact-dedup →
    [n-gram-decontaminate →] per-``lang_col`` token budget.

    Returns the selected documents (original columns). Deterministic at
    any partitioning/cluster size: the keep decision is a pure predicate,
    dedup keeps the min key per fingerprint, and budget selection orders
    by (token_col, key_col).

    Decontamination legs (VERDICT r4 #7 — both optional, off by
    default):

    - ``benchmark_urls``: docs whose CANONICAL url appears in this
      frame's ``url_col`` are dropped FIRST (``url_decontaminate`` —
      cheap, pure-Column, shrinks everything downstream);
    - ``benchmark_texts``: after the keep filter, docs sharing ≥
      ``decon_min_hits`` distinct word ``decon_n``-grams with this
      corpus (must carry ``key_col`` — any unique id works) are
      anti-joined away (``operators/repetition.contaminated_docs``,
      size-gated broadcast). The contamination set is computed from the
      DEDUPED frame, not the filtered one: contamination is a pure
      function of the text, so membership is a superset of what the
      kept docs need (exact for the anti-join), and the branch then
      re-evaluates only the cheap md5-dedup plan — never the
      regex-heavy rule projection (the same branch-recompute economics
      as running dedup physically first). Both legs precede the token
      budget, which must only count surviving docs.

    The kept survivors (and, with ``benchmark_texts``, the deduped
    frame) stay cached; ``spark.catalog.clearCache()`` releases them."""
    cfg = PipelineConfig(text_column=text_col)
    rules = _standard_rules(text_col, allowed_langs)
    d = docs
    if benchmark_urls is not None:
        d = url_decontaminate(d, benchmark_urls, url_col)
    uniq = exact_dedup(d, text_col, key_col)
    if benchmark_texts is not None:
        # the deduped frame feeds BOTH the rule projection and the
        # n-gram decontamination leg — without a seam the one
        # materialization job evaluates the url-decon + dedup chain
        # twice (once per branch)
        uniq = uniq.cache()
    ann = QualityPipeline(spark, cfg, rules).annotate(uniq)
    kept = ann.filter("keep").select(*docs.columns)
    if benchmark_texts is not None:
        from validatelite_spark.operators.repetition import \
            contaminated_docs

        cont = contaminated_docs(uniq, benchmark_texts, text_col,
                                 key_col, n=decon_n,
                                 min_hits=decon_min_hits,
                                 bench_text_col=bench_text_col)
        kept = kept.join(cont.select(key_col), key_col, "left_anti")
    # The token budget's two-phase prefix sums reference their input
    # from FOUR branches (group bounds, per-bucket sums, bucket
    # offsets, the main stream) — without a materialization seam each
    # branch re-runs the whole scan → dedup → regex-keep chain (8
    # parquet scans / 36 regexp evaluations in the sf1.0 physical
    # plan). Caching the kept survivors evaluates the expensive
    # projection once (the DuckDB oracle replays the logical order
    # either way — output is identical).
    return token_budget_filter(kept.cache(), token_budget, token_col,
                               by=lang_col, order_col=token_col,
                               key_col=key_col)


def curate_with_funnel(
    spark: SparkSession,
    docs: DataFrame,
    token_budget: int,
    text_col: str = "text",
    key_col: str = "doc_id",
    lang_col: str = "lang",
    token_col: str = "n_chars",
    allowed_langs: tuple[str, ...] = ("en",),
):
    """``curate`` with a SINGLE-PASS stage funnel: (selected_df, obs)
    where ``obs`` maps stage name → ``pyspark.sql.Observation``.

    The funnel counts come from ``df.observe`` nodes planted at the
    input, post-dedup, and post-filter points of the SAME lazy plan —
    Spark's CollectMetrics accumulates them during whatever action the
    caller runs on the result, so the stage census costs ZERO extra
    scans (the naive funnel is one count() — one full recompute — per
    stage). Branch safety: the dedup winner join and the budget's
    two-phase prefix sum re-reference upstream sub-plans, but the
    observed exchanges are reused (not re-executed), so each metric
    counts its stage exactly once — pinned against the DuckDB replay by
    the ``curation_funnel`` oracle and tests/test_curation_funnel.py.

    Read the observations only AFTER an action on the returned frame
    (``Observation.get`` blocks until then); ``funnel_report`` wraps
    the idiom."""
    from pyspark.sql import Observation

    cnt = F.count(F.lit(1)).alias("n")
    obs = {"1_input": Observation("funnel_input"),
           "2_dedup": Observation("funnel_dedup"),
           "3_kept": Observation("funnel_kept")}
    cfg = PipelineConfig(text_column=text_col)
    rules = _standard_rules(text_col, allowed_langs)
    d = docs.observe(obs["1_input"], cnt)
    uniq = (exact_dedup(d, text_col, key_col)
            .observe(obs["2_dedup"], cnt))
    ann = QualityPipeline(spark, cfg, rules).annotate(uniq)
    kept = (ann.filter("keep").select(*docs.columns)
            .observe(obs["3_kept"], cnt))
    sel = token_budget_filter(kept, token_budget, token_col,
                              by=lang_col, order_col=token_col,
                              key_col=key_col)
    return sel, obs


def funnel_report(spark: SparkSession, selected: DataFrame,
                  obs: dict) -> DataFrame:
    """(stage, n) census: runs ONE action (count of the selected set),
    which also materializes every observed stage metric."""
    n_sel = selected.count()
    rows = [(k, int(o.get["n"])) for k, o in sorted(obs.items())]
    rows.append(("4_selected", n_sel))
    return spark.createDataFrame(rows, "stage string, n long")
