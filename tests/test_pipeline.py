"""Quality-pipeline tests: keep/drop F1 vs the pandas reference oracle,
byte-identical scrubbed text, single-scan metrics, salted domain metrics,
checkpoint/resume, and partitioning-invariance of the generator."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from validatelite_spark.pipeline.pages import _SENTENCES, synthesize_pages
from validatelite_spark.pipeline.quality import (
    PipelineConfig,
    QualityPipeline,
    domain_metrics,
)
from validatelite_spark.pipeline.reference_impl import reference_filter

N = 2000


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, N).cache()


@pytest.fixture(scope="module")
def annotated(spark, pages):
    pipe = QualityPipeline(spark)
    ann, results = pipe.run(pages)
    return ann.cache(), results


class TestGenerator:
    def test_schema_matches_input_hint(self, pages):
        assert [(f.name, f.dataType.simpleString()) for f in pages.schema] == [
            ("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
            ("text", "string"), ("lang", "string")]

    def test_partition_invariance(self, spark):
        a = synthesize_pages(spark, 500, partitions=2).orderBy("url").collect()
        b = synthesize_pages(spark, 500, partitions=7).orderBy("url").collect()
        assert a == b

    def test_planted_classes_present(self, pages):
        counts = pages.agg(
            F.sum(F.col("text").isNull().cast("long")).alias("nulls"),
            F.count_distinct("url").alias("urls"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        assert counts["nulls"] == N // 20
        assert counts["urls"] < N  # planted duplicate urls exist


class TestKeepDropParity:
    def test_f1_and_scrub_byte_parity(self, spark, pages, annotated):
        ann, _ = annotated
        got = (ann.select("url", "text", "keep", "text_scrubbed")
               .orderBy("url", "text").toPandas())
        want = reference_filter(
            pages.orderBy("url", "text").toPandas())
        # align: same generator order
        assert len(got) == len(want)
        tp = int(((got["keep"]) & (want["keep"])).sum())
        fp = int(((got["keep"]) & (~want["keep"])).sum())
        fn = int(((~got["keep"]) & (want["keep"])).sum())
        f1 = 2 * tp / (2 * tp + fp + fn)
        assert f1 >= 0.99, f"keep/drop F1 {f1} below target (fp={fp}, fn={fn})"
        # byte-identical scrubbed text per url for kept docs
        kept = got["keep"] & want["keep"]
        assert (got.loc[kept, "text_scrubbed"].to_numpy()
                == want.loc[kept, "text_scrubbed"].to_numpy()).all()

    @pytest.mark.parametrize("space", ["\u00a0", "\u2028", "\u3000"])
    def test_oracle_splits_on_java_whitespace_only(self, spark,
                                                   edge_ws_texts, space):
        """A Unicode space sits inside a word for Spark (Java \\s), so
        the oracle agrees row by row on pages where Python's \\s would
        count more words (four of 53 spaces swapped: 49 < min_words) or
        fewer symbols (a run of 40)."""
        clean = " ".join(_SENTENCES[:4])
        texts = [*edge_ws_texts, clean, clean.replace(" ", space, 1),
                 clean.replace(" ", space, 4),
                 clean + " " + space * 40]
        pdf = pd.DataFrame({"url": [f"u{i}" for i in range(len(texts))],
                            "text": texts})
        got = (QualityPipeline(spark)
               .annotate(spark.createDataFrame(pdf, "url string, text string"))
               .orderBy("url").toPandas())
        want = reference_filter(pdf).sort_values("url")
        assert got["keep"].tolist() == want["keep"].tolist() \
            == [False] * len(edge_ws_texts) + [True, True, False, False]

    def test_scrub_actually_scrubbed(self, annotated):
        ann, _ = annotated
        dirty = ann.filter(F.col("fail_pii_text") & F.col("keep"))
        n = dirty.count()
        assert n > 0
        leak = dirty.filter(
            F.col("text_scrubbed").rlike("@example-mail|555-123|123-45-6789")
        ).count()
        assert leak == 0
        sample = dirty.select("text_scrubbed").first()[0]
        assert "<EMAIL>" in sample and "<PHONE>" in sample

    def test_non_dropping_perplexity_still_scrubs(self, spark, pages):
        """A PERPLEXITY rule outside DROP_SEVERITIES must NOT gate the
        scrub: a kept doc with ppl > max_ppl still gets text_scrubbed
        (ADVICE r1 — the fused UDF used to fold the ppl threshold into
        its internal keep unconditionally)."""
        from validatelite_spark.core.rules import Rule, RuleType, SeverityLevel
        cfg = PipelineConfig()
        rules = [
            Rule(RuleType.NOT_NULL, "text", name="not_null_text",
                 severity=SeverityLevel.CRITICAL),
            # the default_rules ceiling
            Rule(RuleType.PERPLEXITY, "text", {"max_ppl": 13.5},
                 name="perplexity_text", severity=SeverityLevel.LOW),
            Rule(RuleType.PII_SCRUB, "text", name="pii_text",
                 severity=SeverityLevel.LOW),
        ]
        ann = QualityPipeline(spark, cfg, rules).annotate(pages).cache()
        hi = ann.filter(F.col("fail_perplexity_text") & F.col("keep"))
        n_hi = hi.count()
        assert n_hi > 0  # junk/boiler classes have ppl > max_ppl, kept here
        assert hi.filter(F.col("text_scrubbed").isNull()).count() == 0
        # and clean kept docs scrub to themselves
        clean = ann.filter(F.col("keep") & ~F.col("fail_pii_text"))
        assert clean.filter(
            F.col("text_scrubbed") != F.col("text")).count() == 0
        ann.unpersist()

    def test_metrics_single_scan_consistency(self, spark, pages, tmp_path):
        pipe = QualityPipeline(spark)
        out = str(tmp_path / "out")
        ann, results = pipe.run(pages, output_path=out)
        by_name = {r.rule_name: r for r in results}
        assert by_name["not_null_text"].failed_records == N // 20
        assert all(r.total_records == N for r in results)
        assert by_name["not_null_text"].execution_plan["execution_type"] == \
            "observed_single_scan"
        # written output re-reads with the same keep count
        kept_written = spark.read.parquet(out).filter("keep").count()
        kept_direct = pipe.annotate(pages).filter("keep").count()
        assert kept_written == kept_direct

    def test_stored_output_is_counted_not_recomputed(self, spark, pages,
                                                     tmp_path):
        """``results`` over a written output counts its stored flags:
        the counts of ``run``, with no rule kernel in the plan."""
        pipe = QualityPipeline(spark)
        out = str(tmp_path / "out")
        _, ran = pipe.run(pages, output_path=out)
        store = spark._jsparkSession.sharedState().statusStore()

        def executions():
            ids = store.executionsList()
            return [ids.apply(i) for i in range(ids.size())]

        seen = {e.executionId() for e in executions()}
        stored = pipe.results(spark.read.parquet(out))
        counts = [[(r.rule_name, r.total_records, r.failed_records,
                    r.status, r.execution_plan["kept"]) for r in rs]
                  for rs in (ran, stored)]
        assert counts[0] == counts[1]
        assert counts[0][0][-1] == 14 * N // 20
        plans = [e.physicalPlanDescription() for e in executions()
                 if e.executionId() not in seen]
        assert plans and not any("ArrowEvalPython" in p for p in plans)

    def test_expected_keep_classes(self, spark, pages):
        """Classes 6,7 (PII/toxic) are KEPT and scrubbed; 0-5 dropped;
        8+ kept — checks the calibration holds exactly on this corpus."""
        ann = QualityPipeline(spark).annotate(pages)
        cls = F.pmod(
            F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long"), F.lit(20))
        rates = dict(
            ann.groupBy(cls.alias("cls"))
            .agg(F.avg(F.col("keep").cast("double")).alias("rate"))
            .collect()[0:0]) if False else {
            r["cls"]: r["rate"]
            for r in ann.groupBy(cls.alias("cls"))
            .agg(F.avg(F.col("keep").cast("double")).alias("rate")).collect()
        }
        for c in range(6):
            assert rates[c] == 0.0, f"class {c} should drop, rate={rates[c]}"
        for c in range(6, 20):
            assert rates[c] == 1.0, f"class {c} should keep, rate={rates[c]}"


class TestDomainMetrics:
    def test_salted_two_stage_matches_plain(self, annotated):
        ann, _ = annotated
        salted = {r["domain"]: (r["total"], r["kept"])
                  for r in domain_metrics(ann, n_salts=8).collect()}
        plain = {r["domain"]: (r["n"], r["k"]) for r in (
            ann.groupBy(F.parse_url("url", F.lit("HOST")).alias("domain"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("keep").cast("long")).alias("k")).collect())}
        assert salted == plain
        # skew really exists: hottest domain has ~40% of rows
        hottest = max(t for t, _ in salted.values())
        assert hottest > 0.3 * N


class TestCheckpoint:
    def test_resume_skips_done_buckets(self, spark, tmp_path):
        from validatelite_spark.pipeline.checkpoint import (
            read_state,
            run_checkpointed,
        )
        pages = synthesize_pages(spark, 400)
        pipe = QualityPipeline(spark)
        out = str(tmp_path / "ckpt")

        calls: list[str] = []
        st = run_checkpointed(
            pages, pipe.annotate, out, n_buckets=8, batch_buckets=4,
            progress=calls.append)
        assert len(st.done) == 8 and len(calls) == 2

        total = spark.read.parquet(out).count()
        assert total == 400

        # resume: nothing left to do, no new batches
        calls2: list[str] = []
        st2 = run_checkpointed(
            pages, pipe.annotate, out, n_buckets=8, batch_buckets=4,
            progress=calls2.append)
        assert calls2 == [] and len(st2.done) == 8

    def test_resume_refuses_on_input_drift(self, spark, tmp_path):
        """north_rule per-snapshot lineage: a resumed run must read the
        SAME input version the finished buckets were computed from —
        a changed parquet file set (or Iceberg snapshot) raises."""
        import time as _time

        from validatelite_spark.pipeline.checkpoint import run_checkpointed
        from validatelite_spark.sources.iceberg_support import (
            InputDriftError,
            parquet_fingerprint,
        )
        src = str(tmp_path / "input")
        synthesize_pages(spark, 200).write.parquet(src)
        fp0 = parquet_fingerprint(src)
        assert parquet_fingerprint(src) == fp0  # deterministic

        pages = spark.read.parquet(src)
        pipe = QualityPipeline(spark)
        out = str(tmp_path / "drift")

        # crash after the first batch
        count = {"batches": 0}

        def failing(df):
            if count["batches"] >= 1:
                raise RuntimeError("boom")
            count["batches"] += 1
            return pipe.annotate(df)

        with pytest.raises(RuntimeError):
            run_checkpointed(pages, failing, out, n_buckets=8,
                             batch_buckets=4, input_source=src)

        # input advances under the half-finished run
        _time.sleep(0.01)
        synthesize_pages(spark, 300).write.mode("overwrite").parquet(src)
        assert parquet_fingerprint(src) != fp0
        pages2 = spark.read.parquet(src)
        with pytest.raises(InputDriftError):
            run_checkpointed(pages2, pipe.annotate, out, n_buckets=8,
                             batch_buckets=4, input_source=src)
        # explicit override resumes and re-pins the new version
        st = run_checkpointed(pages2, pipe.annotate, out, n_buckets=8,
                              batch_buckets=4, input_source=src,
                              allow_input_drift=True)
        assert len(st.done) == 8

    def test_iceberg_gracefully_absent(self, spark):
        from validatelite_spark.sources import iceberg_support as ice
        # this sandbox ships no Iceberg jars: the seam degrades, not breaks
        assert ice.iceberg_available(spark) is False
        assert ice.current_snapshot_id(spark, "cat.db.tbl") is None
        pin = ice.input_fingerprint(spark, "cat.db.tbl")
        assert pin["kind"] == "opaque"
        ice.check_input_drift(spark, pin)  # opaque pins never raise

    def test_partial_run_resumes_exactly(self, spark, tmp_path):
        from validatelite_spark.pipeline.checkpoint import (
            read_state,
            run_checkpointed,
        )
        pages = synthesize_pages(spark, 400)
        pipe = QualityPipeline(spark)
        out = str(tmp_path / "ckpt2")

        # simulate a crash after the first batch: batch size = half buckets
        class Boom(Exception):
            pass

        count = {"batches": 0}

        def failing_transform(df):
            if count["batches"] >= 1:
                raise Boom()
            count["batches"] += 1
            return pipe.annotate(df)

        with pytest.raises(Boom):
            run_checkpointed(pages, failing_transform, out,
                             n_buckets=8, batch_buckets=4)
        st = read_state(out, 8)
        assert len(st.done) == 4  # first batch landed + manifested

        # resume with the real transform completes the rest only
        st2 = run_checkpointed(pages, pipe.annotate, out,
                               n_buckets=8, batch_buckets=4)
        assert len(st2.done) == 8
        assert spark.read.parquet(out).count() == 400
        # resumed output == single-shot output (determinism)
        single = str(tmp_path / "single")
        run_checkpointed(pages, pipe.annotate, single,
                         n_buckets=8, batch_buckets=8)
        a = (spark.read.parquet(out).select("url", "keep", "text_scrubbed")
             .orderBy("url", "text_scrubbed").collect())
        b = (spark.read.parquet(single).select("url", "keep", "text_scrubbed")
             .orderBy("url", "text_scrubbed").collect())
        assert a == b


class TestCuration:
    def test_composed_job_stages_and_determinism(self, spark, sf_dir):
        """curate = keep-filter → exact-dedup → token budget, one lazy
        plan; result invariant under input repartitioning."""
        from validatelite_spark.pipeline.curation import curate
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sel = curate(spark, docs, token_budget=2000)
        rows = sel.collect()
        assert rows, "curation selected nothing"
        # stage 1: every selected doc passes curate's keep rules
        # (NOT_NULL + GOPHER + LANG_ID — not the default set, which
        # additionally applies perplexity)
        from validatelite_spark.core.rules import (Rule, RuleType,
                                                   SeverityLevel)
        from validatelite_spark.pipeline.quality import (PipelineConfig,
                                                         QualityPipeline)
        rules = [
            Rule(RuleType.NOT_NULL, "text", name="nn",
                 severity=SeverityLevel.CRITICAL),
            Rule(RuleType.GOPHER, "text", name="go",
                 severity=SeverityLevel.HIGH),
            Rule(RuleType.LANG_ID, "text", {"allowed_langs": ["en"]},
                 name="li", severity=SeverityLevel.HIGH),
        ]
        ann = QualityPipeline(spark, PipelineConfig(), rules).annotate(docs)
        kept_ids = {r["doc_id"] for r in
                    ann.filter("keep").select("doc_id").collect()}
        assert {r["doc_id"] for r in rows} <= kept_ids
        # stage 3: per-lang token totals end at/just past the budget
        import collections
        by_lang = collections.defaultdict(list)
        for r in rows:
            by_lang[r["lang"]].append(r["n_chars"])
        for lang, chars in by_lang.items():
            assert sum(chars) - max(chars) < 2000, (lang, sum(chars))
        # determinism under repartitioning
        again = sorted((r["doc_id"]) for r in curate(
            spark, docs.repartition(7), token_budget=2000).collect())
        assert again == sorted(r["doc_id"] for r in rows)


class TestFusedLangParity:
    """r06 optimization pin: when LANG_ID rides the fused Arrow pass
    (PERPLEXITY/PII present), the Arrow lang_id_array must reproduce
    the native lang_id CASE chain exactly — detected language, fail
    flag, keep decision, and scrubbed bytes — on both the synthesized
    pages corpus and the real documents corpus."""

    def test_fused_gopher_matches_native(self, spark):
        from pyspark.sql import functions as F

        from validatelite_spark.functions import textquality
        from validatelite_spark.pipeline import (QualityPipeline,
                                                 synthesize_pages)

        pages = synthesize_pages(spark, 20_000, partitions=8)
        ann = QualityPipeline(spark).annotate(pages).select(
            "url", "fail_gopher_text",
            textquality.gopher_fail(F.col("text")).alias("native_g"))
        bad = ann.filter(~F.col("fail_gopher_text").eqNullSafe(
            F.col("native_g"))).count()
        assert bad == 0
        docs = spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet")
        ann2 = QualityPipeline(spark).annotate(
            docs.withColumnRenamed("doc_id", "url")).select(
            "fail_gopher_text",
            textquality.gopher_fail(F.col("text")).alias("native_g"))
        assert ann2.filter(~F.col("fail_gopher_text").eqNullSafe(
            F.col("native_g"))).count() == 0

    def test_fused_lang_matches_native(self, spark):
        from pyspark.sql import functions as F

        from validatelite_spark.functions import textquality
        from validatelite_spark.pipeline import (QualityPipeline,
                                                 synthesize_pages)

        pages = synthesize_pages(spark, 20_000, partitions=8)
        pipe = QualityPipeline(spark)
        ann = pipe.annotate(pages).select(
            "url", "keep", "fail_lang_id_text",
            F.col("text_scrubbed").alias("scr"),
            textquality.lang_id(F.col("text")).alias("native_lang"))
        bad = ann.filter(
            (~F.col("fail_lang_id_text").eqNullSafe(
                ~F.col("native_lang").isin("en")))).count()
        assert bad == 0

        docs = (spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet")
            .withColumnRenamed("doc_id", "url"))
        ann2 = QualityPipeline(spark).annotate(docs).select(
            "url", "fail_lang_id_text",
            textquality.lang_id(F.col("text")).alias("native_lang"))
        bad2 = ann2.filter(
            ~F.col("fail_lang_id_text").eqNullSafe(
                ~F.col("native_lang").isin("en"))).count()
        assert bad2 == 0

    def test_fused_lang_keep_and_scrub_match_native_lang_pipeline(
            self, spark):
        """Full-row equivalence: the fused-lang pipeline vs the same
        rules with LANG_ID forced onto the native path (no ppl/pii →
        no fused UDF, lang stays native) — keep sets must agree with
        the fused pipeline's native_drop+lang+ppl composition."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        from validatelite_spark.functions.perplexity import \
            perplexity_array
        from validatelite_spark.pipeline import (QualityPipeline,
                                                 synthesize_pages)

        pages = synthesize_pages(spark, 10_000, partitions=4).cache()
        pipe = QualityPipeline(spark)
        # urls are NOT unique in the generator — compare multisets
        got = sorted((r["url"], bool(r["keep"]), r["text_scrubbed"])
                     for r in pipe.annotate(pages)
                     .select("url", "keep", "text_scrubbed").collect())
        # independent reference: native flags + Arrow perplexity
        from validatelite_spark.functions import textquality
        from validatelite_spark.functions.pii import hit_array, scrub_array
        ref_rows = pages.select(
            "url", "text",
            textquality.gopher_fail(F.col("text")).alias("gf"),
            textquality.lang_id(F.col("text")).alias("lg")).collect()
        texts = pa.array([r["text"] for r in ref_rows], pa.string())
        ppl = perplexity_array(texts)
        pii = hit_array(texts)
        scr = scrub_array(texts).to_pylist()
        ref = []
        for i, r in enumerate(ref_rows):
            keep = bool(r["text"] is not None and not r["gf"]
                        and r["lg"] == "en" and ppl[i] <= 13.5)
            exp = (scr[i] if pii[i] else r["text"]) if keep else None
            ref.append((r["url"], keep, exp))
        assert got == sorted(ref)
