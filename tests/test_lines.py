"""C4-style corpus-wide line dedup (operators/lines.py)."""

from __future__ import annotations

import pandas as pd

from validatelite_spark.operators.lines import line_dedup


def _ref_line_dedup(rows, min_line_chars=0):
    """Independent pandas-free reference: first occurrence by
    (doc_id asc, position asc) wins; shorter-than-min lines always
    survive."""
    seen = set()
    out = {}
    for doc_id, text in sorted(rows):
        if text is None:
            out[doc_id] = None
            continue
        kept = []
        for line in text.split("\n"):
            if len(line) < min_line_chars:
                kept.append(line)
                continue
            if line not in seen:
                seen.add(line)
                kept.append(line)
        out[doc_id] = "\n".join(kept)
    return out


class TestLineDedup:
    def test_first_occurrence_wins_across_docs(self, spark):
        rows = [
            (1, "alpha\nshared line\nbeta"),
            (2, "shared line\ngamma"),         # loses 'shared line' to 1
            (3, "delta\nshared line"),          # ditto
            (4, "shared line"),                 # everything deduped → ''
            (5, None),                          # NULL stays NULL
            (6, "unique closing line"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["text_dedup"]
               for r in line_dedup(df).collect()}
        assert got == _ref_line_dedup(rows)
        assert got[1] == "alpha\nshared line\nbeta"
        assert got[2] == "gamma"
        assert got[4] == ""
        assert got[5] is None

    def test_intra_doc_duplicates_collapse(self, spark):
        df = spark.createDataFrame(
            [(1, "x\nx\ny\nx")], "doc_id long, text string")
        got = line_dedup(df).collect()[0]["text_dedup"]
        assert got == "x\ny"

    def test_min_line_chars_guard(self, spark):
        rows = [(1, "-\nlong shared paragraph here"),
                (2, "-\nlong shared paragraph here\n-")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["text_dedup"]
               for r in line_dedup(df, min_line_chars=3).collect()}
        # '-' bullets survive everywhere; the paragraph dedups to doc 1
        assert got[1] == "-\nlong shared paragraph here"
        assert got[2] == "-\n-"
        assert got == _ref_line_dedup(rows, min_line_chars=3)

    def test_partition_invariance(self, spark):
        rows = [(i, "\n".join(f"line {(i * j) % 17}" for j in range(5)))
                for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, line_dedup(df).collect()))
        b = sorted(map(tuple, line_dedup(df.repartition(7)).collect()))
        assert a == b
        assert a == sorted(_ref_line_dedup(rows).items())

    def test_single_line_degenerate_form_blanks_dups(self, spark):
        # the driver-query configuration: no newlines → doc-level dedup
        df = spark.createDataFrame(
            [(10, "same text"), (11, "same text"), (12, "other")],
            "doc_id long, text string")
        got = {r["doc_id"]: r["text_dedup"]
               for r in line_dedup(df).collect()}
        assert got == {10: "same text", 11: "", 12: "other"}

    def test_hot_line_plan_has_no_window(self, spark):
        # Round-3 verdict #1: a boilerplate line occurring in (nearly)
        # every doc must NOT become a single-task Window partition — the
        # winner must come from a map-side-combinable partial aggregate.
        rows = [(i, f"unique {i}\ncookie banner") for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = line_dedup(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        # winner-per-line partial aggregate with min(struct(k, pos))
        assert "partial_min" in plan or "partial min" in plan.lower()
        got = {r["doc_id"]: r["text_dedup"] for r in out.collect()}
        assert got[0] == "unique 0\ncookie banner"
        assert all(got[i] == f"unique {i}" for i in range(1, 200))


class TestBoilerplateLoop:
    """VERDICT r3 #9: mine (top_lines) → blocklist → apply (strip /
    BOILERPLATE rule) — the full loop on a planted boilerplate corpus."""

    BANNER = "accept cookies to continue"
    FOOTER = "all rights reserved"

    def _corpus(self, spark):
        rows = [(i, f"{self.BANNER}\nunique body {i}\n{self.FOOTER}")
                for i in range(10)]
        rows.append((10, f"{self.BANNER}\n{self.FOOTER}"))  # all chrome
        rows.append((11, None))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_top_lines_finds_planted_banner(self, spark):
        from validatelite_spark.operators.lines import top_lines
        got = top_lines(self._corpus(spark), k=5).collect()
        assert [r["line"] for r in got[:2]] == [self.BANNER, self.FOOTER]
        assert got[0]["n_docs"] == 11 and got[0]["occurrences"] == 11
        # singleton body lines pruned by min_docs
        assert all("unique body" not in r["line"] for r in got)

    def test_strip_blocklisted_lines(self, spark):
        from validatelite_spark.operators.lines import (
            strip_blocklisted_lines, top_lines)
        docs = self._corpus(spark)
        bl = top_lines(docs, k=5)  # mined, not hand-written
        got = {r["doc_id"]: r["text_clean"]
               for r in strip_blocklisted_lines(docs, bl).collect()}
        assert got[0] == "unique body 0"
        assert got[10] == ""       # all-boilerplate doc
        assert got[11] is None     # NULL stays NULL

    def test_boilerplate_rule_via_engine(self, spark):
        from validatelite_spark.core.rules import Rule
        from validatelite_spark.operators.engine import RuleEngine
        from validatelite_spark.operators.lines import top_lines
        docs = self._corpus(spark)
        mined = [r["line"] for r in top_lines(docs, k=5).collect()]
        assert self.BANNER in mined
        (res,) = RuleEngine(spark).execute(docs, [
            Rule("BOILERPLATE", "text",
                 {"lines": mined, "max_frac": 0.5},
                 name="boilerplate_text")])
        # docs 0-9: 2/3 lines blocklisted > 0.5 → fail; doc 10: 2/2 →
        # fail; doc 11 NULL → fail (completeness semantics)
        assert res.failed_records == 12
        assert res.execution_plan["execution_type"] == "merged_agg"

    def test_rule_passes_clean_corpus(self, spark):
        from validatelite_spark.core.rules import Rule
        from validatelite_spark.operators.engine import RuleEngine
        docs = spark.createDataFrame(
            [(0, "a\nb\nc"), (1, "d\ne")], "doc_id long, text string")
        (res,) = RuleEngine(spark).execute(docs, [
            Rule("BOILERPLATE", "text",
                 {"lines": ["zz not present"], "max_frac": 0.1})])
        assert res.failed_records == 0


class TestChunkDedup:
    """Passage-granularity corpus dedup (chunk_dedup): duplicated
    aligned windows removed from all but the first occurrence."""

    def test_shared_passage_excised_once(self, spark):
        from validatelite_spark.operators.lines import chunk_dedup
        passage = " ".join(f"p{i}" for i in range(4))      # one window
        rows = [
            (1, f"{passage} a b c d"),    # first: keeps passage
            (2, f"{passage} e f g h"),    # later: passage removed
            (3, f"x y z w {passage}"),    # aligned at pos 1 → removed
            (4, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["text_dedup"]
               for r in chunk_dedup(df, window_tokens=4).collect()}
        assert got[1] == f"{passage} a b c d"
        assert got[2] == "e f g h"
        assert got[3] == "x y z w"
        assert got[4] is None

    def test_unaligned_span_survives_documented_miss(self, spark):
        # the stated approximation: a shared span that is NOT
        # chunk-aligned in both docs is missed (suffix arrays would
        # catch it) — pin the contract so it can't silently change
        from validatelite_spark.operators.lines import chunk_dedup
        rows = [(1, "s1 s2 s3 s4"),          # span = whole chunk
                (2, "q0 s1 s2 s3")]          # same span shifted by one
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["text_dedup"]
               for r in chunk_dedup(df, window_tokens=4).collect()}
        assert got[2] == "q0 s1 s2 s3"  # survives: different chunk string

    def test_partition_invariance_and_full_dedup_blank(self, spark):
        from validatelite_spark.operators.lines import chunk_dedup
        body = " ".join(f"t{i}" for i in range(8))
        rows = [(i, body) for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, chunk_dedup(df, window_tokens=4).collect()))
        b = sorted(map(tuple, chunk_dedup(df.repartition(7),
                                          window_tokens=4).collect()))
        assert a == b
        got = dict(a)
        assert got[0] == body and all(got[i] == "" for i in range(1, 30))

    def test_min_tokens_tail_guard(self, spark):
        from validatelite_spark.operators.lines import chunk_dedup
        rows = [(1, "a b c d tail"), (2, "e f g h tail")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["text_dedup"]
               for r in chunk_dedup(df, window_tokens=4,
                                    min_tokens=2).collect()}
        # the 1-token 'tail' chunk is below min_tokens → never deduped
        assert got[1] == "a b c d tail" and got[2] == "e f g h tail"

    def test_randomized_against_python_reference(self, spark):
        # seeded random corpora vs an independent pure-Python
        # first-occurrence aligned-chunk reference (same spirit as the
        # line_dedup pandas-free reference above)
        import random

        from validatelite_spark.operators.lines import chunk_dedup

        def ref(rows, w):
            seen = {}
            out = {}
            for doc_id, text in sorted(rows):
                if text is None:
                    out[doc_id] = None
                    continue
                toks = [t for t in text.lower().split() if t]
                chunks = [" ".join(toks[i:i + w])
                          for i in range(0, len(toks), w)]
                kept = []
                for pos, c in enumerate(chunks):
                    if c not in seen:
                        seen[c] = (doc_id, pos)
                    if seen[c] == (doc_id, pos):
                        kept.append(c)
                out[doc_id] = " ".join(kept)
            return out

        rng = random.Random(11)
        vocab = [f"w{i}" for i in range(12)]
        for trial, w in [(0, 3), (1, 4), (2, 5)]:
            rows = []
            for d in range(25):
                n = rng.randint(0, 20)
                toks = [rng.choice(vocab) for _ in range(n)]
                text = " ".join(toks)
                if rng.random() < 0.15:
                    text = None
                elif rng.random() < 0.15:
                    text = "  " + text + "   "   # whitespace runs
                rows.append((d, text))
            df = spark.createDataFrame(rows, "doc_id long, text string")
            got = {r["doc_id"]: r["text_dedup"]
                   for r in chunk_dedup(df, window_tokens=w).collect()}
            assert got == ref(rows, w), f"trial {trial} w={w}"


class TestIntraDocLineDedup:
    ROWS = [
        (1, "nav menu\ncontent one\nnav menu\ncontent two\nnav menu"),
        (2, "a\n\nb\n\na\nb"),     # blanks always kept (min_chars=1)
        (3, None),
        (4, ""),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.ROWS,
                                     "doc_id long, text string")

    def test_semantics(self, spark):
        from validatelite_spark.operators.lines import intra_doc_line_dedup
        out = {r.doc_id: (r.text, r.lines_removed)
               for r in intra_doc_line_dedup(self._df(spark)).collect()}
        assert out[1] == ("nav menu\ncontent one\ncontent two", 2)
        assert out[2] == ("a\n\nb\n", 2)  # both blanks kept, a+b deduped
        assert out[3] == (None, 0)
        assert out[4] == ("", 0)

    def test_min_chars_shields_short_lines(self, spark):
        from validatelite_spark.operators.lines import intra_doc_line_dedup
        df = spark.createDataFrame(
            [(1, "ab\nlong line here\nab\nlong line here")],
            "doc_id long, text string")
        out = intra_doc_line_dedup(df, min_chars=5).collect()[0]
        assert out.text == "ab\nlong line here\nab"
        assert out.lines_removed == 1

    def test_arrow_column_parity(self, spark):
        from validatelite_spark.operators.lines import intra_doc_line_dedup
        df = self._df(spark)
        a = sorted(map(tuple,
                       intra_doc_line_dedup(df, arrow=True).collect()))
        c = sorted(map(tuple,
                       intra_doc_line_dedup(df, arrow=False).collect()))
        assert a == c


class TestChunkBuilderParity:
    """r06 optimization pin: the Arrow chunk builder must produce the
    same chunk strings as the pure-Column transform/slice/concat_ws
    chain it replaced, on the real documents corpus."""

    def test_chunks_match_column_chain(self, spark, edge_ws_docs):
        from pyspark.sql import functions as F

        from validatelite_spark.functions.textquality import tokens, words

        docs = (spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet")
            .select("doc_id", "text").unionByName(edge_ws_docs))
        w = 8
        toks = tokens(F.col("text"))
        n_chunks = F.ceil(F.size(toks) / F.lit(w)).cast("int")
        col_chunks = F.when(
            F.size(toks) == 0, F.array().cast("array<string>")
        ).otherwise(F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * w + 1, w))))
        ref = {r["doc_id"]: r["c"] for r in
               docs.filter(F.col("text").isNotNull())
               .select("doc_id", col_chunks.alias("c")).collect()}

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<string>")
        def chunks_arrow(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                if t is None:
                    out.append([])
                    continue
                tk = words(t)
                out.append([" ".join(tk[i:i + w])
                            for i in range(0, len(tk), w)])
            return pd.Series(out)

        got = {r["doc_id"]: r["c"] for r in
               docs.filter(F.col("text").isNotNull())
               .select("doc_id", chunks_arrow(F.col("text")).alias("c"))
               .collect()}
        assert got == ref
