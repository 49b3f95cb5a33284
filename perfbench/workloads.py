"""The benchmark's workloads: seeded inputs, one repetition of the
program's work, and a correctness check of what the repetition wrote.

A workload reaches the program only through its public functions
(``read_source``, ``synthesize_pages``, ``QualityPipeline``,
``__spark_entry__.queries()``, ``RuleEngine.execute``), and checks each
result against an answer computed once, outside the timed phase: a
closed form for ``filter``, DuckDB for the rule counts, and for the
near-duplicate pairs a fast reference that is checked against the
leaf's DuckDB ``oracle_sql()``.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

from shape import jaccard_pairs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def release(spark) -> int:
    """Drop every cached frame and persisted RDD; return how many RDDs
    were still persisted, so one repetition cannot warm the next."""
    jsc = spark.sparkContext._jsc
    held = list(jsc.getPersistentRDDs().values())
    spark.catalog.clearCache()
    for rdd in held:
        rdd.unpersist(False)
    return len(held)


def _frame_signature():
    """``scripts/check_oracles.py``'s order-insensitive normalisation."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "scripts", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.frame_signature


# -------------------------------------------------------------- filter
class Filter:
    """Pages from ``synthesize_pages`` through ``QualityPipeline.run``
    with the production parquet write; Observation carries the counts."""

    name = "filter"
    rows = 20_000  # a multiple of 20: every id % 20 class is equal
    #: classes (id % 20, see pipeline/pages.py) each default rule fails;
    #: classes 8..19 are clean prose
    FAILS = {
        "not_null_text": {0},
        "gopher_text": {0, 1, 2, 3, 4, 5},
        "lang_id_text": {0, 1, 2, 4, 5},
        "perplexity_text": {0, 1, 2, 3, 4, 5},
        "pii_text": {6, 7},
    }
    KEPT_CLASSES = 14
    SAMPLE = 40
    FILES = 8

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.src = os.path.join(work, "pages")
        self.out = os.path.join(work, "filtered")
        self.expected = {r: len(c) * self.rows // 20
                         for r, c in self.FAILS.items()}
        self.expected["kept"] = self.KEPT_CLASSES * self.rows // 20

    def setup(self, spark) -> dict:
        from validatelite_spark.pipeline.pages import synthesize_pages
        from validatelite_spark.pipeline.reference_impl import \
            reference_filter

        lo = 20 * (self.seed % 5000)  # the seed picks the id window ...
        pages = synthesize_pages(spark, lo + self.rows).offset(lo).toArrow()
        # ... and the row order; the rows go to FILES files in that order
        pages = pages.take(np.random.default_rng(self.seed).permutation(
            self.rows))
        os.makedirs(self.src)
        for i, part in enumerate(np.array_split(np.arange(self.rows),
                                                self.FILES)):
            pq.write_table(pages.slice(part[0], len(part)),
                           os.path.join(self.src, f"part-{i:05d}.parquet"))
        tbl = pq.read_table(self.src, columns=["url", "text"]).to_pandas()
        once = tbl[~tbl["url"].duplicated(keep=False)]
        sample = once.sample(self.SAMPLE, random_state=self.seed)
        ref = reference_filter(sample)
        self.ref = {u: (bool(k), s) for u, k, s in ref.itertuples(
            index=False)}
        return {"files": len(pq.ParquetDataset(self.src).files),
                "kept_share": self.expected["kept"] / self.rows,
                "window_start": lo}

    def rep(self, spark, tracer) -> None:
        from validatelite_spark.pipeline.quality import QualityPipeline
        from validatelite_spark.sources.reader import read_source

        with tracer.span("sources.read_source"):
            df = read_source(spark, self.src)
        with tracer.span("pipeline.run"):
            _, results = QualityPipeline(spark).run(df, output_path=self.out)
        self.results = {r.rule_name: r.failed_records for r in results}

    def observed(self) -> dict:
        con = duckdb.connect()
        out = f"{self.out}/*.parquet"
        kept, = con.sql(f"SELECT count(*) FILTER (WHERE keep) FROM '{out}'"
                        ).fetchone()
        rows = con.execute(
            f"SELECT url, keep, text_scrubbed FROM '{out}' "
            "WHERE list_contains(?, url)", [list(self.ref)]).fetchall()
        return {**self.results, "kept": kept,
                "sample": {u: (bool(k), s) for u, k, s in rows}}

    def matches(self, obs: dict) -> bool:
        return (all(obs.get(k) == v for k, v in self.expected.items())
                and obs["sample"] == self.ref)

    def self_check(self, obs: dict) -> bool:
        """A kept count one off must be judged wrong."""
        return not self.matches({**obs, "kept": obs["kept"] + 1})

    def facts(self, obs: dict) -> dict:
        return {"pipeline.kept_ratio": obs["kept"] / self.rows}


# ----------------------------------------------------- documents corpus
#: the 30 words of the sf0.1 ``documents`` table, each about equally
#: frequent in every language; a near duplicate adds the 31st, "dup"
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15])


def make_documents(path: str, rows: int, seed: int,
                   near_share: float = 0.05) -> dict:
    """A ``documents(doc_id, text, lang, source, n_chars)`` table in ONE
    row group, drawn the way the sf0.1 table is: 10 to 99 words per
    document, each uniform over ``VOCAB``; a language label drawn apart
    from the text; ``source = src<doc_id % 20>``. ``near_share`` of the
    documents are another document's text plus the word "dup", so exact
    duplicates arise only where two of them copy the same text. The
    seed draws the text, relabels ``doc_id`` (a permutation of
    0..rows-1) and orders the rows."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(len(vocab), size=int(n))])
             for n in rng.integers(10, 100, rows)]
    near = np.flatnonzero(rng.random(rows) < near_share)
    base = list(texts)
    for i in near:
        j = int(rng.integers(rows - 1))
        texts[i] = base[j + (j >= i)] + " dup"
    langs = rng.choice(LANGS[0], rows, p=LANGS[1])
    ids = rng.permutation(rows)
    order = rng.permutation(rows)
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": [texts[i] for i in order],
        "lang": [str(langs[i]) for i in order],
        "source": [f"src{ids[i] % 20}" for i in order],
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=rows)
    return {"row_groups": pq.ParquetFile(path).metadata.num_row_groups,
            "near_dup_share": round(len(near) / rows, 4),
            "dup_share": round(1 - len(set(texts)) / rows, 4)}


class NearDup:
    """The ``ngram_jaccard_pairs`` leaf via ``__spark_entry__.queries()``
    on an sf0.1-shaped documents table in one row group: many short jobs,
    one unsplittable scan, pair expansion and hash aggregation. The
    result is collected and compared with the expected pairs."""

    name = "neardup"
    leaves = ("ngram_jaccard_pairs",)
    rows = 5_000  # the sf0.1 table's size
    #: documents of the oracle cross-check of the fast Jaccard reference
    CROSS_CHECK = 200

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.sf_dir = os.path.join(work, "sf")
        self.src = os.path.join(self.sf_dir, "documents.parquet")

    def setup(self, spark) -> dict:
        import __spark_entry__

        props = make_documents(self.src, self.rows, self.seed)
        self.signature = _frame_signature()
        oracles = __spark_entry__.oracle_sql()
        t = pq.read_table(self.src, columns=["doc_id", "text"])
        keys, texts = t.column("doc_id").to_pylist(), \
            t.column("text").to_pylist()
        jac = ["id1", "id2", "jaccard"]
        pairs = jaccard_pairs(keys, texts)
        self.expected = {"ngram_jaccard_pairs": self.signature(jac, pairs)}
        self._cross_check(oracles["ngram_jaccard_pairs"], pairs, jac)
        self.queries = __spark_entry__.queries()
        return {**props, "jaccard_pairs": len(pairs)}

    def _cross_check(self, oracle: str, pairs: list, cols: list) -> None:
        """The registry's DuckDB oracle must give the fast reference's
        answer on a subset: the documents of some expected pairs plus
        seeded others (the oracle itself is too slow for every run)."""
        rng = np.random.default_rng(self.seed)
        t = pq.read_table(self.src)
        ids = {k for p in pairs[:self.CROSS_CHECK // 4] for k in p[:2]}
        ids.update(int(k) for k in rng.choice(
            t.column("doc_id").to_numpy(), self.CROSS_CHECK - len(ids),
            replace=False))
        sub = t.filter(pa.compute.is_in(t.column("doc_id"),
                                        pa.array(sorted(ids), pa.int64())))
        con = duckdb.connect()
        con.register("documents", sub)
        rel = con.sql(oracle)
        got = self.signature([d[0] for d in rel.description], rel.fetchall())
        want = self.signature(cols, jaccard_pairs(
            sub.column("doc_id").to_pylist(), sub.column("text").to_pylist()))
        if got != want or not want[1]:
            raise RuntimeError("the fast Jaccard reference disagrees with "
                               "the leaf's DuckDB oracle")

    def rep(self, spark, tracer) -> None:
        self.rows_out = {}
        for leaf in self.leaves:
            with tracer.span(f"operators.{leaf}", leaf=leaf):
                with tracer.span("build"):
                    df = self.queries[leaf](spark, self.sf_dir)
                with tracer.span("action"):
                    self.rows_out[leaf] = (df.columns,
                                           [tuple(r) for r in df.collect()])

    def observed(self) -> dict:
        return {leaf: self.signature(cols, rows)
                for leaf, (cols, rows) in self.rows_out.items()}

    def matches(self, obs: dict) -> bool:
        return obs == self.expected

    def self_check(self, obs: dict) -> bool:
        """A result with one pair dropped must be judged wrong."""
        leaf = next(iter(obs))
        names, body = obs[leaf]
        return not self.matches({**obs, leaf: (names, body[1:])})

    def facts(self, obs: dict) -> dict:
        return {"operators.pair_output": len(obs[self.leaves[0]][1])}


# ----------------------------------------------------------------- rules
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def make_events(path: str, rows: int, seed: int) -> None:
    """An ``events(event_id, ts, user_id, event_type, value, props)``
    table drawn the way the sf0.1 one is: ids 0..rows-1 in time order
    over 30 days of January 2024, 1,500 users, five equally likely event
    types, ``value`` exponential with mean 50 (2 decimals), ``props``
    ``{"k": 0..99}``, no NULLs, one row group."""
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(rng.integers(0, 30 * 86_400 * 10**6, rows))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(rows), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 1500, rows), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(5, size=rows)],
        "value": np.round(rng.exponential(50.0, rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
    }), path, row_group_size=rows)


class Rules:
    """``RuleEngine.execute`` with the reference rule types over an
    sf0.1-shaped events table; the seed draws the rows and the rule
    parameters."""

    name = "rules"
    rows = 100_000  # the sf0.1 table's size

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.src = os.path.join(work, "events.parquet")
        rng = np.random.default_rng(seed)
        lo, hi = int(rng.integers(0, 5)), int(rng.integers(100, 300))
        short, long_ = int(rng.integers(4, 6)), int(rng.integers(5, 8))
        allowed = sorted(rng.choice(EVENT_TYPES, 3, replace=False))
        digit = int(rng.integers(1, 9))
        regex = rf'^\{{"k": [1-9]?[0-{digit}]\}}$'
        self.exprs = [
            "not_null(value)", "unique(event_id)",
            f"range(value,{lo},{hi})", f"enum(event_type,{','.join(allowed)})",
            f"regex(props,{regex})",
            f"length(event_type,{short},{long_})",
            # a timestamp renders with its time of day: every row fails
            "date_format(ts,YYYY-MM-DD)"]
        quoted = ", ".join(f"'{a}'" for a in allowed)
        self.oracle = [
            "value IS NULL", None,
            f"value IS NULL OR value < {lo} OR value > {hi}",
            f"event_type IS NOT NULL AND event_type NOT IN ({quoted})",
            f"props IS NOT NULL AND NOT regexp_matches(props, '{regex}')",
            f"event_type IS NULL OR length(event_type) < {short} "
            f"OR length(event_type) > {long_}",
            "ts IS NOT NULL"]

    def setup(self, spark) -> dict:
        from validatelite_spark.core.rule_parser import parse_rules

        make_events(self.src, self.rows, self.seed)
        self.rules = parse_rules(self.exprs)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{self.src}'")
        counts = ", ".join(
            "count(event_id) - count(DISTINCT event_id)" if c is None
            else f"count(*) FILTER (WHERE {c})" for c in self.oracle)
        total, *failed = con.sql(f"SELECT count(*), {counts} FROM events"
                                 ).fetchone()
        self.expected = {"total": [total] * len(self.rules),
                         "failed": failed}
        return {"rules": len(self.rules),
                "failed_share": [round(f / total, 3) for f in failed]}

    def rep(self, spark, tracer) -> None:
        from validatelite_spark.operators.engine import RuleEngine
        from validatelite_spark.sources.reader import read_source

        with tracer.span("sources.read_source"):
            df = read_source(spark, self.src)
        with tracer.span("operators.engine"):
            self.results = RuleEngine(spark).execute(df, self.rules,
                                                     table_name="events")

    def observed(self) -> dict:
        return {"total": [r.total_records for r in self.results],
                "failed": [r.failed_records for r in self.results],
                "plans": [r.execution_plan for r in self.results]}

    def matches(self, obs: dict) -> bool:
        return (obs["total"] == self.expected["total"]
                and obs["failed"] == self.expected["failed"])

    def self_check(self, obs: dict) -> bool:
        """A failed count one off must be judged wrong."""
        return not self.matches(
            {**obs, "failed": [obs["failed"][0] + 1, *obs["failed"][1:]]})

    def facts(self, obs: dict) -> dict:
        merged = [p for p in obs["plans"]
                  if p.get("execution_type") == "merged_agg"]
        return {"plans.merged_scans": sum(1 / p["group_size"]
                                          for p in merged)}


class DedupRules:
    """``NearDup`` then ``Rules`` in each repetition: the operators a
    curation job runs after the filter, pair expansion and the rule
    engine, each on its own sf0.1-shaped table. They share one workload
    so that a run pays the session's cold start once for both."""

    name = "dedup_rules"

    def __init__(self, work: str, seed: int) -> None:
        self.parts = (NearDup(work, seed), Rules(work, seed))
        self.rows = sum(p.rows for p in self.parts)
        self.leaves = NearDup.leaves
        self.src = self.parts[0].src  # the probes need a text column

    def setup(self, spark) -> dict:
        return {f"{p.name}.{k}": v for p in self.parts
                for k, v in p.setup(spark).items()}

    def rep(self, spark, tracer) -> None:
        for p in self.parts:
            p.rep(spark, tracer)

    def observed(self) -> list:
        return [p.observed() for p in self.parts]

    def matches(self, obs: list) -> bool:
        return all(p.matches(o) for p, o in zip(self.parts, obs))

    def self_check(self, obs: list) -> bool:
        return all(p.self_check(o) for p, o in zip(self.parts, obs))

    def facts(self, obs: list) -> dict:
        return {k: v for p, o in zip(self.parts, obs)
                for k, v in p.facts(o).items()}


WORKLOADS = {w.name: w for w in (Filter, DedupRules)}
