"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship fused multi-rule scan on sf0.001 documents.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data ops); each callable takes (spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (omitted only for
genuinely non-SQL ops: perplexity, simhash, pipeline, multimodal — the
driver records a weaker rows-only check for those).

Column names are aligned between Spark results and oracle SQL; every
float is rounded identically on both sides before comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import (
    EN_STOPWORDS,
    GOPHER_DEFAULTS,
    LANG_MARKERS,
    LANG_PRIORITY,
    distinct_token_ratio,
    fingerprint,
    gopher_fail,
    lang_id,
    mean_word_length,
    quality_score,
    stopword_count,
    symbol_ratio,
    token_count,
)
from validatelite_spark.sources.reader import spread as _spread

# --------------------------------------------------------------- helpers

def _utc(spark: SparkSession) -> None:
    # the driver's session may not pin UTC; timestamp queries need it for
    # DuckDB (UTC-naive) parity
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: tables whose queries do heavy per-row map work (regex signals,
#: shingling UDFs, vector math) on a SINGLE-ROW-GROUP parquet — spread
#: right after the read (``sources.reader.spread``). A query opts out
#: with ``spread=False`` where the exchange costs more than the one-core
#: scan saves (ROADMAP direction 2 has the measurements).
_SPREAD_TABLES = {"documents"}


def _read(spark: SparkSession, sf_dir: str, table: str,
          spread: bool = True) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if spread and table in _SPREAD_TABLES:
        df = _spread(df)
    return df


# ---- DuckDB SQL fragment builders (generated from the same constants as
# ---- the Spark implementations, so the two sides cannot drift)

def _d_tokens(e: str) -> str:
    return (f"list_filter(regexp_split_to_array(trim(lower({e})), '\\s+'), "
            f"t -> t <> '')")


def _d_marker_count(e: str, words: list[str]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_d_tokens(e)}, t -> t in ({quoted})))"


def _d_lang_score(e: str, lg: str) -> str:
    if lg == "zh":
        return f"length(regexp_replace({e}, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))"
    return _d_marker_count(e, LANG_MARKERS[lg])


def _d_lang_id(e: str) -> str:
    score = {lg: _d_lang_score(e, lg) for lg in LANG_PRIORITY}
    cases = []
    for idx, lg in enumerate(LANG_PRIORITY):
        conds = [f"{score[lg]} > 0"]
        for other in LANG_PRIORITY[idx + 1:]:
            conds.append(f"{score[lg]} >= {score[other]}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    return "CASE " + " ".join(cases) + " ELSE 'und' END"


def _d_nwords(e: str) -> str:
    return f"len({_d_tokens(e)})"


def _d_distinct_ratio(e: str) -> str:
    return (f"CASE WHEN {_d_nwords(e)} > 0 THEN "
            f"len(list_distinct({_d_tokens(e)})) * 1.0 / {_d_nwords(e)} "
            f"ELSE 1.0 END")


def _d_symbol_ratio(e: str) -> str:
    return (f"CASE WHEN length({e}) > 0 THEN "
            f"(length({e}) - length(regexp_replace({e}, '[^a-zA-Z0-9\\s]', '', 'g')))"
            f" * 1.0 / length({e}) ELSE 0.0 END")


def _d_mean_word_len(e: str) -> str:
    return (f"CASE WHEN {_d_nwords(e)} > 0 THEN "
            f"length(regexp_replace({e}, '\\s+', '', 'g')) * 1.0 / {_d_nwords(e)} "
            f"ELSE 0.0 END")


def _d_stopword_count(e: str) -> str:
    return _d_marker_count(e, EN_STOPWORDS)


def _d_gopher_fail(e: str) -> str:
    p = GOPHER_DEFAULTS
    return (
        f"({e} IS NULL OR {_d_nwords(e)} < {p['min_words']} "
        f"OR {_d_nwords(e)} > {p['max_words']} "
        f"OR {_d_mean_word_len(e)} < {p['min_mean_word_len']} "
        f"OR {_d_mean_word_len(e)} > {p['max_mean_word_len']} "
        f"OR {_d_symbol_ratio(e)} > {p['max_symbol_ratio']} "
        f"OR {_d_stopword_count(e)} < {p['min_stopword_count']} "
        f"OR {_d_distinct_ratio(e)} < {p['min_distinct_ratio']})"
    )


def _d_fingerprint(e: str) -> str:
    return f"md5(regexp_replace(lower(trim({e})), '\\s+', ' ', 'g'))"


def _d_quality_score(e: str) -> str:
    sw = f"least({_d_stopword_count(e)} * 1.0 / nullif({_d_nwords(e)}, 0) * 5.0, 1.0)"
    sw = f"coalesce({sw}, 0.0)"
    dv = _d_distinct_ratio(e)
    sym = f"greatest(0.0, 1.0 - {_d_symbol_ratio(e)} * 5.0)"
    return f"round({sw} * 0.4 + {dv} * 0.3 + {sym} * 0.3 + 1e-9, 6)"


from validatelite_spark.functions.textquality import BPE_PATTERN as _BPE_RAW
_BPE_SQL = _BPE_RAW.replace("'", "''")

_JACCARD_ORACLE = """
WITH t AS (
  SELECT doc_id AS k,
         list_distinct(list_transform(
             range(1, len({toks}) - 1),
             i -> array_to_string({toks}[i:i+2], ' '))) AS sh
  FROM documents
  WHERE len({toks}) >= 3
), sized AS (
  SELECT k, sh, len(sh) AS sz FROM t
), ex AS (
  SELECT k, unnest(sh) AS s FROM sized
), common AS (
  SELECT a.k AS id1, b.k AS id2, count(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.k < b.k
  GROUP BY 1, 2
)
SELECT c.id1, c.id2,
       round(c.common * 1.0 / (sa.sz + sb.sz - c.common) + 1e-9, 6) AS jaccard
FROM common c
JOIN sized sa ON sa.k = c.id1
JOIN sized sb ON sb.k = c.id2
WHERE round(c.common * 1.0 / (sa.sz + sb.sz - c.common) + 1e-9, 6) >= 0.5
""".replace("{toks}", _d_tokens("text"))

_SIMHASH_MD5_ORACLE = """
WITH ex AS (
  SELECT doc_id AS k, unnest(list_distinct({toks})) AS t
  FROM documents WHERE text IS NOT NULL
), h AS (
  SELECT k, cast(CASE WHEN v >= 9223372036854775808::hugeint
                 THEN v - 18446744073709551616::hugeint ELSE v END
            AS bigint) AS h64
  FROM (SELECT k, ('0x'||substr(md5(t),1,8))::bigint::hugeint * 4294967296
                  + ('0x'||substr(md5(t),9,8))::bigint AS v FROM ex)
), bits AS (
  SELECT k, i, sum(CASE WHEN (h64 >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h, (SELECT unnest(range(64)) AS i)
  GROUP BY 1, 2
), sig AS (
  SELECT k, cast(CASE WHEN u >= 9223372036854775808::hugeint
                 THEN u - 18446744073709551616::hugeint ELSE u END
            AS bigint) AS sh
  FROM (SELECT k, sum(CASE WHEN vote > 0 THEN 1::hugeint << i ELSE 0 END)
               AS u
        FROM bits GROUP BY k)
)
SELECT a.k AS id1, b.k AS id2,
       cast(bit_count(xor(a.sh, b.sh)) AS int) AS distance
FROM sig a JOIN sig b ON a.k < b.k
WHERE bit_count(xor(a.sh, b.sh)) <= 3
""".replace("{toks}", _d_tokens("text"))


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the fused multi-rule single-scan aggregate (reference
    rule_merger.py:142-299 as ONE df.agg) on sf0.001 documents."""
    _utc(spark)
    return _q_fused_rules(spark, "/root/testdata/sf0.001")


# ------------------------------------------------- rule-engine queries

def _metrics_query(spark: SparkSession, sf_dir: str, table: str,
                   fail) -> DataFrame:
    df = _read(spark, sf_dir, table)
    return df.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.sum(F.when(fail(df), 1).otherwise(0)).alias("failed_records"))


def _q_notnull(spark, sf_dir):
    return _metrics_query(spark, sf_dir, "documents",
                          lambda df: F.col("text").isNull())


def _q_range(spark, sf_dir):
    return _metrics_query(
        spark, sf_dir, "documents",
        lambda df: F.col("n_chars").isNull() | (F.col("n_chars") < 100)
        | (F.col("n_chars") > 400))


def _q_length(spark, sf_dir):
    ln = F.length(F.col("text").cast("string"))
    return _metrics_query(
        spark, sf_dir, "documents",
        lambda df: F.col("text").isNull() | (ln < 50) | (ln > 1000))


def _q_enum(spark, sf_dir):
    return _metrics_query(
        spark, sf_dir, "documents",
        lambda df: F.col("lang").isNotNull()
        & ~F.col("lang").isin(["en", "de", "fr"]))


def _q_regex(spark, sf_dir):
    from validatelite_spark.functions.udf_tier import regex_fail
    return _metrics_query(
        spark, sf_dir, "documents",
        lambda df: regex_fail(F.col("text"), "^[a-z]"))


def _q_fused_rules(spark, sf_dir):
    df = _read(spark, sf_dir, "documents")
    ln = F.length(F.col("text").cast("string"))
    return df.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
        .alias("r_notnull"),
        F.sum(F.when(F.col("n_chars").isNull() | (F.col("n_chars") < 100)
                     | (F.col("n_chars") > 400), 1).otherwise(0))
        .alias("r_range"),
        F.sum(F.when(F.col("lang").isNotNull()
                     & ~F.col("lang").isin(["en", "de", "fr"]), 1)
              .otherwise(0)).alias("r_enum"),
        F.sum(F.when(F.col("text").isNull() | (ln < 50) | (ln > 1000), 1)
              .otherwise(0)).alias("r_length"),
    )


def _q_unique_source(spark, sf_dir):
    df = _read(spark, sf_dir, "documents", spread=False)
    return df.agg(
        F.count(F.lit(1)).alias("total_records"),
        (F.sum(F.col("source").isNotNull().cast("long"))
         - F.count_distinct(F.col("source"))).alias("failed_records"))


def _q_date_format(spark, sf_dir):
    from validatelite_spark.functions.udf_tier import date_format_fail
    _utc(spark)
    df = _read(spark, sf_dir, "orders").withColumn(
        "ds", F.date_format("o_orderdate", "yyyy-M-d"))
    return df.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.sum(F.when(date_format_fail(F.col("ds"), "YYYY-MM-DD"), 1)
              .otherwise(0)).alias("failed_records"))


# ----------------------------------------------- text-analysis queries

def _q_langid_counts(spark, sf_dir):
    df = _read(spark, sf_dir, "documents")
    return (df.groupBy(lang_id(F.col("text")).alias("lang_detected"))
            .agg(F.count(F.lit(1)).alias("n")))


def _q_token_stats(spark, sf_dir):
    df = _read(spark, sf_dir, "documents")
    return (df.groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum(token_count(F.col("text"))).alias("total_tokens"),
                 F.round(F.avg(distinct_token_ratio(F.col("text"))) + F.lit(1e-9), 6)
                 .alias("avg_distinct_ratio")))


def _q_quality_scores(spark, sf_dir):
    df = _read(spark, sf_dir, "documents")
    return df.select("doc_id",
                     quality_score(F.col("text")).alias("quality"))


def _q_fingerprints(spark, sf_dir):
    df = _read(spark, sf_dir, "documents")
    return df.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def _q_gopher_flags(spark, sf_dir):
    df = _read(spark, sf_dir, "documents")
    t = F.col("text")
    return df.select(
        "doc_id",
        token_count(t).cast("long").alias("n_words"),
        stopword_count(t).cast("long").alias("stop_cnt"),
        gopher_fail(t).alias("gopher_fail"))


def _q_distinct_candidates(spark, sf_dir):
    """SELECT DISTINCT … LIMIT — the reference's stage-2 candidate feed
    (reference: database_dialect.py:689-700). Deterministic: ordered."""
    df = _read(spark, sf_dir, "documents")
    return (df.select("lang").distinct().orderBy("lang").limit(10000))


def _q_quality_histogram(spark, sf_dir):
    df = _read(spark, sf_dir, "documents")
    bucket = F.floor(quality_score(F.col("text")) * 10).alias("bucket")
    return df.groupBy(bucket).agg(F.count(F.lit(1)).alias("n"))


def _q_perplexity_by_source(spark, sf_dir):
    # NOT SQL-expressible (char-bigram LM) → rows-only oracle
    from validatelite_spark.functions.perplexity import perplexity
    df = _read(spark, sf_dir, "documents")
    return (df.groupBy("source")
            .agg(F.round(F.avg(perplexity(F.col("text"))), 4)
                 .alias("avg_ppl"),
                 F.count(F.lit(1)).alias("docs")))


# -------------------------------------------------------- dedup queries

def _q_exact_dedup(spark, sf_dir):
    from validatelite_spark.operators.dedup import exact_dedup
    df = _read(spark, sf_dir, "documents")
    kept = exact_dedup(df, "text", "doc_id")
    return kept.agg(F.count(F.lit(1)).alias("kept_docs"))


def _q_ngram_jaccard(spark, sf_dir):
    from validatelite_spark.operators.dedup import ngram_jaccard_pairs
    df = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5)


def _q_minhash_lsh(spark, sf_dir):
    # rows_per_band=2 (not the 0.7-tuned default 3): at this query's
    # j=0.5 threshold the b=32/r=3 banding would miss a borderline pair
    # with prob (1-0.5³)³² ≈ 1.4e-2 vs the exhaustive oracle; r=2 puts
    # the miss prob at (1-0.25)³² ≈ 1e-4 — recall margin the oracle
    # comparison needs on ANY corpus, not just the planted high-j dups.
    from validatelite_spark.operators.dedup import minhash_lsh_pairs
    df = _read(spark, sf_dir, "documents")
    return minhash_lsh_pairs(df, "text", "doc_id", n=3, threshold=0.5,
                             rows_per_band=2)


def _q_simhash(spark, sf_dir):
    # xxhash64-based fingerprint — not reproducible in DuckDB → rows-only
    from validatelite_spark.operators.dedup import simhash_pairs
    df = _read(spark, sf_dir, "documents")
    return simhash_pairs(df, "text", "doc_id", max_distance=3)


def _q_simhash_md5(spark, sf_dir):
    """Same SimHash pipeline with the md5-derived 64-bit token hash —
    bit-for-bit reproducible in DuckDB, so banding + sign-vote signature
    + hamming verify are all value-hash-checked (the xxhash64 variant
    above stays the fast production default)."""
    from validatelite_spark.operators.dedup import simhash_pairs
    df = _read(spark, sf_dir, "documents")
    return simhash_pairs(df, "text", "doc_id", max_distance=3,
                         hash_fn="md5")


def _q_simhash_md5_blocks(spark, sf_dir):
    """The SCALE banding (Manku block-combination keys, blocks=6 → 20
    bands of ~32-bit keys) against the SAME oracle as simhash_pairs_md5
    — driver-proves the web-scale candidate path returns identical
    pairs to the single-block anchor (pigeonhole recall 1 on both)."""
    from validatelite_spark.operators.dedup import simhash_pairs
    df = _read(spark, sf_dir, "documents")
    return simhash_pairs(df, "text", "doc_id", max_distance=3,
                         hash_fn="md5", blocks=6)


def _q_repetition(spark, sf_dir):
    """Gopher repetition signals (Rae et al. 2021 A1.1): per-doc
    duplicate-trigram fraction + top-trigram share."""
    from validatelite_spark.operators.repetition import repetition_signals
    df = _read(spark, sf_dir, "documents")
    return repetition_signals(df, "text", "doc_id", n=3)


def _rule_metrics(df: DataFrame, rule) -> DataFrame:
    """(total_records, failed_records) of one rule from the engine's
    merged scan (plans/merger.py)."""
    from validatelite_spark.plans.compiler import compile_rule
    from validatelite_spark.plans.merger import TOTAL_ALIAS, MergeGroup
    group = MergeGroup(None, [compile_rule(rule, df.schema)])
    return group.scan(df).select(
        F.col(TOTAL_ALIAS).alias("total_records"),
        F.col(group.alias_for(0)).alias("failed_records"))


def _q_repetition_rule(spark, sf_dir):
    """REPETITION as an ENGINE rule: a registered-only type (no enum
    member, core/builtin_rule_types.py) compiled through the registry
    dispatch into the standard metrics aggregate."""
    from validatelite_spark.core.rules import Rule
    df = _read(spark, sf_dir, "documents")
    return _rule_metrics(
        df, Rule("REPETITION", "text", {"n": 3, "max_dup_ngram_frac": 0.2}))


def _q_decontaminate(spark, sf_dir):
    """Train/test decontamination: docs sharing any 4-gram with a
    deterministic held-out 'benchmark' sixteenth of the corpus
    (md5(doc_id) first hex digit = '0' — reproducible in DuckDB)."""
    from validatelite_spark.operators.repetition import contaminated_docs
    df = _read(spark, sf_dir, "documents")
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    return contaminated_docs(
        df.filter(~is_bench), df.filter(is_bench), "text", "doc_id", n=4)


# --------------------------------------------------- similarity queries

def _emb_double(spark, sf_dir):
    # cast float32 → float64 BEFORE any arithmetic so Spark and the DuckDB
    # oracle perform identical IEEE double operations (both sum the array
    # sequentially → bit-identical cosines)
    return (_read(spark, sf_dir, "embeddings")
            .withColumn("embedding", F.col("embedding").cast("array<double>")))


def _q_ann_bruteforce(spark, sf_dir):
    from validatelite_spark.operators.similarity import brute_force_topk
    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, q, k=10, round_to=6)


def _q_embedding_pairs(spark, sf_dir):
    from validatelite_spark.operators.similarity import embedding_cosine_pairs
    emb = _emb_double(spark, sf_dir).filter(F.col("vec_id") < 800)
    return embedding_cosine_pairs(emb, threshold=0.4, round_to=6)


def _q_ann_ivf(spark, sf_dir):
    # IVF-bucketed ANN with n_probe = n_centroids → identical to brute
    # force, so the BRUTE-FORCE SQL is a valid oracle for it
    from validatelite_spark.operators.similarity import ivf_topk
    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, q, k=10, n_centroids=8, n_probe=8)


def _q_ann_ivf_index(spark, sf_dir):
    # persisted-IVF path: index written partitionBy(bucket) once, probe
    # is a partition-pruned scan (operators/similarity.py:
    # ivf_index_write/probe). n_probe = n_centroids → exhaustive, so the
    # brute-force SQL is a valid oracle; partition pruning itself is
    # pinned in tests/test_ivf.py
    import hashlib
    import tempfile
    from validatelite_spark.operators.similarity import (ivf_index_probe,
                                                         ivf_index_write)
    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/vlite_ivf_index_{tag}"
    ivf_index_write(emb, path, n_centroids=8)
    return ivf_index_probe(spark, path, q, k=10, n_probe=8)


def _q_bpe_token_stats(spark, sf_dir):
    from validatelite_spark.functions.textquality import bpe_token_count
    df = _read(spark, sf_dir, "documents")
    return (df.groupBy("lang")
            .agg(F.sum(bpe_token_count(F.col("text")).cast("long"))
                 .alias("bpe_tokens"),
                 F.count(F.lit(1)).alias("docs")))


def _q_ann_lsh(spark, sf_dir):
    # approximate (bucketed, multi-probe) — but still DETERMINISTIC given
    # the seeded hyperplanes, so the DuckDB oracle replays the whole
    # thing: same plane literals, candidate = hamming(sig_q, sig_c) <= 1
    # in any table (exactly the probe-all-1-bit-flips rule), same
    # ranking. Recall vs brute force additionally asserted in tests.
    from validatelite_spark.operators.similarity import lsh_topk
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(emb, q, k=10, n_planes=6, n_tables=8, dim=64)


def _plane_rows(n_planes: int, n_tables: int,
                dim: int = 64, seed: int = 42) -> str:
    """The seeded hyperplanes as a SQL VALUES list — the same floats the
    Spark signature UDF matmuls against, so DuckDB can rebuild identical
    sign-bit signatures."""
    from validatelite_spark.operators.similarity import _hyperplanes
    tables = [_hyperplanes(dim, n_planes, seed + 7919 * t)
              for t in range(n_tables)]
    return ", ".join(
        f"({t}, {i}, [{', '.join(repr(x) for x in plane)}]::DOUBLE[])"
        for t, planes in enumerate(tables)
        for i, plane in enumerate(planes))


def _lsh_oracle() -> str:
    """DuckDB replay of ``_q_ann_lsh``: plane literals via
    ``_plane_rows``; signatures, OR-amplified multi-probe candidacy
    (hamming <= 1 per table), cosine scoring and ranking all recomputed
    in SQL."""
    rows = _plane_rows(n_planes=6, n_tables=8)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p(tbl, plane, w) AS (VALUES {rows}),
sigs AS (
  SELECT e.vec_id, p.tbl,
         sum(CASE WHEN list_dot_product(e.v, p.w) > 0
                  THEN (1::bigint << p.plane) ELSE 0 END) AS sig
  FROM e, p GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sigs q JOIN sigs c
    ON q.tbl = c.tbl AND bit_count(xor(q.sig, c.sig)) <= 1
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_dot_product(c.v, q.v) /
               (sqrt(list_dot_product(c.v, c.v)) *
                sqrt(list_dot_product(q.v, q.v))), 6) AS score
  FROM cand JOIN e c ON c.vec_id = cand.neighbor_id
            JOIN e q ON q.vec_id = cand.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 10"""


def _pairs_lsh_oracle() -> str:
    """DuckDB replay of ``_q_embedding_pairs_lsh``: exact-bucket
    collision in any of the 16 tables (no probes), then cosine >=
    threshold on the deduped candidate pairs."""
    rows = _plane_rows(n_planes=4, n_tables=16)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 800),
p(tbl, plane, w) AS (VALUES {rows}),
sigs AS (
  SELECT e.vec_id, p.tbl,
         sum(CASE WHEN list_dot_product(e.v, p.w) > 0
                  THEN (1::bigint << p.plane) ELSE 0 END) AS sig
  FROM e, p GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM sigs a JOIN sigs b
    ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
), scored AS (
  SELECT cand.id1, cand.id2,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))), 6) AS score
  FROM cand JOIN e a ON a.vec_id = cand.id1
            JOIN e b ON b.vec_id = cand.id2)
SELECT id1, id2, score FROM scored WHERE score >= 0.4"""


def _q_embedding_pairs_lsh(spark, sf_dir):
    # the 100 TB path for near-dup pairs: LSH-bucketed (no all-pairs
    # crossJoin). Deterministic given the seeded planes → fully oracled
    # (see _pairs_lsh_oracle); recall vs the exact result additionally
    # asserted in tests/test_dedup.py
    from validatelite_spark.operators.similarity import embedding_cosine_pairs
    emb = _emb_double(spark, sf_dir).filter(F.col("vec_id") < 800)
    return embedding_cosine_pairs(emb, threshold=0.4, round_to=6,
                                  n_planes=4, n_tables=16, dim=64)


def _q_semantic_dedup(spark, sf_dir):
    # SemDeDup (Abbas et al. 2023) over LSH sign-bit clusters — the
    # fully SQL-replayable scale path: bucket = 6 seeded-hyperplane
    # sign bits, ranking centroid = distributed per-bucket mean,
    # dominance = within-bucket (centroid_sim ASC, id) upper-triangular
    # rule at cosine >= 0.3 (operators/semdedup.py)
    from validatelite_spark.operators.semdedup import semdedup_flags
    emb = _emb_double(spark, sf_dir)
    return (semdedup_flags(emb, eps=0.3, mode="lsh", n_planes=6, dim=64)
            .select(F.col("id").alias("vec_id"), "bucket",
                    "centroid_sim", "kept"))


def _q_semantic_dedup_kmeans(spark, sf_dir):
    # SemDeDup over k-means coarse clusters: iters=0 pins the
    # deterministic first-k seed so the argmax-dot assignment (the
    # production Arrow-matmul path, similarity._bucket_udf) is exactly
    # replayed by the oracle's row_number-over-dot-desc rule; the
    # Lloyd-refined path (iters>0) is pytest-verified vs a numpy
    # reference in tests/test_semdedup.py
    from validatelite_spark.operators.semdedup import semdedup_flags
    emb = _emb_double(spark, sf_dir)
    return (semdedup_flags(emb, eps=0.3, mode="kmeans", n_clusters=8,
                           iters=0)
            .select(F.col("id").alias("vec_id"), "bucket",
                    "centroid_sim", "kept"))


def _semdedup_tail(eps: float) -> str:
    """Shared oracle tail: bucket-mean centroids (round(avg+1e-12, 6)
    per dim, list rebuilt in dim order — the exact arithmetic of
    ``semdedup.bucket_mean_centroids``), centroid_sim ranking, and the
    dominance anti-set. Expects CTEs ``e(vec_id, v)`` and
    ``assign(vec_id, bucket)``."""
    return f"""
ex AS (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS val
       FROM e),
cents AS (
  SELECT bucket, list(m ORDER BY dim) AS c FROM (
    SELECT a.bucket, ex.dim, round(avg(ex.val) + 1e-12, 6) AS m
    FROM ex JOIN assign a USING (vec_id) GROUP BY 1, 2) t
  GROUP BY bucket),
sims AS (
  SELECT e.vec_id, a.bucket, e.v,
         sqrt(list_dot_product(e.v, e.v)) AS nrm,
         round(list_dot_product(e.v, c.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(c.c, c.c))), 6) AS centroid_sim
  FROM e JOIN assign a USING (vec_id) JOIN cents c ON a.bucket = c.bucket),
dropped AS (
  SELECT DISTINCT p.vec_id
  FROM sims p JOIN sims q ON p.bucket = q.bucket
   AND (q.centroid_sim < p.centroid_sim OR
        (q.centroid_sim = p.centroid_sim AND q.vec_id < p.vec_id))
  WHERE round(list_dot_product(p.v, q.v) / (p.nrm * q.nrm), 6) >= {eps})
SELECT s.vec_id, CAST(s.bucket AS BIGINT) AS bucket, s.centroid_sim,
       (d.vec_id IS NULL) AS kept
FROM sims s LEFT JOIN dropped d ON s.vec_id = d.vec_id"""


def _semdedup_lsh_oracle(eps: float = 0.3) -> str:
    """DuckDB replay of ``_q_semantic_dedup``: same seeded plane
    literals as the Spark signature UDF (table 0 of ``_plane_rows``),
    then the shared bucket-mean + dominance tail."""
    rows = _plane_rows(n_planes=6, n_tables=1)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p(tbl, plane, w) AS (VALUES {rows}),
assign AS (
  SELECT e.vec_id,
         sum(CASE WHEN list_dot_product(e.v, p.w) > 0
                  THEN (1::bigint << p.plane) ELSE 0 END) AS bucket
  FROM e, p GROUP BY 1),
{_semdedup_tail(eps)}"""


def _semdedup_kmeans_oracle(eps: float = 0.3, k: int = 8) -> str:
    """DuckDB replay of ``_q_semantic_dedup_kmeans``: seed centroids =
    first k vectors by id (``similarity._centroids_of`` at iters=0),
    assignment = argmax dot with ties to the lowest centroid id (the
    np.argmax rule), then the shared tail."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}) s),
assign AS (
  SELECT vec_id, bucket FROM (
    SELECT e.vec_id, c0.cid AS bucket,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c0.c) DESC, c0.cid) AS rn
    FROM e, c0) t WHERE rn = 1),
{_semdedup_tail(eps)}"""


def _dsir_split(spark, sf_dir):
    # target = the md5-sixteenth "benchmark-like" subset (same flag the
    # decontaminate query uses), raw = the rest of the crawl
    docs = _read(spark, sf_dir, "documents")
    is_t = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    return docs.filter(is_t), docs.filter(~is_t)


def _q_dsir_weights(spark, sf_dir):
    # DSIR (Xie et al. 2023) log importance weights: hashed uni+bigram
    # bucket models of target vs raw, add-1 smoothing over 1024 buckets
    # (operators/dsir.py) — every step replayed by the DuckDB oracle
    from validatelite_spark.operators.dsir import dsir_weights
    target, raw = _dsir_split(spark, sf_dir)
    return (dsir_weights(target, raw, n_buckets=1024)
            .withColumnRenamed("id", "doc_id"))


def _q_dsir_sample(spark, sf_dir):
    # Gumbel-top-k importance resample without replacement — the
    # deterministic (md5-seeded) selection of the 50 most
    # target-like raw documents
    from validatelite_spark.operators.dsir import dsir_resample
    target, raw = _dsir_split(spark, sf_dir)
    return (dsir_resample(target, raw, k=50, n_buckets=1024, seed=42)
            .withColumnRenamed("id", "doc_id"))


def _dsir_oracle(sample: bool = False, n_buckets: int = 1024,
                 alpha: float = 1.0, k: int = 50, seed: int = 42) -> str:
    """DuckDB replay of the DSIR pipeline: same tokens, same uni+bigram
    occurrences, same md5 bucket hash, same smoothed log-ratio table
    (unseen buckets via range({B})), same per-doc sums — and for the
    sample, the same md5-uniform Gumbel draw and (score DESC, id) cut."""
    head = f"""
WITH d AS (SELECT doc_id, text,
                  substr(md5(cast(doc_id AS varchar)), 1, 1) = '0' AS is_t
           FROM documents),
tkt AS (SELECT doc_id, is_t, {_d_tokens('text')} AS tk FROM d),
grams AS (
  SELECT doc_id, is_t,
         unnest(list_concat(tk,
            list_transform(range(1, len(tk)),
                           i -> array_to_string(tk[i:i+1], ' ')))) AS g
  FROM tkt WHERE tk IS NOT NULL),
bk AS (SELECT doc_id, is_t,
              CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
                % {n_buckets} AS bucket
       FROM grams),
dom AS (SELECT range AS bucket FROM range({n_buckets})),
tc AS (SELECT bucket, count(*) AS c FROM bk WHERE is_t GROUP BY 1),
rc AS (SELECT bucket, count(*) AS c FROM bk WHERE NOT is_t GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM bk WHERE is_t) AS tt,
               (SELECT count(*) FROM bk WHERE NOT is_t) AS rt),
lam AS (SELECT dom.bucket,
               ln((coalesce(tc.c, 0) + {alpha}) / (tot.tt + {alpha} * {n_buckets}))
             - ln((coalesce(rc.c, 0) + {alpha}) / (tot.rt + {alpha} * {n_buckets}))
               AS llr
        FROM dom LEFT JOIN tc USING (bucket)
                 LEFT JOIN rc USING (bucket), tot),
sums AS (SELECT doc_id, sum(lam.llr) AS s
         FROM bk JOIN lam USING (bucket) WHERE NOT bk.is_t GROUP BY 1)"""
    if not sample:
        return head + """
SELECT d.doc_id, round(coalesce(sums.s, 0.0) + 1e-9, 6) AS logw
FROM d LEFT JOIN sums USING (doc_id) WHERE NOT d.is_t"""
    return head + f""",
scored AS (
  SELECT d.doc_id, coalesce(sums.s, 0.0) AS s,
         ((CAST(('0x' || substr(md5(cast(d.doc_id AS varchar)
                                     || ':{seed}'), 1, 8)) AS BIGINT)
           % 1000000) + 0.5) / 1000000.0 AS u
  FROM d LEFT JOIN sums USING (doc_id) WHERE NOT d.is_t)
SELECT doc_id, round(s + 1e-9, 6) AS logw,
       round(s + (-ln(-ln(u))) + 1e-9, 6) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT {k}"""


# ------------------------------------------------------- events queries

def _q_events_daily(spark, sf_dir):
    _utc(spark)
    df = _read(spark, sf_dir, "events")
    return (df.groupBy(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                .alias("day"),
                "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def _q_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user via lag + cumsum."""
    _utc(spark)
    df = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet timestamps load as TIMESTAMP_NTZ in Spark 4; go through a
    # tz-aware timestamp (session tz pinned to UTC) to get epoch seconds
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    return (df.withColumn("new_sess", gap)
            .groupBy("user_id")
            .agg((F.sum("new_sess") + 1).alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


# ------------------------------------------------------- TPC-H-ish

def _q_tpch_q1(spark, sf_dir):
    _utc(spark)
    df = _read(spark, sf_dir, "lineitem")
    return (df.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order")))


def _q_tpch_rollup(spark, sf_dir):
    """ROLLUP aggregation (subtotals + grand total in one pass)."""
    _utc(spark)
    df = _read(spark, sf_dir, "lineitem")
    return (df.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("l_quantity"), 4).alias("qty")))


def _q_events_pivot(spark, sf_dir):
    """Pivot: one column per event type, counts per day."""
    _utc(spark)
    df = _read(spark, sf_dir, "events")
    types = ["click", "view", "purchase"]
    return (df.filter(F.col("event_type").isin(types))
            .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                     .alias("day"))
            .pivot("event_type", types)
            .agg(F.count(F.lit(1)))
            # a (day, type) combo with no rows pivots to NULL in Spark but
            # 0 under the oracle's count FILTER — make 0 explicit
            .na.fill(0, types))


def _q_top_customers(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    rev = (orders.groupBy("o_custkey")
           .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"),
                F.count(F.lit(1)).alias("n_orders")))
    joined = rev.join(F.broadcast(cust),
                      rev.o_custkey == cust.c_custkey, "inner")
    # top-k via orderBy().limit(k) — Catalyst plans TakeOrderedAndProject
    # (per-partition top-k + k-row merge on the driver), never funneling
    # every aggregated customer through ONE global-window task (VERDICT
    # r2 #5); rank is derived AFTER the limit, a window over k rows
    order = [F.desc("revenue"), F.col("c_custkey")]
    top = joined.orderBy(*order).limit(10)
    return (top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
            .select("c_custkey", "c_name", "revenue", "n_orders", "rank"))


# ------------------------------------------ pipeline / multimodal (ours)

def _q_pipeline_keep(spark, sf_dir):
    # pages are synthesized (no driver view exists) → rows-only oracle;
    # full parity vs the pandas reference impl is tests/test_pipeline.py
    from validatelite_spark.pipeline import QualityPipeline, synthesize_pages
    _utc(spark)
    pages = synthesize_pages(spark, 5000)
    ann = QualityPipeline(spark).annotate(pages)
    return ann.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum(F.col("fail_gopher_text").cast("long")).alias("gopher_fails"),
        F.sum(F.col("fail_lang_id_text").cast("long")).alias("lang_fails"),
        F.sum(F.col("fail_pii_text").cast("long")).alias("pii_hits"))


def _q_pipeline_keep_sql(spark, sf_dir):
    """The quality pipeline's native-rule keep logic + PII scrub with a
    FULL DuckDB oracle (per-doc keep flag, pii hit, md5 of scrubbed
    text) — the strongest end-to-end correctness gate on the pipeline.
    Runs on the driver's documents view (perplexity omitted: it is the
    one genuinely non-SQL rule; its parity lives in tests/test_pipeline
    against the pandas reference impl)."""
    from validatelite_spark.core.rules import Rule, RuleType, SeverityLevel
    from validatelite_spark.pipeline import QualityPipeline
    df = _read(spark, sf_dir, "documents")
    rules = [
        Rule(RuleType.NOT_NULL, "text", name="not_null_text",
             severity=SeverityLevel.CRITICAL),
        Rule(RuleType.GOPHER, "text", name="gopher_text",
             severity=SeverityLevel.HIGH),
        Rule(RuleType.LANG_ID, "text", {"allowed_langs": ["en"]},
             name="lang_id_text", severity=SeverityLevel.HIGH),
        Rule(RuleType.PII_SCRUB, "text", name="pii_text",
             severity=SeverityLevel.LOW),
    ]
    ann = QualityPipeline(spark, rules=rules).annotate(df)
    return ann.select(
        "doc_id", "keep",
        F.coalesce(F.col("fail_pii_text"), F.lit(False)).alias("pii_hit"),
        F.md5(F.col("text_scrubbed")).alias("scrub_fp"))


def _pipeline_keep_sql_oracle() -> str:
    from validatelite_spark.functions.pii import _ANY_PATTERN, duckdb_scrub_sql
    t = "text"
    keep = (f"({t} IS NOT NULL AND NOT {_d_gopher_fail(t)} "
            f"AND {_d_lang_id(t)} = 'en')")
    hit = _ANY_PATTERN.pattern.replace("'", "''")
    return f"""
        SELECT doc_id, {keep} AS keep,
               coalesce(regexp_matches({t}, '{hit}'), FALSE) AS pii_hit,
               CASE WHEN {keep} THEN md5({duckdb_scrub_sql(t)}) END
               AS scrub_fp
        FROM documents"""


def _q_html_extract_parity(spark, sf_dir):
    # html → text extraction (functions/extraction.py) must reproduce
    # the text column BYTE-IDENTICALLY per url on every planted page
    # class — the north-rule per-row invariant. Pages are synthesized
    # (no driver view) → rows-only oracle; full per-class parity is
    # pinned in tests/test_extraction.py.
    from validatelite_spark.functions.extraction import extract_text
    from validatelite_spark.pipeline import synthesize_pages
    pages = synthesize_pages(spark, 5000)
    cmp = pages.select(extract_text(F.col("html")).alias("ex"), "text")
    return cmp.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("ex").eqNullSafe(F.col("text")).cast("long"))
        .alias("byte_identical"))


def _q_multimodal_features(spark, sf_dir):
    from validatelite_spark.operators.multimodal import decode_media
    from validatelite_spark.pipeline import synthesize_pages
    pages = synthesize_pages(spark, 2000)
    feats = decode_media(pages, "html", "url")
    return (feats.groupBy("format")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_bytes").alias("total_bytes")))


def _q_multimodal_decode(spark, sf_dir):
    # REAL image decode (pure-numpy BMP + PPM codecs) over a synthetic
    # deterministic image corpus; rows-only oracle (binary codec is
    # non-SQL). Parity is pinned in tests/test_multimodal_*.py against
    # an independent numpy recompute.
    from validatelite_spark.operators.multimodal import (
        decode_media, synthesize_images)
    imgs = synthesize_images(spark, 2000, height=16, width=12)
    feats = decode_media(imgs, "html", "url", decoder="image")
    return (feats
            .select("format",
                    F.element_at("features", 1).alias("w"),
                    F.element_at("features", 2).alias("h"),
                    F.element_at("features", 3).alias("mean_r"))
            .groupBy("format")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("w") + 1e-9, 6).alias("avg_w"),
                 F.round(F.avg("h") + 1e-9, 6).alias("avg_h"),
                 F.round(F.avg("mean_r") + 1e-9, 6).alias("avg_mean_r")))


def _q_multimodal_audio(spark, sf_dir):
    # REAL RIFF/WAVE PCM decode (pure numpy) over deterministic synthetic
    # clips; rows-only oracle (binary codec is non-SQL). Sample-precision
    # round-trip parity is pinned in tests/test_multimodal_*.py.
    from validatelite_spark.operators.multimodal import (
        decode_media, synthesize_audio)
    clips = synthesize_audio(spark, 2000, n_samples=2048, rate=16000)
    feats = decode_media(clips, "html", "url", decoder="audio")
    return (feats
            .select("format",
                    F.element_at("features", 4).alias("rms"),
                    F.element_at("features", 5).alias("zcr"))
            .groupBy("format")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("rms") + 1e-9, 6).alias("avg_rms"),
                 F.round(F.avg("zcr") + 1e-9, 6).alias("avg_zcr")))


def _q_asof_purchase_click(spark, sf_dir):
    # as-of join (Spark lacks it; operators/joins.py is the linear
    # union+window composition): each purchase matched to the same
    # user's most recent preceding click. Oracle: DuckDB's native
    # ASOF LEFT JOIN.
    from validatelite_spark.operators.joins import asof_join
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    j = asof_join(purchases, clicks, by="user_id", left_ts="ts",
                  right_ts="ts", right_prefix="click_",
                  tiebreak="event_id")
    # parquet timestamps are TIMESTAMP_NTZ in Spark 4; session tz is UTC
    # so the tz-aware cast matches DuckDB's epoch()
    def _epoch(c):
        return F.unix_micros(F.col(c).cast("timestamp")) / 1e6
    return j.select(
        "event_id", "user_id",
        F.col("click_event_id"),
        F.round(_epoch("ts") - _epoch("click_ts") + 1e-9, 4)
        .alias("gap_sec"))


def _q_asof_forward(spark, sf_dir):
    # forward as-of: each purchase matched to the same user's NEXT click
    # at/after it (operators/joins.py direction="forward" — the reverse-
    # scan running-last carry). Oracle: DuckDB native ASOF with <=.
    from validatelite_spark.operators.joins import asof_join
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    j = asof_join(purchases, clicks, by="user_id", left_ts="ts",
                  right_ts="ts", right_prefix="click_",
                  tiebreak="event_id", direction="forward")

    def _epoch(c):
        return F.unix_micros(F.col(c).cast("timestamp")) / 1e6
    return j.select(
        "event_id", "user_id",
        F.col("click_event_id"),
        F.round(_epoch("click_ts") - _epoch("ts") + 1e-9, 4)
        .alias("wait_sec"))


def _q_asof_nearest(spark, sf_dir):
    # nearest as-of: closest click either side of each purchase, exact
    # ties backward (pandas convention). Oracle: two native DuckDB ASOF
    # joins (>= and <=) + the same closer-side CASE.
    from validatelite_spark.operators.joins import asof_join
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    j = asof_join(purchases, clicks, by="user_id", left_ts="ts",
                  right_ts="ts", right_prefix="click_",
                  tiebreak="event_id", direction="nearest")

    def _epoch(c):
        return F.unix_micros(F.col(c).cast("timestamp")) / 1e6
    return j.select(
        "event_id", "user_id", F.col("click_event_id"),
        F.round(F.abs(_epoch("click_ts") - _epoch("ts")) + 1e-9, 4)
        .alias("dist_sec"))


def _q_range_signup_purchase(spark, sf_dir):
    # range join (point-in-interval) without the nested-loop plan:
    # purchases within 2 days after a signup by the same user. Oracle:
    # plain inequality join in DuckDB.
    from validatelite_spark.operators.joins import range_join
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    epoch = (F.unix_micros(F.col("ts").cast("timestamp")) / 1e6)
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", epoch.alias("pt")))
    signups = (ev.filter(F.col("event_type") == "signup")
               .select(F.col("event_id").alias("signup_id"), "user_id",
                       epoch.alias("start"),
                       (epoch + 2 * 86400).alias("end")))
    j = range_join(purchases, signups, left_point="pt",
                   right_start="start", right_end="end",
                   bucket_width=2 * 86400, by="user_id")
    return (j.select("event_id", F.col("right_signup_id").alias("signup_id"),
                     "user_id",
                     F.round(F.col("pt") - F.col("right_start") + 1e-9, 4)
                     .alias("delay_sec")))


def _q_interval_overlap(spark, sf_dir):
    # interval × interval overlap join without a nested-loop plan
    # (operators/joins.py interval_join — owner-bucket rule, no dedup
    # pass): 2-day signup windows overlapping 1-day purchase windows of
    # the same user. Oracle: plain inequality join.
    from validatelite_spark.operators.joins import interval_join
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    epoch = (F.unix_micros(F.col("ts").cast("timestamp")) / 1e6)
    signups = (ev.filter(F.col("event_type") == "signup")
               .select(F.col("event_id").alias("signup_id"), "user_id",
                       epoch.alias("s"), (epoch + 2 * 86400).alias("e")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         "user_id", epoch.alias("s"),
                         (epoch + 86400).alias("e")))
    j = interval_join(signups, purchases, "s", "e", "s", "e",
                      bucket_width=86400.0, by="user_id")
    return j.select(
        "signup_id", F.col("right_purchase_id").alias("purchase_id"),
        "user_id",
        F.round(F.least(F.col("e"), F.col("right_e"))
                - F.greatest(F.col("s"), F.col("right_s")) + 1e-9, 4)
        .alias("overlap_sec"))


def _q_time_rollup(spark, sf_dir):
    # hypertable-style hierarchical rollup: the hour level aggregates
    # the raw table ONCE; day and month re-aggregate the hour output
    # (operators/rollup.py). Oracle: UNION ALL of per-level group-bys.
    from validatelite_spark.operators.rollup import time_rollup
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    return time_rollup(ev, "ts", "value",
                       granularities=("hour", "day", "month"))


def _q_temperature_sample(spark, sf_dir):
    # XLM-R/mT5 temperature mixing (operators/sampling.py): stratum
    # share ∝ count^alpha — upweights low-resource languages; exact row
    # set verified (md5 buckets + double-rounded thresholds are
    # engine-portable)
    from validatelite_spark.operators.sampling import temperature_sample
    docs = _read(spark, sf_dir, "documents", spread=False)
    return (temperature_sample(docs, total_budget=300, strata_col="lang",
                               key_col="doc_id", alpha=0.5, seed=13)
            .select("doc_id", "lang"))


def _q_cap_per_source(spark, sf_dir):
    # RefinedWeb-style per-domain quota: at most 5 docs per source,
    # longest-first (operators/sampling.py cap_per_group)
    from validatelite_spark.operators.sampling import cap_per_group
    docs = _read(spark, sf_dir, "documents", spread=False)
    return (cap_per_group(docs, "source", 5, "n_chars", "doc_id")
            .select("doc_id", "source", "n_chars"))


def _q_curation(spark, sf_dir):
    # the composed end-to-end curation job (pipeline/curation.py):
    # quality filter (NOT_NULL+GOPHER+LANG_ID keep) → exact dedup
    # (normalized-fingerprint, min-id representative) → per-lang token
    # budget (two-phase prefix sum) — ONE lazy Catalyst plan, whole
    # chain replayed in the DuckDB oracle below.
    from validatelite_spark.pipeline.curation import curate
    docs = _read(spark, sf_dir, "documents")
    sel = curate(spark, docs, token_budget=3000, allowed_langs=("en",))
    return sel.select("doc_id", "lang", "n_chars")


def _q_curation_decon(spark, sf_dir):
    # the curation chain with BOTH decontamination legs wired in
    # (pipeline/curation.py, VERDICT r4 #7): url-decontaminate (docs
    # canonical-url-equal to a benchmark url set, doc_id % 10 == 0 of
    # the messy-url table) → exact dedup → quality keep → n-gram
    # decontaminate (docs sharing any word 4-gram with the held-out
    # md5-sixteenth benchmark corpus) → per-lang token budget. One lazy
    # plan; every leg replayed in the DuckDB oracle.
    from validatelite_spark.pipeline.curation import curate
    docs = _read(spark, sf_dir, "documents")
    u = _messy_urls(spark, sf_dir)
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")),
                           1, 1) == "0"
    bench_urls = u.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0) \
        .select("url")
    bench_texts = docs.filter(is_bench).select("doc_id", "text")
    corpus = docs.join(u, "doc_id").filter(~is_bench)
    sel = curate(spark, corpus, token_budget=3000, allowed_langs=("en",),
                 benchmark_urls=bench_urls, benchmark_texts=bench_texts,
                 decon_n=4)
    return sel.select("doc_id", "lang", "n_chars")


def _curation_decon_oracle() -> str:
    from validatelite_spark.functions.urls import duckdb_canonical_url_sql
    t = "text"
    canon = duckdb_canonical_url_sql("url")
    keep = (f"({t} IS NOT NULL AND NOT {_d_gopher_fail(t)} "
            f"AND {_d_lang_id(t)} = 'en')")
    return f"""
        WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url
                   FROM documents),
        cu AS (SELECT doc_id, {canon} AS cu FROM u),
        bu AS (SELECT DISTINCT cu FROM cu WHERE doc_id % 10 = 0),
        corpus AS (
          SELECT d.doc_id, d.lang, d.n_chars, d.text FROM documents d
          JOIN cu USING (doc_id)
          WHERE substr(md5(cast(d.doc_id AS varchar)), 1, 1) <> '0'
            AND cu.cu NOT IN (SELECT cu FROM bu)
        ), kept AS (
          SELECT doc_id, lang, n_chars, text FROM corpus WHERE {keep}
        ), uniq AS (
          SELECT doc_id, lang, n_chars FROM (
            SELECT doc_id, lang, n_chars,
                   row_number() OVER (PARTITION BY {_d_fingerprint(t)}
                                      ORDER BY doc_id) AS rn
            FROM kept) WHERE rn = 1
        ), sh AS (
          SELECT doc_id,
                 substr(md5(cast(doc_id AS varchar)), 1, 1) = '0'
                   AS is_bench,
                 list_distinct(list_transform(range(1, len({{toks}}) - 2),
                     i -> array_to_string({{toks}}[i:i+3], ' '))) AS ngs
          FROM documents WHERE len({{toks}}) >= 4
        ), bsh AS (
          SELECT DISTINCT unnest(ngs) AS s FROM sh WHERE is_bench
        ), cont AS (
          SELECT DISTINCT e.doc_id
          FROM (SELECT doc_id, unnest(ngs) AS s FROM sh
                WHERE NOT is_bench) e
          JOIN bsh USING (s)
        ), survivors AS (
          SELECT * FROM uniq WHERE doc_id NOT IN (SELECT doc_id
                                                  FROM cont)
        ), running AS (
          SELECT doc_id, lang, n_chars,
                 sum(n_chars) OVER (PARTITION BY lang
                                    ORDER BY n_chars, doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) - n_chars AS pre
          FROM survivors
        )
        SELECT doc_id, lang, n_chars FROM running
        WHERE pre < 3000""".replace("{toks}", _d_tokens("text"))


def _curation_oracle() -> str:
    t = "text"
    keep = (f"({t} IS NOT NULL AND NOT {_d_gopher_fail(t)} "
            f"AND {_d_lang_id(t)} = 'en')")
    return f"""
        WITH kept AS (
          SELECT doc_id, lang, n_chars, text FROM documents WHERE {keep}
        ), uniq AS (
          SELECT doc_id, lang, n_chars FROM (
            SELECT doc_id, lang, n_chars,
                   row_number() OVER (PARTITION BY {_d_fingerprint(t)}
                                      ORDER BY doc_id) AS rn
            FROM kept) WHERE rn = 1
        ), running AS (
          SELECT doc_id, lang, n_chars,
                 sum(n_chars) OVER (PARTITION BY lang
                                    ORDER BY n_chars, doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) - n_chars AS pre
          FROM uniq
        )
        SELECT doc_id, lang, n_chars FROM running WHERE pre < 3000"""


def _q_top_ngrams(spark, sf_dir):
    # boilerplate mining (operators/repetition.py top_ngrams): hottest
    # corpus trigrams by occurrences — the blocklist feed. Top-k via
    # TakeOrderedAndProject, deterministic tie-break.
    from validatelite_spark.operators.repetition import top_ngrams
    docs = _read(spark, sf_dir, "documents")
    return top_ngrams(docs, "text", "doc_id", n=3, k=25, min_docs=2)


def _q_key_skew(spark, sf_dir):
    # skew diagnostics (operators/skew.py): hottest event users + the
    # salt factor that would bound their largest task — the planning
    # input for every salted operator in the engine. TakeOrderedAndProject
    # top-k, no global sort.
    from validatelite_spark.operators.skew import key_skew_report
    ev = _read(spark, sf_dir, "events")
    return key_skew_report(ev, "user_id", top_k=5,
                           target_rows_per_task=50)


def _q_quality_quantiles(spark, sf_dir):
    # exact interpolated percentiles of doc length per lang (JVM-side
    # percentile(), not approx_percentile — matches quantile_cont)
    docs = _read(spark, sf_dir, "documents", spread=False)
    pct = F.percentile("n_chars", F.array(F.lit(0.5), F.lit(0.9),
                                          F.lit(0.99)))
    return (docs.groupBy("lang")
            .agg(F.round(F.element_at(pct, 1) + 1e-9, 4).alias("p50"),
                 F.round(F.element_at(pct, 2) + 1e-9, 4).alias("p90"),
                 F.round(F.element_at(pct, 3) + 1e-9, 4).alias("p99")))


def _q_hash_sample(spark, sf_dir):
    # deterministic md5-keyed sampling (reproducible at any cluster
    # size; df.sample is not) — oracle verifies the EXACT row set
    from validatelite_spark.operators.sampling import hash_sample
    docs = _read(spark, sf_dir, "documents", spread=False)
    return (hash_sample(docs, 0.25, "doc_id", seed=7)
            .select("doc_id", "lang", "n_chars"))


def _q_bpe_pair_counts(spark, sf_dir):
    # first BPE iteration (functions/bpe.py): adjacent char-pair
    # counts over the distinct-word table, top 30 by (cnt desc, pair
    # asc) — the argmax feed of the training loop, fully oracled
    from validatelite_spark.functions.bpe import (
        pair_counts,
        word_frequencies,
    )
    docs = (_read(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull()))
    wf = word_frequencies(docs, "text")
    return (pair_counts(wf)
            .orderBy(F.desc("cnt"), F.asc("pair")).limit(30))


def _bpe_pairs_oracle() -> str:
    return r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
  FROM documents WHERE text IS NOT NULL),
words AS (SELECT w, count(*) AS f FROM toks WHERE w <> ''
          GROUP BY w),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
           i -> substr(w, i, 1) || ' ' || substr(w, i + 1, 1)))
           AS pair, f
  FROM words WHERE length(w) >= 2
  UNION ALL
  SELECT substr(w, length(w), 1) || ' </w>' AS pair, f FROM words)
SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair LIMIT 30"""


def _q_bpe_merges(spark, sf_dir):
    # full BPE training loop (iterative — no single-SQL replay;
    # pinned against an independent python reference in
    # tests/test_bpe.py): 12 merges learned from the corpus
    from validatelite_spark.functions.bpe import train_bpe
    docs = (_read(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull()))
    merges = train_bpe(docs, "text", 12)
    return spark.createDataFrame(
        [(i, m[0], m[1], m[2]) for i, m in enumerate(merges)],
        "rank int, left string, right string, cnt long")


def _q_audio_near_dups(spark, sf_dir):
    # audio dedup (operators/multimodal.py): spectral
    # energy-difference fingerprints through the shared Manku banding;
    # rows-only (binary; numpy-pinned in tests). Synthetic corpus
    # plants dups: pitch is a function of id % 37
    from validatelite_spark.operators.multimodal import (
        audio_near_dup_pairs,
        synthesize_audio,
    )
    clips = synthesize_audio(spark, 400)
    return (audio_near_dup_pairs(clips, max_distance=0)
            .orderBy("id1", "id2"))


def _q_video_near_dups(spark, sf_dir):
    # video dedup (operators/multimodal.py): temporal dHash (per-frame
    # horizontal-gradient signs over 8 sampled frames) through the
    # shared Manku banding; rows-only (binary; numpy-pinned in tests).
    # Synthetic corpus plants dups: luma repeats at id % 256
    from validatelite_spark.operators.multimodal import (
        synthesize_videos,
        video_near_dup_pairs,
    )
    vids = synthesize_videos(spark, 400)
    return (video_near_dup_pairs(vids, max_distance=0)
            .orderBy("id1", "id2"))


def _q_image_near_dups(spark, sf_dir):
    # perceptual image dedup (operators/multimodal.py): dHash
    # signatures through the Manku banding + exact hamming verify of
    # the text SimHash path; rows-only oracle (binary codec is
    # non-SQL; dhash64 pinned vs numpy in tests). The synthetic corpus
    # plants exact perceptual dups (ids 256 apart are pixel-identical)
    from validatelite_spark.operators.multimodal import (
        image_near_dup_pairs,
        synthesize_images,
    )
    imgs = synthesize_images(spark, 600, height=16, width=12)
    return (image_near_dup_pairs(imgs, max_distance=2)
            .orderBy("id1", "id2"))


def _q_centroid_similarity(spark, sf_dir):
    # cluster topology report (operators/similarity.py): pairwise
    # cosine between per-label embedding centroids, long-format
    # throughout (no collect_list order hazard), doubles before any
    # arithmetic
    from validatelite_spark.operators.similarity import centroid_similarity
    emb = _read(spark, sf_dir, "embeddings")
    return (centroid_similarity(emb, "embedding", "label")
            .orderBy("l1", "l2"))


def _centroid_similarity_oracle() -> str:
    return """
WITH e AS (
  SELECT label AS g, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL),
long AS (
  SELECT g, u.i AS pos, avg(u.x) AS c
  FROM (SELECT g, unnest(list_transform(range(1, len(v) + 1),
               i -> {'i': i - 1, 'x': v[i]})) AS u FROM e)
  GROUP BY g, u.i),
p AS (
  SELECT a.g AS l1, b.g AS l2,
         sum(a.c * b.c) AS dot,
         sum(a.c * a.c) AS na, sum(b.c * b.c) AS nb
  FROM long a JOIN long b ON a.pos = b.pos AND a.g < b.g
  GROUP BY 1, 2)
SELECT l1, l2, round(dot / (sqrt(na) * sqrt(nb)) + 1e-9, 6) AS cos
FROM p ORDER BY l1, l2"""


def _q_langid_eval(spark, sf_dir):
    # filter diagnostics: confusion matrix of the n-gram language
    # detector (functions/textquality.lang_id) against the corpus's
    # labeled lang column — the accuracy census a pipeline owner reads
    # before trusting a LANG_ID gate
    from validatelite_spark.functions.textquality import lang_id
    docs = (_read(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull()))
    return (docs.select(F.col("lang").alias("true_lang"),
                        lang_id(F.col("text")).alias("pred_lang"))
            .groupBy("true_lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("true_lang", "pred_lang"))


def _langid_eval_oracle() -> str:
    return f"""
SELECT lang AS true_lang, {_d_lang_id("text")} AS pred_lang,
       count(*) AS n
FROM documents WHERE text IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2"""


def _q_curation_funnel(spark, sf_dir):
    # single-pass stage census (pipeline/curation.py
    # curate_with_funnel): observe() nodes at input/dedup/filter plus
    # the final count, all materialized by ONE action — the SQL oracle
    # recomputes each stage independently and must agree exactly
    from validatelite_spark.pipeline.curation import (
        curate_with_funnel,
        funnel_report,
    )
    docs = _read(spark, sf_dir, "documents")
    sel, obs = curate_with_funnel(spark, docs, 3000)
    return funnel_report(spark, sel, obs).orderBy("stage")


def _curation_funnel_oracle() -> str:
    t = "text"
    keep = (f"({t} IS NOT NULL AND NOT {_d_gopher_fail(t)} "
            f"AND {_d_lang_id(t)} = 'en')")
    return f"""
WITH uniq AS MATERIALIZED (
  SELECT doc_id, lang, n_chars, text FROM (
    SELECT doc_id, lang, n_chars, text,
           row_number() OVER (PARTITION BY {_d_fingerprint(t)}
                              ORDER BY doc_id) AS rn
    FROM documents WHERE text IS NOT NULL) WHERE rn = 1
  UNION ALL
  SELECT doc_id, lang, n_chars, text FROM documents WHERE text IS NULL
), kept AS MATERIALIZED (
  SELECT doc_id, lang, n_chars FROM uniq WHERE {keep}
), running AS (
  SELECT doc_id,
         sum(n_chars) OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - n_chars AS pre
  FROM kept
)
SELECT '1_input' AS stage, count(*) AS n FROM documents
UNION ALL SELECT '2_dedup', count(*) FROM uniq
UNION ALL SELECT '3_kept', count(*) FROM kept
UNION ALL SELECT '4_selected', count(*) FROM running WHERE pre < 3000
ORDER BY stage"""


def _q_winnow_pairs(spark, sf_dir):
    # MOSS winnowing (operators/winnowing.py): local-overlap candidate
    # pairs sharing >= 2 winnowed fingerprints; the (hash,pos)
    # single-BIGINT packing makes the window-min selection (rightmost
    # tie-break included) bit-for-bit replayable in DuckDB
    from validatelite_spark.operators.winnowing import winnow_pairs
    docs = _read(spark, sf_dir, "documents")
    return winnow_pairs(docs, "text", "doc_id", n=2, window=4,
                        min_shared=2)


_WINNOW_ORACLE = """
WITH g AS (
  SELECT doc_id AS k, len({toks}) - 1 AS L,
         unnest(list_transform(range(1, len({toks})),
           i -> {'pos': i - 1,
                 'gram': array_to_string({toks}[i:i+1], ' ')}))
           AS u
  FROM documents WHERE len({toks}) >= 2
), enc AS (
  SELECT k, L, u.pos AS pos,
         ('0x' || substr(md5(u.gram), 1, 8))::BIGINT * 1048576
           + (1048575 - least(u.pos, 1048575)) AS e
  FROM g
), win AS (
  SELECT k, L, pos,
         min(e) OVER (PARTITION BY k ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS w
  FROM enc
), sel AS (
  SELECT DISTINCT k, w // 1048576 AS fp
  FROM win WHERE pos <= greatest(L - 4, 0)
)
SELECT a.k AS id1, b.k AS id2, count(*) AS shared
FROM sel a JOIN sel b ON a.fp = b.fp AND a.k < b.k
GROUP BY 1, 2 HAVING count(*) >= 2
""".replace("{toks}", _d_tokens("text"))


def _q_host_edges(spark, sf_dir):
    # crawl -> graph input (operators/linkgraph.py): extract outlinks
    # from page html (pure-Column regex tier) and aggregate host-level
    # edges — the table pagerank/domain authority consumes. html is
    # fabricated deterministically from the documents table so the
    # oracle replays the identical bytes.
    from validatelite_spark.operators.linkgraph import host_edges
    docs = _read(spark, sf_dir, "documents")
    i = F.col("doc_id")
    pages = docs.select(
        F.concat(F.lit("https://src-"), F.pmod(i, F.lit(5)),
                 F.lit(".example.net/d/"), i).alias("url"),
        F.concat(
            F.lit('<p>'), F.coalesce(F.col("text"), F.lit("")),
            F.lit('</p><a href="https://site-'), F.pmod(i, F.lit(7)),
            F.lit('.example.com/p/'), i,
            F.lit('">x</a><a class="m" href="HTTPS://site-'),
            F.pmod(i + 1, F.lit(7)),
            F.lit('.EXAMPLE.com:8443/q/'), i,
            F.lit('">y</a><a href="/rel">r</a>')).alias("html"))
    return host_edges(pages).orderBy("src", "dst")


_HOST_EDGES_ORACLE = r"""
WITH pages AS (
  SELECT 'https://src-' || (doc_id % 5) || '.example.net/d/' || doc_id
           AS url,
         '<p>' || coalesce(text, '') || '</p><a href="https://site-'
           || (doc_id % 7) || '.example.com/p/' || doc_id
           || '">x</a><a class="m" href="HTTPS://site-'
           || ((doc_id + 1) % 7) || '.EXAMPLE.com:8443/q/' || doc_id
           || '">y</a><a href="/rel">r</a>' AS html
  FROM documents
), links AS (
  SELECT url, unnest(regexp_extract_all(html,
             '<a\s[^>]*href="([^"]*)"', 1)) AS link
  FROM pages
), hosts AS (
  SELECT lower(regexp_replace(regexp_replace(
           regexp_extract(url, '^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1),
           '^[^@]*@', ''), ':[0-9]+$', '')) AS src,
         lower(regexp_replace(regexp_replace(
           regexp_extract(link, '^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1),
           '^[^@]*@', ''), ':[0-9]+$', '')) AS dst
  FROM links
)
SELECT src, dst, count(*) AS n_links
FROM hosts WHERE src <> '' AND dst <> '' AND src <> dst
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _q_contamination_provenance(spark, sf_dir):
    # leak audit trail (operators/repetition.py): which benchmark doc
    # each contaminated corpus doc shares word 4-grams with — the
    # follow-up to decontaminate's yes/no verdict
    from validatelite_spark.operators.repetition import (
        contamination_provenance)
    df = _read(spark, sf_dir, "documents")
    is_bench = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
                == "0")
    return (contamination_provenance(
        df.filter(~is_bench), df.filter(is_bench), "text", "doc_id", n=4)
        .orderBy("doc_id", "bench_id"))


_PROVENANCE_ORACLE = """
WITH t AS (
  SELECT doc_id,
         substr(md5(cast(doc_id AS varchar)), 1, 1) = '0' AS is_bench,
         list_distinct(list_transform(range(1, len({toks}) - 2),
             i -> array_to_string({toks}[i:i+3], ' '))) AS sh
  FROM documents WHERE len({toks}) >= 4
), ex AS (
  SELECT doc_id, is_bench, unnest(sh) AS s FROM t
)
SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS hit_ngrams
FROM ex c JOIN ex b USING (s)
WHERE NOT c.is_bench AND b.is_bench
GROUP BY 1, 2 HAVING count(*) >= 1
ORDER BY 1, 2
""".replace("{toks}", _d_tokens("text"))


def _q_soft_sample(spark, sf_dir):
    # soft quality filtering (operators/sampling.py): keep each doc
    # with probability = its quality score (deterministic md5 bucket)
    # — the CCNet/RedPajama-style alternative to a hard threshold;
    # row-local, no shuffle, exact row set replayed by the oracle
    from validatelite_spark.functions.textquality import quality_score
    from validatelite_spark.operators.sampling import (
        score_weighted_sample)
    docs = _read(spark, sf_dir, "documents")
    scored = docs.withColumn("score", quality_score(F.col("text")))
    return (score_weighted_sample(scored, "score", "doc_id", seed=7)
            .select("doc_id", "lang", "score").orderBy("doc_id"))


def _soft_sample_oracle() -> str:
    return f"""
WITH s AS (
  SELECT doc_id, lang, {_d_quality_score('text')} AS score
  FROM documents
)
SELECT doc_id, lang, score FROM s
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'),
                           1, 8)) AS BIGINT) % 1000000
      < CAST(round(least(greatest(round(score * 1.0 + 1e-9, 6), 0.0),
                         1.0) * 1000000) AS BIGINT)
ORDER BY doc_id
"""


def _q_dedup_census(spark, sf_dir):
    # cluster-size histogram over the connected components — the
    # duplication census a curation run reports (pairs vs template
    # farms); two tiny aggs over the cluster table
    from validatelite_spark.operators.dedup import (
        dedup_census, dedup_groups, ngram_jaccard_pairs)
    docs = _read(spark, sf_dir, "documents")
    return dedup_census(dedup_groups(
        ngram_jaccard_pairs(docs, threshold=0.5)))


def _q_vocab_coverage(spark, sf_dir):
    # tokenizer-prep coverage curve (operators/keywords.py): top-50
    # terms with cumulative fraction of ALL corpus tokens — groupBy +
    # TakeOrderedAndProject + a window over only the top-k rows
    from validatelite_spark.operators.keywords import vocab_coverage
    docs = _read(spark, sf_dir, "documents")
    return vocab_coverage(docs, top_k=50)


_VOCAB_COVERAGE_ORACLE = """
WITH ex AS (
  SELECT unnest({toks}) AS term FROM documents
), tf AS (
  SELECT term, count(*) AS n FROM ex WHERE term <> '' GROUP BY 1
), tot AS (
  SELECT sum(n) AS tot FROM tf
), top AS (
  SELECT term, n FROM tf ORDER BY n DESC, term LIMIT 50
)
SELECT row_number() OVER (ORDER BY n DESC, term) AS rank, term, n,
       round(sum(n) OVER (ORDER BY n DESC, term
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) * 1.0 / tot + 1e-9, 6)
         AS cum_fraction
FROM top, tot
""".replace("{toks}", _d_tokens("text"))


def _q_calibration_curve(spark, sf_dir):
    # reliability curve (operators/evaluation.py): does quality_score
    # predict the Gopher keep decision? per-bin confidence vs accuracy
    # — ONE map-side agg over 10 groups, any corpus size
    from validatelite_spark.functions.textquality import (
        gopher_fail, quality_score)
    from validatelite_spark.operators.evaluation import calibration_bins
    docs = _read(spark, sf_dir, "documents")
    scored = docs.select(
        quality_score(F.col("text")).alias("score"),
        (~gopher_fail(F.col("text"))).cast("int").alias("y"))
    return calibration_bins(scored, "score", "y")


def _q_calibration_ece(spark, sf_dir):
    # the scalar the threshold-tuning loop watches: Expected
    # Calibration Error of quality_score vs the Gopher keep label
    from validatelite_spark.functions.textquality import (
        gopher_fail, quality_score)
    from validatelite_spark.operators.evaluation import (
        expected_calibration_error)
    docs = _read(spark, sf_dir, "documents")
    scored = docs.select(
        quality_score(F.col("text")).alias("score"),
        (~gopher_fail(F.col("text"))).cast("int").alias("y"))
    return expected_calibration_error(scored, "score", "y")


def _calib_base() -> str:
    return f"""
WITH s AS (
  SELECT {_d_quality_score('text')} AS score,
         (CASE WHEN NOT {_d_gopher_fail('text')} THEN 1
               ELSE 0 END)::DOUBLE AS y
  FROM documents
), f AS (
  SELECT least(floor(score * 10), 9)::INT AS bin, score, y
  FROM s WHERE score IS NOT NULL
)
"""


def _calib_curve_oracle() -> str:
    return _calib_base() + """
SELECT bin, count(*) AS n,
       round(avg(score) + 1e-9, 6) AS confidence,
       round(avg(y) + 1e-9, 6) AS accuracy
FROM f GROUP BY bin ORDER BY bin
"""


def _calib_ece_oracle() -> str:
    return _calib_base() + """
, per AS (
  SELECT bin, count(*) AS nb, avg(score) AS conf, avg(y) AS acc
  FROM f GROUP BY bin
)
SELECT sum(nb) AS n,
       round(sum(abs(acc - conf) * nb) / sum(nb) + 1e-9, 6) AS ece
FROM per
"""


def _q_shard_assign(spark, sf_dir):
    # token-balanced output shards (operators/shards.py): documents in
    # deterministic md5 shuffle order, cut every 10k chars — the
    # training-data delivery step; shard boundary is a pure function of
    # the global prefix sum (two-phase, no single-task window)
    from validatelite_spark.operators.shards import assign_shards
    docs = _read(spark, sf_dir, "documents", spread=False)
    return (assign_shards(docs, 10_000, "n_chars", "doc_id")
            .select("doc_id", "shard_id").orderBy("doc_id"))


def _q_shard_manifest(spark, sf_dir):
    # per-shard manifest: doc/token counts + order-independent 60-bit
    # md5-sum checksum the consumer re-derives to verify delivery
    from validatelite_spark.operators.shards import (
        assign_shards, shard_manifest)
    docs = _read(spark, sf_dir, "documents", spread=False)
    return shard_manifest(
        assign_shards(docs, 10_000, "n_chars", "doc_id"),
        "n_chars", "doc_id")


_SHARD_BASE = """
WITH d AS (
  SELECT doc_id, coalesce(n_chars, 0) AS tok,
         ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15))::BIGINT
           AS ord
  FROM documents
), c AS (
  SELECT doc_id, tok,
         sum(tok) OVER (ORDER BY ord, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) - tok AS pre
  FROM d
), a AS (
  SELECT doc_id, tok, pre // 10000 AS shard_id FROM c
)
"""

def _q_shard_verify(spark, sf_dir):
    # consumer-side delivery check (operators/shards.py): recompute
    # per-shard counts+checksum from delivered rows vs the manifest —
    # here with docs 0-2 "lost in transit", so their shards flag ok=false
    from validatelite_spark.operators.shards import (
        assign_shards, shard_manifest, verify_shards)
    docs = _read(spark, sf_dir, "documents", spread=False)
    assigned = assign_shards(docs, 10_000, "n_chars", "doc_id")
    man = shard_manifest(assigned, "n_chars", "doc_id")
    delivered = assigned.filter(F.col("doc_id") >= 3)
    return verify_shards(delivered, man, "n_chars", "doc_id")


_SHARD_VERIFY_ORACLE = _SHARD_BASE + """
, h AS (
  SELECT a.*, ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
           AS hh
  FROM a
), man AS (
  SELECT shard_id, count(*) AS m_docs, sum(tok) AS m_tokens,
         sum(hh) AS m_checksum
  FROM h GROUP BY shard_id
), got AS (
  SELECT shard_id, count(*) AS n_docs, sum(tok) AS n_tokens,
         sum(hh) AS checksum
  FROM h WHERE doc_id >= 3 GROUP BY shard_id
)
SELECT coalesce(g.shard_id, m.shard_id) AS shard_id,
       (g.n_docs IS NOT DISTINCT FROM m.m_docs
        AND g.n_tokens IS NOT DISTINCT FROM m.m_tokens
        AND g.checksum IS NOT DISTINCT FROM m.m_checksum) AS ok,
       g.n_docs, g.n_tokens, g.checksum,
       m.m_docs, m.m_tokens, m.m_checksum
FROM got g FULL OUTER JOIN man m ON g.shard_id = m.shard_id
ORDER BY 1
"""


_SHARD_ASSIGN_ORACLE = _SHARD_BASE + """
SELECT doc_id, shard_id FROM a ORDER BY doc_id
"""

_SHARD_MANIFEST_ORACLE = _SHARD_BASE + """
SELECT shard_id, count(*) AS n_docs, sum(tok) AS n_tokens,
       sum(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT)
         AS checksum
FROM a GROUP BY shard_id ORDER BY shard_id
"""


def _q_embedding_decontaminate(spark, sf_dir):
    # embedding-space eval decontamination (operators/similarity.py):
    # third leg beside url_decontaminate + n-gram decontaminate —
    # benchmark = vectors 0..19, broadcast cross product, anti-join
    # survivors; catches paraphrases exact n-grams miss
    from validatelite_spark.operators.similarity import (
        embedding_decontaminate)
    emb = _emb_double(spark, sf_dir)
    bench = emb.filter(F.col("vec_id") < 20)
    return (embedding_decontaminate(emb, bench, threshold=0.9)
            .select("vec_id", "label").orderBy("vec_id"))


def _q_embedding_decon_report(spark, sf_dir):
    # report mode: (vec_id, max cosine vs any benchmark vector) for
    # every contaminated row — the audit trail of the keep-mode drop
    from validatelite_spark.operators.similarity import (
        embedding_decontaminate)
    emb = _emb_double(spark, sf_dir)
    bench = emb.filter(F.col("vec_id") < 20)
    return embedding_decontaminate(emb, bench, threshold=0.9,
                                   mode="report")


_EMB_DECON_BASE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
b AS (SELECT v FROM e WHERE vec_id < 20),
scored AS (
  SELECT c.vec_id,
         round(list_dot_product(c.v, b.v) /
               (sqrt(list_dot_product(c.v, c.v)) *
                sqrt(list_dot_product(b.v, b.v))), 6) AS score
  FROM e c, b
)
"""

_EMB_DECON_KEEP_ORACLE = _EMB_DECON_BASE + """
SELECT vec_id, label FROM e
WHERE vec_id NOT IN (SELECT DISTINCT vec_id FROM scored
                     WHERE score >= 0.9)
ORDER BY vec_id
"""

_EMB_DECON_REPORT_ORACLE = _EMB_DECON_BASE + """
SELECT vec_id, max(score) AS max_score
FROM scored WHERE score >= 0.9
GROUP BY vec_id ORDER BY vec_id
"""


def _q_bloom_probe(spark, sf_dir):
    # Bloom membership index (operators/bloom.py): filter built over
    # the even-id half of the corpus, probed with ALL docs — even ids
    # come back maybe_member (their own fingerprint), odd ids only on
    # exact text dup or a false positive; both deterministic, the
    # WHOLE bit table replays in DuckDB (md5 arithmetic)
    from validatelite_spark.operators.bloom import bloom_build, bloom_probe
    docs = _read(spark, sf_dir, "documents")
    bloom = bloom_build(docs.filter("doc_id % 2 = 0"))
    return bloom_probe(docs, bloom).orderBy("doc_id")


def _q_bloom_stats(spark, sf_dir):
    # filter health: set bits, fill ratio, estimated fp rate = fill^k
    from validatelite_spark.operators.bloom import bloom_build, bloom_stats
    docs = _read(spark, sf_dir, "documents")
    return bloom_stats(bloom_build(docs.filter("doc_id % 2 = 0")))


_BLOOM_BASE = """
WITH fps AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents WHERE text IS NOT NULL
), idxpos AS MATERIALIZED (
  SELECT DISTINCT
         ('0x' || substr(md5(fp || ':' || j), 1, 15))::BIGINT % 65536
           AS pos
  FROM fps, (SELECT unnest(range(3)) AS j)
  WHERE doc_id % 2 = 0
)
"""

_BLOOM_PROBE_ORACLE = _BLOOM_BASE + """
, probepos AS (
  SELECT doc_id,
         ('0x' || substr(md5(fp || ':' || j), 1, 15))::BIGINT % 65536
           AS pos
  FROM fps, (SELECT unnest(range(3)) AS j)
), hits AS (
  SELECT p.doc_id, count(*) FILTER (WHERE i.pos IS NOT NULL) AS nhit
  FROM probepos p LEFT JOIN idxpos i ON p.pos = i.pos
  GROUP BY p.doc_id
)
SELECT d.doc_id, coalesce(h.nhit = 3, FALSE) AS maybe_member
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
ORDER BY d.doc_id
"""

_BLOOM_STATS_ORACLE = _BLOOM_BASE + """
, blocks AS (
  SELECT pos // 32 AS block,
         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM idxpos GROUP BY 1
)
SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS set_bits,
       round(sum(bit_count(bits)) / 65536.0 + 1e-9, 6) AS fill_ratio,
       round(pow(sum(bit_count(bits)) / 65536.0, 3) + 1e-9, 6)
         AS est_fp_rate
FROM blocks
"""


def _q_intra_doc_line_dedup(spark, sf_dir):
    # intra-document repeated-line strip (operators/lines.py): one
    # shuffle-free Arrow projection; first occurrence per line kept,
    # sub-min_chars lines untouched. Word-split corpus (the documents
    # table is single-line); md5 of the scrubbed text keeps the
    # compared payload small, like chunk_dedup
    from validatelite_spark.operators.lines import intra_doc_line_dedup
    out = intra_doc_line_dedup(_lines_corpus(spark, sf_dir),
                               "text", "doc_id", min_chars=1)
    return (out.select("doc_id", F.md5("text").alias("fp"),
                       "lines_removed")
            .orderBy("doc_id"))


_INTRA_LINE_ORACLE = """
WITH l AS (
  SELECT doc_id, text, string_split(text, ' ') AS ls
  FROM documents
), k AS (
  SELECT doc_id, text,
         list_filter(ls, (x, i) -> length(x) < 1
                                   OR list_position(ls, x) = i) AS kept,
         len(ls) AS n0
  FROM l
)
SELECT doc_id,
       md5(CASE WHEN text IS NULL THEN NULL
                ELSE coalesce(array_to_string(kept, chr(10)), '') END)
         AS fp,
       CAST(CASE WHEN text IS NULL THEN 0
                 ELSE n0 - len(kept) END AS BIGINT) AS lines_removed
FROM k ORDER BY doc_id
"""


def _q_split_summary(spark, sf_dir):
    # leakage-safe train/valid/test split (operators/splits.py): the
    # split label is a pure function of the DOMAIN hash, so every page
    # of a site lands in exactly one split — assignment is one
    # shuffle-free projection, audited here with one aggregate
    from validatelite_spark.operators.splits import split_summary
    docs = _read(spark, sf_dir, "documents", spread=False)
    return split_summary(docs, by="source", seed=0, size_col="n_chars")


def _q_split_leakage(spark, sf_dir):
    # the leakage AUDIT: union two assignments made with different
    # seeds (the way real leakage arises — corpora split by different
    # runs/policies then merged) and report every domain that now
    # spans more than one split
    from validatelite_spark.operators.splits import (
        leakage_safe_split, split_leakage)
    docs = _read(spark, sf_dir, "documents")
    both = (leakage_safe_split(docs, "source", seed=0)
            .unionByName(leakage_safe_split(docs, "source", seed=1)))
    return (split_leakage(both, "source")
            .withColumn("splits", F.array_join("splits", ",")))


_SPLIT_ASSIGN_SQL = """
  SELECT source, n_chars,
         CASE WHEN b < 900000 THEN 'train'
              WHEN b < 950000 THEN 'valid'
              ELSE 'test' END AS split
  FROM (SELECT source, n_chars,
               ('0x' || substr(md5(concat_ws(':', source, '{seed}')),
                               1, 8))::BIGINT % 1000000 AS b
        FROM documents)
"""

_SPLIT_SUMMARY_ORACLE = f"""
WITH s AS ({_SPLIT_ASSIGN_SQL.replace('{seed}', '0')})
SELECT split, count(*) AS n_docs,
       count(DISTINCT source) AS n_groups,
       CAST(sum(n_chars) AS BIGINT) AS size
FROM s GROUP BY split ORDER BY split
"""

_SPLIT_LEAKAGE_ORACLE = f"""
WITH unioned AS (
  {_SPLIT_ASSIGN_SQL.replace('{seed}', '0')}
  UNION ALL
  {_SPLIT_ASSIGN_SQL.replace('{seed}', '1')}
), ds AS (SELECT DISTINCT source AS grp, split FROM unioned)
SELECT grp, count(DISTINCT split) AS n_splits,
       array_to_string(list_sort(list(DISTINCT split)), ',') AS splits
FROM ds GROUP BY grp HAVING count(DISTINCT split) > 1
ORDER BY grp
"""


def _q_exact_substring_pairs(spark, sf_dir):
    # Lee et al. 2022 ExactSubstr (operators/substrings.py): document
    # pairs sharing an exact word run >= 15 words, recovered EXACTLY
    # from positional 8-gram seeds merged on alignment diagonals —
    # the distributed re-expression of the paper's suffix array
    from validatelite_spark.operators.substrings import (
        exact_substring_pairs)
    docs = _read(spark, sf_dir, "documents")
    return exact_substring_pairs(docs, "text", "doc_id", n=8,
                                 min_words=15)


def _q_duplicate_spans(spark, sf_dir):
    # keep-first duplicated word spans to cut per document (merged
    # 1-based inclusive ranges) — the scrub plan's input
    from validatelite_spark.operators.substrings import duplicate_spans
    docs = _read(spark, sf_dir, "documents")
    return duplicate_spans(docs, "text", "doc_id", n=8, min_words=15)


def _q_substring_scrub(spark, sf_dir):
    # ExactSubstr scrub: cut every duplicated span (later doc loses its
    # copy) from the token stream; full corpus out, words_cut counted
    from validatelite_spark.operators.substrings import substring_scrub
    docs = _read(spark, sf_dir, "documents")
    return substring_scrub(docs, "text", "doc_id", n=8, min_words=15)


#: shared CTE chain for the ExactSubstr family: positional 8-gram
#: seeds -> cross-doc matches -> diagonal gaps-and-islands -> maximal
#: runs. MATERIALIZED per CLAUDE.md 13b — pg/seeds are each referenced
#: twice and DuckDB would otherwise re-expand the corpus-wide explode.
_SUBSTR_BASE = """
WITH t AS (
  SELECT doc_id AS k, {toks} AS w FROM documents WHERE len({toks}) >= 8
), pg AS MATERIALIZED (
  SELECT k, unnest(range(1, len(w) - 6)) AS pos,
         unnest(list_transform(range(1, len(w) - 6),
                i -> array_to_string(w[i:i+7], ' '))) AS g
  FROM t
), ms AS MATERIALIZED (
  SELECT g FROM pg GROUP BY g HAVING count(*) BETWEEN 2 AND 2000
), seeds AS MATERIALIZED (
  SELECT a.k AS id1, a.pos AS p1, b.k AS id2, b.pos AS p2
  FROM pg a JOIN pg b USING (g) JOIN ms USING (g)
  WHERE a.k < b.k
), islands AS (
  SELECT id1, id2, p1, p2,
         p1 - row_number() OVER (PARTITION BY id1, id2, p1 - p2
                                 ORDER BY p1) AS island
  FROM seeds
), runs AS MATERIALIZED (
  SELECT id1, id2, min(p1) AS p1_start, min(p2) AS p2_start,
         count(*) + 7 AS run_words
  FROM islands GROUP BY id1, id2, p1 - p2, island
)
""".replace("{toks}", _d_tokens("text"))

_SUBSTR_PAIRS_ORACLE = _SUBSTR_BASE + """
SELECT id1, id2, CAST(max(run_words) AS BIGINT) AS overlap_words,
       CAST(count(*) FILTER (WHERE run_words >= 15) AS BIGINT) AS n_runs
FROM runs GROUP BY id1, id2 HAVING max(run_words) >= 15
ORDER BY id1, id2
"""

#: merged keep-first spans: later doc (id2) loses its copy; touching
#: spans merge (end >= next start - 1)
_SUBSTR_SPANS_SQL = """, spans0 AS (
  SELECT id2 AS k, p2_start AS start, p2_start + run_words - 1 AS "end"
  FROM runs WHERE run_words >= 15
), marked AS (
  SELECT k, start, "end",
         CASE WHEN max("end") OVER (PARTITION BY k ORDER BY start, "end"
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              >= start - 1 THEN 0 ELSE 1 END AS new_island
  FROM spans0
), merged AS MATERIALIZED (
  SELECT k, min(start) AS start, max("end") AS "end"
  FROM (SELECT k, start, "end",
               sum(new_island) OVER (PARTITION BY k
                   ORDER BY start, "end"
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
        FROM marked)
  GROUP BY k, island
)
"""

_SUBSTR_SPANS_ORACLE = _SUBSTR_BASE + _SUBSTR_SPANS_SQL + """
SELECT CAST(k AS BIGINT) AS k, CAST(start AS BIGINT) AS start,
       CAST("end" AS BIGINT) AS "end"
FROM merged ORDER BY k, start
"""

_SUBSTR_SCRUB_ORACLE = _SUBSTR_BASE + _SUBSTR_SPANS_SQL + """
, aff AS (SELECT DISTINCT k FROM merged),
alltoks AS (SELECT doc_id AS k, {toks} AS w FROM documents),
pos AS (
  SELECT a.k, unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS tok
  FROM alltoks a JOIN aff USING (k)
), kept AS (
  SELECT p.k, p.pos, p.tok FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM merged m
                    WHERE m.k = p.k AND p.pos BETWEEN m.start AND m."end")
), rebuilt AS (
  SELECT k, string_agg(tok, ' ' ORDER BY pos) AS sc,
         count(*) AS n_kept
  FROM kept GROUP BY k
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            WHEN a.k IS NOT NULL THEN coalesce(r.sc, '')
            ELSE coalesce(array_to_string({toks}, ' '), '') END
         AS scrubbed_text,
       CAST(CASE WHEN a.k IS NOT NULL
                 THEN len({toks}) - coalesce(r.n_kept, 0)
                 ELSE 0 END AS BIGINT) AS words_cut
FROM documents d
LEFT JOIN aff a ON a.k = d.doc_id
LEFT JOIN rebuilt r ON r.k = d.doc_id
ORDER BY d.doc_id
""".replace("{toks}", _d_tokens("text"))


def _q_containment_pairs(spark, sf_dir):
    # asymmetric near-dup (operators/dedup.py ngram_containment_pairs):
    # |A∩B| / min(|A|,|B|) — catches a short quote embedded in a long
    # page that jaccard's union-denominator washes out
    from validatelite_spark.operators.dedup import ngram_containment_pairs
    docs = _read(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, "text", "doc_id", n=3,
                                   threshold=0.8)


_CONTAINMENT_ORACLE = """
WITH t AS (
  SELECT doc_id AS k,
         list_distinct(list_transform(
             range(1, len({toks}) - 1),
             i -> array_to_string({toks}[i:i+2], ' '))) AS sh
  FROM documents
  WHERE len({toks}) >= 3
), sized AS (
  SELECT k, sh, len(sh) AS sz FROM t
), ex AS (
  SELECT k, unnest(sh) AS s FROM sized
), common AS (
  SELECT a.k AS id1, b.k AS id2, count(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.k < b.k
  GROUP BY 1, 2
)
SELECT c.id1, c.id2,
       round(c.common * 1.0 / least(sa.sz, sb.sz) + 1e-9, 6)
         AS containment
FROM common c
JOIN sized sa ON sa.k = c.id1
JOIN sized sb ON sb.k = c.id2
WHERE round(c.common * 1.0 / least(sa.sz, sb.sz) + 1e-9, 6) >= 0.8
""".replace("{toks}", _d_tokens("text"))


def _q_dedup_eval(spark, sf_dir):
    # detector-tuning report (operators/evaluation.py): how well the
    # cheap SimHash hamming<=3 pair set approximates the exhaustive
    # jaccard>=0.5 truth set — both legs independently oracled, the
    # metrics row is the composition
    from validatelite_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from validatelite_spark.operators.evaluation import pair_metrics
    docs = _read(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                threshold=0.5)
    pred = simhash_pairs(docs, "text", "doc_id", max_distance=3,
                         hash_fn="md5")
    return pair_metrics(pred, truth)


def _dedup_eval_oracle() -> str:
    return f"""
WITH pred AS (SELECT id1 AS a, id2 AS b FROM ({_SIMHASH_MD5_ORACLE}) p
              WHERE id1 <> id2),
truth AS (SELECT id1 AS a, id2 AS b FROM ({_JACCARD_ORACLE}) t
          WHERE id1 <> id2),
j AS (SELECT CASE WHEN p.a IS NOT NULL AND t.a IS NOT NULL THEN 'tp'
                  WHEN p.a IS NOT NULL THEN 'fp' ELSE 'fn' END AS c
      FROM pred p FULL JOIN truth t ON p.a = t.a AND p.b = t.b),
m AS (SELECT CAST(count(*) FILTER (c = 'tp') AS BIGINT) AS tp,
             CAST(count(*) FILTER (c = 'fp') AS BIGINT) AS fp,
             CAST(count(*) FILTER (c = 'fn') AS BIGINT) AS fn
      FROM j)
SELECT tp, fp, fn,
  CASE WHEN tp + fp > 0
       THEN round(tp * 1e0 / (tp + fp) + 1e-9, 6) END AS precision,
  CASE WHEN tp + fn > 0
       THEN round(tp * 1e0 / (tp + fn) + 1e-9, 6) END AS recall,
  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tp > 0
       THEN round(2e0 * tp / ((tp + fp) + (tp + fn)) + 1e-9, 6)
       WHEN tp + fp > 0 AND tp + fn > 0 THEN 0e0 END AS f1
FROM m"""


def _q_snapshot_delta(spark, sf_dir):
    # two-snapshot re-crawl census (operators/snapshots.py): old/new
    # snapshots derived deterministically from the documents table
    # (old = id%4!=0, new = id%4!=1 with id%8==2 content bumped),
    # classified new/gone/changed/unchanged by null-safe fingerprint
    from validatelite_spark.operators.snapshots import \
        snapshot_delta_report
    docs = _read(spark, sf_dir, "documents")
    i = F.col("doc_id")
    old = docs.filter(i % 4 != 0).select("doc_id", "text")
    new = (docs.filter(i % 4 != 1)
           .select("doc_id",
                   F.when(i % 8 == 2,
                          F.concat(F.col("text"), F.lit(" v2")))
                   .otherwise(F.col("text")).alias("text")))
    return (snapshot_delta_report(old, new, key_col="doc_id")
            .orderBy("status"))


def _snapshot_delta_oracle() -> str:
    fp_old = _d_fingerprint("text")
    fp_new = _d_fingerprint(
        "CASE WHEN doc_id % 8 = 2 THEN text || ' v2' ELSE text END")
    return f"""
WITH old AS (SELECT doc_id, {fp_old} AS fp FROM documents
             WHERE doc_id % 4 <> 0),
new AS (SELECT doc_id, {fp_new} AS fp FROM documents
        WHERE doc_id % 4 <> 1),
j AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'new'
                  WHEN n.doc_id IS NULL THEN 'gone'
                  WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM old o FULL JOIN new n ON o.doc_id = n.doc_id)
SELECT status, count(*) AS n FROM j GROUP BY status ORDER BY status"""


def _q_fineweb_signals(spark, sf_dir):
    # FineWeb/C4 line-level quality census (functions/linesignals.py):
    # per-language averages of the four line fractions + the composite
    # LINE_QUALITY failure count, all pure (?m)-regexp_count Columns
    from validatelite_spark.functions import linesignals as ls
    docs = (_read(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull()))
    t = F.col("text")
    sig = docs.select(
        "lang",
        ls.punct_line_fraction(t).alias("pf"),
        ls.short_line_fraction(t).alias("sf"),
        ls.bullet_line_fraction(t).alias("bf"),
        ls.caps_line_fraction(t).alias("cf"),
        ls.line_quality_fail(t).cast("long").alias("fail"))
    return (sig.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("pf") + 1e-9, 6).alias("avg_punct_frac"),
        F.round(F.avg("sf") + 1e-9, 6).alias("avg_short_frac"),
        F.round(F.avg("bf") + 1e-9, 6).alias("avg_bullet_frac"),
        F.round(F.avg("cf") + 1e-9, 6).alias("avg_caps_frac"),
        F.sum("fail").alias("n_fail")).orderBy("lang"))


def _fineweb_oracle() -> str:
    return r"""
WITH s AS (
  SELECT lang,
    len(regexp_extract_all(text, '\n')) + 1 AS n,
    len(regexp_extract_all(text, '(?m)[.!?"''][ \t]*$')) AS punct,
    len(regexp_extract_all(text, '(?m)^.{30,}')) AS lng,
    len(regexp_extract_all(text, '(?m)^[ \t]*[-*' || chr(8226) || ']'))
      AS bullet,
    len(regexp_extract_all(text, '(?m)^[A-Z][^a-z\n]*$')) AS caps
  FROM documents WHERE text IS NOT NULL),
f AS (
  SELECT lang,
    punct * 1e0 / n AS pf, (n - lng) * 1e0 / n AS sf,
    bullet * 1e0 / n AS bf, caps * 1e0 / n AS cf
  FROM s)
SELECT lang, count(*) AS n_docs,
  round(avg(pf) + 1e-9, 6) AS avg_punct_frac,
  round(avg(sf) + 1e-9, 6) AS avg_short_frac,
  round(avg(bf) + 1e-9, 6) AS avg_bullet_frac,
  round(avg(cf) + 1e-9, 6) AS avg_caps_frac,
  CAST(sum(CASE WHEN pf < 0.12 OR sf > 0.67 OR bf > 0.9
                  OR cf > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail
FROM f GROUP BY lang ORDER BY lang"""


def _q_profile_table(spark, sf_dir):
    # one-scan table profile (operators/profile.py): every column's
    # counts/nulls/distinct/extrema/mean fused into ONE aggregate pass
    # (exact countDistinct Expand shape = the oracle anchor;
    # approx=True is the no-replication 100 TB path)
    from validatelite_spark.operators.profile import profile_table
    docs = _read(spark, sf_dir, "documents")
    return (profile_table(
        docs, columns=["doc_id", "lang", "source", "n_chars", "text"])
        .orderBy("column"))


def _profile_oracle() -> str:
    def num(c):
        return f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) - count({c}) AS nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS DOUBLE) AS min_num,
       CAST(max({c}) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
       round(avg({c}) + 1e-9, 6) AS avg FROM documents"""

    def txt(c):
        return f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) - count({c}) AS nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       min({c}) AS min_str, max({c}) AS max_str,
       CAST(NULL AS DOUBLE) AS avg FROM documents"""

    parts = [num("doc_id"), txt("lang"), txt("source"),
             num("n_chars"), txt("text")]
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


def _q_domain_pagerank(spark, sf_dir):
    # link-graph domain authority (operators/linkgraph.py): PageRank
    # power iteration over the deterministic synthetic host graph
    # (testdata docs carry no hyperlinks — the edge derivation is a
    # pure function of the domain set, replayed exactly in SQL)
    from validatelite_spark.operators.linkgraph import (
        pagerank,
        synth_host_edges,
    )
    docs = _read(spark, sf_dir, "documents")
    edges = synth_host_edges(docs)
    return (pagerank(edges, damping=0.85, iters=8)
            .orderBy(F.desc("rank"), "node"))


def _pagerank_oracle(iters: int = 8, damping: float = 0.85) -> str:
    # the same power iteration, unrolled as a CTE chain (fixed-iters
    # contract — no early exit on either side). 1e0-style literals
    # keep every intermediate a DOUBLE (DuckDB 1.0 is DECIMAL).
    steps = []
    for k in range(1, iters + 1):
        p = k - 1
        steps.append(f"""
c{k} AS MATERIALIZED (SELECT e.dst AS node, sum(r.rank / deg.deg) AS m
  FROM edges e JOIN r{p} r ON r.node = e.src
  JOIN deg ON deg.node = e.src GROUP BY e.dst),
g{k} AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0e0) AS dm
  FROM r{p} r LEFT JOIN deg ON deg.node = r.node
  WHERE deg.node IS NULL),
r{k} AS MATERIALIZED (SELECT n.node,
  (1e0 - {damping}e0) / nv.n + {damping}e0 *
    (coalesce(c.m, 0e0) + g.dm / nv.n) AS rank
  FROM nodes n LEFT JOIN c{k} c ON c.node = n.node, g{k} g, nv)""")
    return f"""
WITH doms AS MATERIALIZED (
  SELECT d, row_number() OVER (ORDER BY d) - 1 AS i
  FROM (SELECT DISTINCT source AS d FROM documents
        WHERE source IS NOT NULL)),
nn AS (SELECT count(*) AS n FROM doms),
edges AS MATERIALIZED (
  SELECT DISTINCT a.d AS src, b.d AS dst
  FROM doms a CROSS JOIN nn CROSS JOIN (VALUES (1), (2), (3)) t(j)
  JOIN doms b ON b.i = (a.i * 7 + t.j) % nn.n
  WHERE a.d <> b.d),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nv AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT node, 1e0 / nv.n AS rank FROM nodes, nv),
{",".join(steps)}
SELECT node, round(rank + 1e-9, 6) AS rank FROM r{iters}
ORDER BY rank DESC, node"""


def _q_domain_top_terms(spark, sf_dir):
    # TF-IDF keyword extraction (operators/keywords.py): each source
    # domain's top-3 terms by smoothed tf-idf over domain-aggregated
    # counts — the "what is this source about" curation report
    from validatelite_spark.operators.keywords import domain_top_terms
    docs = _read(spark, sf_dir, "documents")
    return (domain_top_terms(docs, top_k=3, stopwords=["the", "and"])
            .orderBy("domain", F.desc("tfidf"), "term"))


def _domain_top_terms_oracle() -> str:
    return r"""
WITH toks AS (
  SELECT source AS domain,
         unnest(regexp_split_to_array(lower(text), '\s+')) AS term
  FROM documents WHERE text IS NOT NULL),
tf AS (
  SELECT domain, term, count(*) AS tf FROM toks
  WHERE term <> '' AND term NOT IN ('the', 'and')
  GROUP BY domain, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT count(DISTINCT domain) AS n FROM tf),
scored AS (
  SELECT t.domain, t.term, t.tf,
         round(t.tf * (ln((1.0 + nd.n) / (1.0 + d.df)) + 1) + 1e-9, 6)
           AS tfidf
  FROM tf t JOIN dfreq d USING (term), nd),
r AS (SELECT *, row_number() OVER (
        PARTITION BY domain ORDER BY tfidf DESC, term) AS rk
      FROM scored)
SELECT domain, term, tf, tfidf FROM r WHERE rk <= 3
ORDER BY domain, tfidf DESC, term"""


def _q_ccnet_buckets(spark, sf_dir):
    # CCNet head/middle/tail assignment (operators/sampling.py
    # score_buckets): per-language tertile cuts on a native score
    # (n_chars here — the SQL-replayable anchor; the faithful
    # perplexity chain is pinned in tests/test_sampling.py), reported
    # as a (lang, bucket) census
    from validatelite_spark.operators.sampling import score_buckets
    docs = _read(spark, sf_dir, "documents")
    b = score_buckets(docs, "n_chars", "lang")
    return (b.groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("n_chars") + 1e-9, 4).alias("avg_chars"))
            .orderBy("lang", "bucket"))


def _ccnet_buckets_oracle() -> str:
    return """
WITH th AS (
  SELECT lang,
         round(quantile_cont(n_chars, 1.0/3) + 1e-9, 4) AS t1,
         round(quantile_cont(n_chars, 2.0/3) + 1e-9, 4) AS t2
  FROM documents GROUP BY lang),
b AS (
  SELECT d.lang,
         CASE WHEN d.n_chars IS NULL THEN NULL
              WHEN d.n_chars <= th.t1 THEN 'head'
              WHEN d.n_chars <= th.t2 THEN 'middle'
              ELSE 'tail' END AS bucket,
         d.n_chars
  FROM documents d JOIN th ON d.lang IS NOT DISTINCT FROM th.lang)
SELECT lang, bucket, count(*) AS n_docs,
       round(avg(n_chars) + 1e-9, 4) AS avg_chars
FROM b GROUP BY lang, bucket ORDER BY lang, bucket"""


def _q_warc_scan(spark, sf_dir):
    # WARC ingestion (sources/warc.py): a deterministic 4-file WARC
    # fixture is synthesized from the documents table (url/date pure
    # functions of doc_id, body = text bytes), then parsed back via
    # binaryFile + mapInPandas — the oracle recomputes url/ts/md5
    # straight from documents, so the parser round-trip is fully
    # value-hash-checked
    import datetime
    import os
    import tempfile

    from validatelite_spark.sources.warc import (
        build_response_record,
        read_warc,
        write_warc,
    )
    rows = (_read(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id", "text").collect())
    tmp = tempfile.mkdtemp(prefix="warc_fixture_")
    files = {k: [] for k in range(4)}
    epoch = datetime.datetime(2024, 1, 1)
    for r in rows:
        i = r["doc_id"]
        date = (epoch + datetime.timedelta(seconds=i)
                ).strftime("%Y-%m-%dT%H:%M:%SZ")
        url = f"https://h{i % 20}.example/p/{i}"
        files[i % 4].append(build_response_record(
            url, date, r["text"].encode("utf-8")))
    for k, recs in files.items():
        write_warc(os.path.join(tmp, f"part-{k}.warc.gz"), recs,
                   compress=(k % 2 == 0))
    out = read_warc(spark, tmp + "/*.warc*")
    return (out.select("url", "warc_ts", "status",
                       F.md5("payload").alias("payload_md5"))
            .orderBy("url"))


def _warc_oracle() -> str:
    return """
SELECT 'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.example/p/'
         || CAST(doc_id AS VARCHAR) AS url,
       strftime(TIMESTAMP '2024-01-01 00:00:00'
                + to_seconds(doc_id), '%Y-%m-%dT%H:%M:%SZ')
         AS warc_ts,
       CAST(200 AS INT) AS status,
       md5(text) AS payload_md5
FROM documents WHERE text IS NOT NULL"""


#: synthetic multi-label hosts + a blocklist with 1-, 2- and 3-label
#: entries, exercising TLD-, domain- and exact-host-level blocks
_BLOCKLIST = ["d3.com", "s1.d2.com", "d5.org"]
_HOST_SQL = ("'s' || CAST(doc_id % 3 AS VARCHAR) || '.d' || "
             "CAST(doc_id % 7 AS VARCHAR) || "
             "CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END")


def _hosts(spark, sf_dir):
    d = _read(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    return d.withColumn("host", F.concat(
        F.lit("s"), (i % 3).cast("string"), F.lit(".d"),
        (i % 7).cast("string"),
        F.when(i % 2 == 0, F.lit(".com")).otherwise(F.lit(".org"))))


def _q_blocklist_filter(spark, sf_dir):
    # UT1-style subdomain-aware blocklist (operators/domains.py):
    # label-suffix match via substring_index expansion + semi-join —
    # 'd3.com' blocks every s*.d3.com, exact entries block one host
    from validatelite_spark.operators.domains import (
        domain_blocklist_filter,
    )
    hosts = _hosts(spark, sf_dir)
    return domain_blocklist_filter(hosts, _BLOCKLIST, "host",
                                   "doc_id", mode="drop")


def _blocklist_oracle() -> str:
    bl = ", ".join(f"('{d}')" for d in _BLOCKLIST)
    return f"""
WITH h AS (SELECT doc_id, {_HOST_SQL} AS host FROM documents)
SELECT doc_id, host FROM h
WHERE NOT EXISTS (
  SELECT 1 FROM (VALUES {bl}) b(d)
  WHERE h.host = b.d OR h.host LIKE '%.' || b.d)"""


_DRIFT_FILTER_SQL = ("n_chars BETWEEN 100 AND 400 "
                     "AND lang IN ('en','de','fr')")


def _drift_frames(spark, sf_dir):
    # length() alone does not justify the spread exchange
    docs = (_read(spark, sf_dir, "documents", spread=False)
            .withColumn("text_len", F.length("text")))
    new = docs.filter((F.col("n_chars") >= 100)
                      & (F.col("n_chars") <= 400)
                      & F.col("lang").isin("en", "de", "fr"))
    return docs, new


def _q_drift_report(spark, sf_dir):
    # snapshot drift (operators/drift.py): PSI + binned KS between the
    # raw corpus and its filtered subset — "what did the filter do to
    # the distribution" — one fused agg per snapshot
    from validatelite_spark.operators.drift import drift_report
    ref, new = _drift_frames(spark, sf_dir)
    return drift_report(ref, new, ["n_chars", "text_len"], bins=10)


def _q_categorical_drift(spark, sf_dir):
    # per-category PSI decomposition over lang (NULL its own category)
    from validatelite_spark.operators.drift import categorical_drift
    ref, new = _drift_frames(spark, sf_dir)
    return categorical_drift(ref, new, "lang")


def _drift_oracle() -> str:
    cols = [("n_chars", "CAST(n_chars AS DOUBLE)"),
            ("text_len", "CAST(length(text) AS DOUBLE)")]
    B, eps = 10, 1e-4
    rg = ", ".join(f"min({e}) AS lo_{c}, max({e}) AS hi_{c}"
                   for c, e in cols)

    def bins_of(src):
        legs = []
        for c, e in cols:
            legs.append(f"""
  SELECT '{c}' AS col_name,
         CASE WHEN {e} IS NULL THEN -1
              WHEN hi_{c} - lo_{c} <= 0 THEN 0
              ELSE GREATEST(0, LEAST({B - 1}, CAST(floor(
                   ({e} - lo_{c}) / (hi_{c} - lo_{c}) * {B})
                   AS INT))) END AS bin
  FROM {src}, rg""")
        return " UNION ALL ".join(legs)

    grid_cols = ", ".join(f"('{c}')" for c, _ in cols)
    return f"""
WITH rg AS (SELECT {rg} FROM documents),
br AS ({bins_of('documents')}),
bn AS ({bins_of(f'(SELECT * FROM documents WHERE {_DRIFT_FILTER_SQL})')}),
grid AS (SELECT col_name, CAST(k AS INT) AS bin
         FROM (VALUES {grid_cols}) c(col_name)
         CROSS JOIN range(-1, {B}) t(k)),
cr AS (SELECT col_name, bin, count(*) AS cr FROM br GROUP BY 1, 2),
cn AS (SELECT col_name, bin, count(*) AS cn FROM bn GROUP BY 1, 2),
m AS (SELECT g.col_name, g.bin,
             COALESCE(cr.cr, 0) AS cr, COALESCE(cn.cn, 0) AS cn
      FROM grid g LEFT JOIN cr USING (col_name, bin)
                  LEFT JOIN cn USING (col_name, bin)),
t AS (SELECT *,
        sum(cr) OVER (PARTITION BY col_name) AS tot_r,
        sum(cn) OVER (PARTITION BY col_name) AS tot_n,
        sum(CASE WHEN bin = -1 THEN cr ELSE 0 END)
          OVER (PARTITION BY col_name) AS null_r,
        sum(CASE WHEN bin = -1 THEN cn ELSE 0 END)
          OVER (PARTITION BY col_name) AS null_n,
        sum(CASE WHEN bin >= 0 THEN cr ELSE 0 END)
          OVER (PARTITION BY col_name ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS cum_r,
        sum(CASE WHEN bin >= 0 THEN cn ELSE 0 END)
          OVER (PARTITION BY col_name ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS cum_n
      FROM m)
SELECT col_name,
  CAST(max(tot_r - null_r) AS BIGINT) AS n_ref,
  CAST(max(tot_n - null_n) AS BIGINT) AS n_new,
  CAST(max(null_r) AS BIGINT) AS null_ref,
  CAST(max(null_n) AS BIGINT) AS null_new,
  round(sum(((cr + {eps}) / (tot_r + {B + 1} * {eps})
           - (cn + {eps}) / (tot_n + {B + 1} * {eps}))
          * ln(((cr + {eps}) / (tot_r + {B + 1} * {eps}))
             / ((cn + {eps}) / (tot_n + {B + 1} * {eps}))))
        + 1e-9, 6) AS psi,
  round(COALESCE(max(CASE WHEN bin >= 0 THEN
          abs(cum_r / CAST(NULLIF(tot_r - null_r, 0) AS DOUBLE)
            - cum_n / CAST(NULLIF(tot_n - null_n, 0) AS DOUBLE))
        END), 0.0) + 1e-9, 6) AS ks
FROM t GROUP BY col_name"""


def _categorical_drift_oracle() -> str:
    eps = 1e-4
    return f"""
WITH cr AS (SELECT lang AS cat, count(*) AS cnt_ref
            FROM documents GROUP BY lang),
cn AS (SELECT lang AS cat, count(*) AS cnt_new FROM documents
       WHERE {_DRIFT_FILTER_SQL} GROUP BY lang),
j AS (SELECT COALESCE(cr.cat, cn.cat) AS category,
             COALESCE(cnt_ref, 0) AS cnt_ref,
             COALESCE(cnt_new, 0) AS cnt_new
      FROM cr FULL OUTER JOIN cn ON cr.cat IS NOT DISTINCT FROM cn.cat),
t AS (SELECT *,
        count(*) OVER () AS ncat,
        sum(cnt_ref) OVER () AS tr, sum(cnt_new) OVER () AS tn
      FROM j)
SELECT category, CAST(cnt_ref AS BIGINT) AS cnt_ref,
       CAST(cnt_new AS BIGINT) AS cnt_new,
       round((cnt_ref + {eps}) / (tr + ncat * {eps}) + 1e-9, 6)
         AS p_ref,
       round((cnt_new + {eps}) / (tn + ncat * {eps}) + 1e-9, 6)
         AS p_new,
       round(((cnt_ref + {eps}) / (tr + ncat * {eps})
            - (cnt_new + {eps}) / (tn + ncat * {eps}))
           * ln(((cnt_ref + {eps}) / (tr + ncat * {eps}))
              / ((cnt_new + {eps}) / (tn + ncat * {eps})))
           + 1e-9, 6) AS psi_term
FROM t"""


_OVERLAP_RULES = ["not_null(text)", "range(n_chars,100,400)",
                  "enum(lang,en,de,fr)", "length(text,50,1000)"]


def _overlap_rules():
    from validatelite_spark.core.rule_parser import parse_rules
    return parse_rules(_OVERLAP_RULES)


def _q_rule_overlap(spark, sf_dir):
    # filter-ablation Venn (operators/overlap.py): every observed
    # failure combination of the 4 engine rules, counted in ONE scan —
    # predicates come from the SAME compiler the engine uses
    from validatelite_spark.operators.overlap import rule_overlap
    docs = _read(spark, sf_dir, "documents")
    return rule_overlap(docs, _overlap_rules())


def _q_rule_marginals(spark, sf_dir):
    # per-rule ablation summary: total fails + fails ONLY this rule
    # catches (its irreplaceable contribution), from the mask table
    from validatelite_spark.operators.overlap import rule_marginals
    docs = _read(spark, sf_dir, "documents")
    return rule_marginals(docs, _overlap_rules())


#: (bit value, rule name, DuckDB fail predicate) — NULL semantics per
#: rule type are the engine's contract (core/rules.py table)
_OVERLAP_SQL_BITS = [
    (1, "not_null_text", "text IS NULL"),
    (2, "range_n_chars",
     "n_chars IS NULL OR n_chars < 100 OR n_chars > 400"),
    (4, "enum_lang",
     "lang IS NOT NULL AND lang NOT IN ('en','de','fr')"),
    (8, "length_text",
     "text IS NULL OR length(text) < 50 OR length(text) > 1000"),
]


def _overlap_oracle(marginals: bool) -> str:
    mask = " + ".join(f"(CASE WHEN {p} THEN {b} ELSE 0 END)"
                      for b, _, p in _OVERLAP_SQL_BITS)
    base = f"WITH m AS (SELECT {mask} AS fail_mask FROM documents)"
    if not marginals:
        labels = ", ".join(
            f"CASE WHEN fail_mask & {b} <> 0 THEN '{n}' END"
            for b, n, _ in _OVERLAP_SQL_BITS)
        return base + f"""
SELECT CAST(fail_mask AS BIGINT) AS fail_mask,
       COALESCE(concat_ws(',', {labels}), '') AS failed_rules,
       CAST(count(*) AS BIGINT) AS n_rows
FROM m GROUP BY fail_mask"""
    vals = ", ".join(f"({b}, '{n}')" for b, n, _ in _OVERLAP_SQL_BITS)
    return base + f"""
SELECT r.rule_name,
       CAST(sum(CASE WHEN m.fail_mask & r.bit <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS fail_count,
       CAST(sum(CASE WHEN m.fail_mask = r.bit THEN 1 ELSE 0 END)
            AS BIGINT) AS unique_fail_count
FROM m CROSS JOIN (VALUES {vals}) AS r(bit, rule_name)
GROUP BY r.rule_name"""


_SEQ_LEN = 2048


def _q_pack_sequences(spark, sf_dir):
    # concat-and-chunk sequence packing (operators/packing.py): one
    # global stream, docs concatenated in doc_id order, cut every
    # 2048 "tokens" (n_chars) — per-doc placement report
    from validatelite_spark.operators.packing import pack_sequences
    docs = _read(spark, sf_dir, "documents", spread=False)
    return (pack_sequences(docs, _SEQ_LEN, "n_chars",
                           order_col="doc_id", key_col="doc_id")
            .select("doc_id", "n_chars", "seq_start", "first_seq",
                    "last_seq", "n_seqs", "seq_offset"))


def _q_packing_stats(spark, sf_dir):
    # per-language packing report: windows produced, split docs,
    # tail padding — the data-card numbers for a packed shard
    from validatelite_spark.operators.packing import packing_stats
    docs = _read(spark, sf_dir, "documents")
    return (packing_stats(docs, _SEQ_LEN, "n_chars",
                          order_col="doc_id", key_col="doc_id",
                          by="lang")
            .select("lang", "n_docs", "total_tokens", "n_sequences",
                    "split_docs", "tail_padding"))


def _pack_oracle(stats: bool) -> str:
    L = _SEQ_LEN
    part = "PARTITION BY lang " if stats else ""
    base = f"""
WITH p AS (
  SELECT doc_id, lang, n_chars,
         CAST(sum(n_chars) OVER ({part}ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_chars AS BIGINT) AS seq_start
  FROM documents),
q AS (
  SELECT doc_id, lang, n_chars, seq_start,
         seq_start // {L} AS first_seq,
         CASE WHEN n_chars <= 0 THEN seq_start // {L}
              ELSE (seq_start + n_chars - 1) // {L} END AS last_seq
  FROM p)"""
    if not stats:
        return base + f"""
SELECT doc_id, n_chars, seq_start,
       CAST(first_seq AS BIGINT) AS first_seq,
       CAST(last_seq AS BIGINT) AS last_seq,
       CAST(last_seq - first_seq + 1 AS BIGINT) AS n_seqs,
       CAST(seq_start % {L} AS BIGINT) AS seq_offset
FROM q"""
    return base + f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_tokens,
       CAST(max(last_seq) + 1 AS BIGINT) AS n_sequences,
       CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END)
            AS BIGINT) AS split_docs,
       CAST((max(last_seq) + 1) * {L} - sum(n_chars) AS BIGINT)
         AS tail_padding
FROM q GROUP BY lang"""


_MIX_WEIGHTS = {"en": 0.6, "de": 0.3, "fr": 0.1}
_MIX_TOTAL = 20000


def _q_mixture_sample(spark, sf_dir):
    # static data mixing (operators/sampling.py mixture_budget_filter):
    # a 20k-token budget split 60/30/10 across en/de/fr, each group cut
    # by the two-phase prefix sum at its share; other langs pruned at
    # the scan
    from validatelite_spark.operators.sampling import mixture_budget_filter
    docs = _read(spark, sf_dir, "documents", spread=False)
    kept = mixture_budget_filter(docs, _MIX_TOTAL, _MIX_WEIGHTS,
                                 token_col="n_chars", by="lang",
                                 order_col="n_chars", key_col="doc_id")
    return kept.select("doc_id", "lang", "n_chars")


def _mixture_oracle() -> str:
    from validatelite_spark.operators.sampling import \
        mixture_weights_to_budgets
    budgets = mixture_weights_to_budgets(_MIX_TOTAL, _MIX_WEIGHTS)
    langs = ", ".join(f"'{g}'" for g in budgets)
    case = " ".join(f"WHEN '{g}' THEN {v}" for g, v in budgets.items())
    return f"""
WITH running AS (
  SELECT doc_id, lang, n_chars,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_chars AS pre
  FROM documents WHERE lang IN ({langs}))
SELECT doc_id, lang, n_chars FROM running
WHERE pre < CASE lang {case} ELSE 0 END"""


def _q_token_budget(spark, sf_dir):
    # data-mixing primitive: per-lang token budget, docs taken in
    # deterministic order until the running pre-doc total hits budget
    from validatelite_spark.operators.sampling import token_budget_filter
    docs = _read(spark, sf_dir, "documents", spread=False)
    kept = token_budget_filter(docs, budget=5000, token_col="n_chars",
                               by="lang", order_col="n_chars",
                               key_col="doc_id")
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("tokens")))


def _q_dedup_groups(spark, sf_dir):
    # connected components over the (oracled) exact-jaccard near-dup
    # pairs: (doc_id, group_id=min id in component) — the dedup-cluster
    # step of a training pipeline. Oracle: recursive CTE closure.
    from validatelite_spark.operators.dedup import (dedup_groups,
                                                    ngram_jaccard_pairs)
    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup_groups(pairs)


_INCR_ORACLE = """
WITH t AS (
  SELECT doc_id AS k,
         substr(md5(cast(doc_id AS varchar)), 1, 1) < '8' AS is_old,
         list_distinct(list_transform(
             range(1, len({toks}) - 1),
             i -> array_to_string({toks}[i:i+2], ' '))) AS sh
  FROM documents
  WHERE len({toks}) >= 3
), sized AS (
  SELECT k, is_old, sh, len(sh) AS sz FROM t
), ex AS (
  SELECT k, is_old, unnest(sh) AS s FROM sized
), common AS (
  SELECT a.k AS id1, b.k AS id2, count(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.is_old AND NOT b.is_old
  GROUP BY 1, 2
)
SELECT c.id1, c.id2,
       round(c.common * 1.0 / (sa.sz + sb.sz - c.common) + 1e-9, 6) AS jaccard
FROM common c
JOIN sized sa ON sa.k = c.id1
JOIN sized sb ON sb.k = c.id2
WHERE round(c.common * 1.0 / (sa.sz + sb.sz - c.common) + 1e-9, 6) >= 0.5
""".replace("{toks}", _d_tokens("text"))


def _q_incremental_dedup(spark, sf_dir):
    # production incremental shape: dedupe a NEW batch against a
    # PERSISTED corpus index (operators/dedup.py minhash_index_write /
    # incremental_minhash_pairs) — only the new batch is shingled.
    # Corpus = docs with md5(doc_id) first hex digit 0-7, batch = 8-f
    # (engine-portable split). The index is written with b=32/r=2
    # banding (see the call below) so LSH recall ≈ 1 at this query's
    # j=0.5 threshold → the exhaustive cross-Jaccard SQL is the oracle,
    # like minhash_lsh_pairs.
    import hashlib
    import tempfile
    from validatelite_spark.operators.dedup import (
        incremental_minhash_pairs, minhash_index_write)
    docs = _read(spark, sf_dir, "documents")
    is_old = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/vlite_minhash_index_{tag}"
    # rows_per_band=2 for recall margin at the j=0.5 threshold (see
    # _q_minhash_lsh — same math, same exhaustive-oracle exposure)
    minhash_index_write(docs.filter(is_old), path, rows_per_band=2)
    return incremental_minhash_pairs(docs.filter(~is_old), path,
                                     threshold=0.5)


def _q_incremental_exact(spark, sf_dir):
    # exact-fingerprint twin of incremental_dedup: same engine-portable
    # md5(doc_id) corpus/batch split, persisted (fp, k) index, batch
    # deduped within itself then anti-joined on the digest
    import hashlib
    import tempfile
    from validatelite_spark.operators.dedup import (
        fingerprint_index_write, incremental_exact_dedup)
    docs = _read(spark, sf_dir, "documents")
    is_old = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/vlite_fp_index_{tag}"
    fingerprint_index_write(docs.filter(is_old), path)
    out = incremental_exact_dedup(docs.filter(~is_old), path)
    return out.select("doc_id", "lang", "n_chars")


def _q_line_dedup(spark, sf_dir):
    # C4-style corpus-wide line dedup (operators/lines.py). The
    # documents corpus is single-line, so the query runs the operator's
    # degenerate doc-granularity form — later duplicate texts blank to
    # '' — which makes the global first-occurrence machinery fully
    # DuckDB-verifiable; multi-line semantics are pinned in
    # tests/test_lines.py against a pandas reference.
    from validatelite_spark.operators.lines import line_dedup
    docs = _read(spark, sf_dir, "documents")
    out = line_dedup(docs, "text", "doc_id")
    return out.select(
        "doc_id", F.md5("text_dedup").alias("fp"),
        F.length("text_dedup").alias("n"))


def _lines_corpus(spark, sf_dir):
    # the documents corpus is single-line; word-split it (space → \n)
    # so line-granularity operators run over real multi-line docs with
    # genuinely shared lines — byte-reproducible in DuckDB via
    # replace(text, ' ', chr(10))
    return (_read(spark, sf_dir, "documents")
            .select("doc_id",
                    F.translate("text", " ", "\n").alias("text")))


def _q_chunk_dedup(spark, sf_dir):
    # passage-granularity corpus dedup (operators/lines.py chunk_dedup,
    # Lee et al. 2022 approximated over aligned 8-token windows) —
    # winner selection, excision, and ordered reassembly all replayed
    # in DuckDB
    from validatelite_spark.operators.lines import chunk_dedup
    docs = _read(spark, sf_dir, "documents")
    out = chunk_dedup(docs, "text", "doc_id", window_tokens=8)
    return out.select("doc_id", F.md5("text_dedup").alias("fp"),
                      F.length("text_dedup").alias("n"))


_MESSY_DECOR = "\u201cq\u201d\u200b\te\u0301\x07\u2014 "


def _q_normalize_text(spark, sf_dir):
    # unicode fix-text stage (functions/normalize.py): documents text
    # decorated with curly quotes, zero-widths, a control char, an
    # em-dash and a DECOMPOSED e+acute (NFC leg), then normalized;
    # the oracle builds the identical messy input and replays every
    # step including nfc_normalize
    from validatelite_spark.functions.normalize import normalize_docs
    docs = _read(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(F.lit(_MESSY_DECOR), F.col("text"),
                 F.lit(_MESSY_DECOR)).alias("text"))
    out = normalize_docs(messy)
    return out.select("doc_id", F.md5("text").alias("fp"),
                      F.length("text").alias("n"))


def _q_compression_stats(spark, sf_dir):
    # zlib compression-ratio quality signal per language — rows-only
    # (DuckDB has no zlib surface; cross-impl parity is pinned in
    # pytest against direct zlib, like perplexity)
    from validatelite_spark.functions.textquality import (
        compression_ratio_udf)
    docs = _read(spark, sf_dir, "documents")
    return (docs.withColumn("cr",
                            compression_ratio_udf()(F.col("text")))
            .groupBy("lang")
            .agg(F.round(F.avg("cr") + 1e-9, 6).alias("avg_cr"),
                 F.count(F.lit(1)).alias("docs")))


def _q_domain_stats(spark, sf_dir):
    # per-domain mixing report (operators/domains.py) — the planning
    # table for domain reputation / mixture decisions
    from validatelite_spark.operators.domains import domain_stats
    docs = _read(spark, sf_dir, "documents")
    return domain_stats(docs, "n_chars", by="source",
                        token_col="n_chars")


def _q_domain_filter(spark, sf_dir):
    # domain-reputation filter: drop docs whose domain's AVERAGE score
    # sits in the bottom quantile of per-domain averages (domains
    # weighted equally); scalar threshold + null-safe semi-join back
    from validatelite_spark.operators.domains import domain_quality_filter
    docs = _read(spark, sf_dir, "documents", spread=False)
    out = domain_quality_filter(docs, "n_chars", by="source", q=0.25,
                                min_docs=2)
    return out.select("doc_id", "source", "n_chars")


def _q_top_lines(spark, sf_dir):
    # boilerplate-line mining (operators/lines.py top_lines): the
    # blocklist feed for strip_blocklisted_lines / the BOILERPLATE
    # rule. Partial-agg rollup + TakeOrderedAndProject top-k.
    from validatelite_spark.operators.lines import top_lines
    return top_lines(_lines_corpus(spark, sf_dir), "text", "doc_id",
                     k=25, min_docs=2)


def _q_boilerplate_strip(spark, sf_dir):
    # the mine → blocklist → apply loop end-to-end (VERDICT r3 #9):
    # top_lines output feeds strip_blocklisted_lines over the same
    # corpus; whole chain replayed in one DuckDB SQL.
    from validatelite_spark.operators.lines import (
        strip_blocklisted_lines, top_lines)
    docs = _lines_corpus(spark, sf_dir)
    bl = top_lines(docs, "text", "doc_id", k=25, min_docs=2)
    out = strip_blocklisted_lines(docs, bl, "text", "doc_id")
    return out.select("doc_id", F.md5("text_clean").alias("fp"),
                      F.length("text_clean").alias("n"))


def _q_boilerplate_rule(spark, sf_dir):
    # BOILERPLATE as an ENGINE rule: blocklist mined by top_lines,
    # compiled through the registry into the standard metrics aggregate
    from validatelite_spark.core.rules import Rule
    from validatelite_spark.operators.lines import top_lines
    df = _lines_corpus(spark, sf_dir)
    mined = [r["line"]
             for r in top_lines(df, k=25, min_docs=2).collect()]
    return _rule_metrics(
        df, Rule("BOILERPLATE", "text", {"lines": mined, "max_frac": 0.5}))


def _messy_urls(spark, sf_dir):
    # deterministic crawl-shaped url variants per doc (5 per host+path
    # group: casing, default port, www, fragment, tracking params) —
    # byte-reproducible in DuckDB (_MESSY_URL_SQL) so url
    # canonicalization + url dedup are fully value-hash-checked
    d = _read(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    g = F.floor(i / 5).cast("string")
    h = F.concat(F.lit("h"), F.pmod(F.floor(i / 5), F.lit(20))
                 .cast("string"))
    m = F.pmod(i, F.lit(5))
    url = (
        F.when(m == 0, F.concat(F.lit("HTTPS://"), F.upper(h),
                                F.lit(".EXAMPLE.COM:443/page/"), g,
                                F.lit("?utm_source=x")))
        .when(m == 1, F.concat(F.lit("https://"), h,
                               F.lit(".example.com/page/"), g,
                               F.lit("#frag")))
        .when(m == 2, F.concat(F.lit("https://"), h,
                               F.lit(".example.com/page/"), g,
                               F.lit("?id="),
                               F.pmod(i, F.lit(7)).cast("string"),
                               F.lit("&utm_b=2")))
        .when(m == 3, F.concat(F.lit("http://"), h,
                               F.lit(".example.com:80/page/"), g))
        .otherwise(F.concat(F.lit("https://www."), h,
                            F.lit(".example.com/page/"), g)))
    return d.select("doc_id", url.alias("url"))


_MESSY_URL_SQL = """
    CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN 'HTTPS://' || upper('h' ||
        CAST((doc_id // 5) % 20 AS VARCHAR)) ||
        '.EXAMPLE.COM:443/page/' || CAST(doc_id // 5 AS VARCHAR) ||
        '?utm_source=x'
      WHEN 1 THEN 'https://h' || CAST((doc_id // 5) % 20 AS VARCHAR) ||
        '.example.com/page/' || CAST(doc_id // 5 AS VARCHAR) || '#frag'
      WHEN 2 THEN 'https://h' || CAST((doc_id // 5) % 20 AS VARCHAR) ||
        '.example.com/page/' || CAST(doc_id // 5 AS VARCHAR) ||
        '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_b=2'
      WHEN 3 THEN 'http://h' || CAST((doc_id // 5) % 20 AS VARCHAR) ||
        '.example.com:80/page/' || CAST(doc_id // 5 AS VARCHAR)
      ELSE 'https://www.h' || CAST((doc_id // 5) % 20 AS VARCHAR) ||
        '.example.com/page/' || CAST(doc_id // 5 AS VARCHAR)
    END"""


def _q_canonical_urls(spark, sf_dir):
    # url canonicalization (functions/urls.py) over the synthetic messy
    # variants — every normalization step value-hash-checked vs the
    # DuckDB replay
    from validatelite_spark.functions.urls import canonical_url
    u = _messy_urls(spark, sf_dir)
    return u.select("doc_id",
                    canonical_url(F.col("url")).alias("canonical"))


def _q_url_dedup(spark, sf_dir):
    # canonical-url dedup (operators/dedup.py url_dedup): the crawl
    # pipeline's first dedup stage — min-key representative per
    # canonical url via the map-side min-struct shape (no Window)
    from validatelite_spark.operators.dedup import url_dedup
    u = _messy_urls(spark, sf_dir)
    return url_dedup(u, "url", "doc_id")


def _clf_weights() -> list[float]:
    # deterministic pseudo-random weights on the 1/1024 dyadic grid
    # (exact-sum argument in functions/classifier.py) — generated
    # identically for the Spark plan and the DuckDB oracle
    return [((i * 37) % 2049 - 1024) / 1024 for i in range(256)]


def _q_classifier_scores(spark, sf_dir):
    # fastText-style hashed-linear scoring (functions/classifier.py):
    # explode → md5 bucket → literal-array weight → one partial-agg
    # groupBy(doc); dyadic weights make the oracle comparison exact
    from validatelite_spark.functions.classifier import classifier_scores
    docs = _read(spark, sf_dir, "documents")
    return classifier_scores(docs, _clf_weights(), bias=0.25)


def _q_classifier_rule(spark, sf_dir):
    # CLASSIFIER as an ENGINE rule (registered type, scalar HOF form)
    from validatelite_spark.core.rules import Rule
    df = _read(spark, sf_dir, "documents")
    return _rule_metrics(
        df, Rule("CLASSIFIER", "text",
                 {"weights": _clf_weights(), "bias": 0.25,
                  "min_score": 0.5}))


def _q_url_decontaminate(spark, sf_dir):
    # url-level decontamination: every doc canonical-url-equal to a
    # benchmark url (docs with doc_id % 10 == 0 here) is dropped —
    # catches the http/https/www/tracking variants raw matching misses
    from validatelite_spark.operators.dedup import url_decontaminate
    u = _messy_urls(spark, sf_dir)
    bench = u.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0) \
        .select("url")
    return url_decontaminate(u, bench)


def _q_stratified_sample(spark, sf_dir):
    # per-stratum deterministic sampling (the data-mix knob): exact row
    # set verified — md5 arithmetic is engine-portable
    from validatelite_spark.operators.sampling import stratified_sample
    docs = _read(spark, sf_dir, "documents", spread=False)
    return (stratified_sample(docs, {"en": 0.5, "de": 1.0, "zh": 0.1},
                              "doc_id", "lang", seed=11)
            .select("doc_id", "lang"))


def _q_quantile_filter(spark, sf_dir):
    # adaptive per-group threshold: keep docs at/above their language's
    # 75th length percentile (exact interpolated quantile, broadcast
    # threshold join — operators/sampling.py)
    from validatelite_spark.operators.sampling import quantile_filter
    docs = _read(spark, sf_dir, "documents")
    return (quantile_filter(docs, "n_chars", "lang", 0.75, keep="ge")
            .select("doc_id", "lang", "n_chars"))


def _q_dedup_kept_corpus(spark, sf_dir):
    # the full dedup loop a training pipeline runs: near-dup pairs →
    # connected components → keep ONE representative per group (the doc
    # whose id is the min-id group label) + every doc with no near-dup.
    # Oracle: recursive-CTE closure + the same min-label keep rule.
    from validatelite_spark.operators.dedup import (dedup_groups,
                                                    keep_representatives,
                                                    ngram_jaccard_pairs)
    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    kept = keep_representatives(docs, dedup_groups(pairs))
    return kept.select("doc_id", "lang", "n_chars")


def _q_dedup_best_corpus(spark, sf_dir):
    # quality-priority keep-one (RefinedWeb convention): per near-dup
    # cluster keep the LONGEST member (n_chars, tie -> min id) instead
    # of the min-id one — dedup never discards the best copy. Winner =
    # map-side min(struct(-score, key)) per group, no corpus window.
    from validatelite_spark.operators.dedup import (
        dedup_groups, keep_best_representatives, ngram_jaccard_pairs)
    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    kept = keep_best_representatives(
        docs, dedup_groups(pairs), "n_chars")
    return kept.select("doc_id", "lang", "n_chars")


_CC_ORACLE = """
WITH RECURSIVE pairs AS (
  SELECT id1, id2 FROM ({jaccard}) jq
), edges AS (
  SELECT id1 AS src, id2 AS dst FROM pairs
  UNION
  SELECT id2 AS src, id1 AS dst FROM pairs
), reach AS (
  SELECT src AS v, src AS label FROM edges
  UNION
  SELECT e.dst AS v, r.label
  FROM reach r JOIN edges e ON e.src = r.v
)
SELECT v AS doc_id, min(label) AS group_id FROM reach GROUP BY v
"""


def _q_multimodal_video(spark, sf_dir):
    # REAL YUV4MPEG2 decode (pure numpy) over deterministic synthetic
    # clips; rows-only oracle (binary codec is non-SQL). Frame-exact
    # round-trip parity is pinned in tests/test_multimodal_*.py.
    from validatelite_spark.operators.multimodal import (
        decode_media, synthesize_videos)
    vids = synthesize_videos(spark, 500, n_frames=6, height=16, width=16)
    feats = decode_media(vids, "html", "url", decoder="video")
    return (feats
            .select("format",
                    F.element_at("features", 3).alias("n_frames"),
                    F.element_at("features", 5).alias("motion"))
            .groupBy("format")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("n_frames") + 1e-9, 6).alias("avg_frames"),
                 F.round(F.avg("motion") + 1e-9, 6).alias("avg_motion")))


# ------------------------------------------------------------- registry

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate records only the
    # FIRST 50 entries, so the registry lists the NEWEST operators
    # first (this round's additions, then the round-4 tail the driver
    # had never recorded) and the long-stable rounds-1-3 queries last —
    # every entry is still checked by scripts/check_oracles.py, whose
    # full-registry artifact is committed as CORRECTNESS_local_rNN.json
    # (VERDICT r4 #4).
    return {
        # ---- round 5 ----
        "shard_assign": _q_shard_assign,
        "shard_manifest": _q_shard_manifest,
        "shard_verify": _q_shard_verify,
        "dedup_best_corpus": _q_dedup_best_corpus,
        "calibration_curve": _q_calibration_curve,
        "calibration_ece": _q_calibration_ece,
        "vocab_coverage": _q_vocab_coverage,
        "dedup_census": _q_dedup_census,
        "soft_sample": _q_soft_sample,
        "contamination_provenance": _q_contamination_provenance,
        "host_edges": _q_host_edges,
        "embedding_decontaminate": _q_embedding_decontaminate,
        "embedding_decon_report": _q_embedding_decon_report,
        "bloom_probe": _q_bloom_probe,
        "bloom_stats": _q_bloom_stats,
        "intra_doc_line_dedup": _q_intra_doc_line_dedup,
        "split_summary": _q_split_summary,
        "split_leakage": _q_split_leakage,
        "exact_substring_pairs": _q_exact_substring_pairs,
        "duplicate_spans": _q_duplicate_spans,
        "substring_scrub": _q_substring_scrub,
        "image_near_dups": _q_image_near_dups,
        "audio_near_dups": _q_audio_near_dups,
        "video_near_dups": _q_video_near_dups,
        "centroid_similarity": _q_centroid_similarity,
        "langid_eval": _q_langid_eval,
        "curation_funnel": _q_curation_funnel,
        "winnow_pairs": _q_winnow_pairs,
        "containment_pairs": _q_containment_pairs,
        "dedup_eval": _q_dedup_eval,
        "snapshot_delta": _q_snapshot_delta,
        "fineweb_signals": _q_fineweb_signals,
        "profile_table": _q_profile_table,
        "domain_pagerank": _q_domain_pagerank,
        "domain_top_terms": _q_domain_top_terms,
        "ccnet_buckets": _q_ccnet_buckets,
        "bpe_pair_counts": _q_bpe_pair_counts,
        "bpe_merges": _q_bpe_merges,
        "warc_scan": _q_warc_scan,
        "blocklist_filter": _q_blocklist_filter,
        "drift_report": _q_drift_report,
        "categorical_drift": _q_categorical_drift,
        "rule_overlap": _q_rule_overlap,
        "rule_marginals": _q_rule_marginals,
        "pack_sequences": _q_pack_sequences,
        "packing_stats": _q_packing_stats,
        "mixture_sample": _q_mixture_sample,
        "dsir_weights": _q_dsir_weights,
        "dsir_sample": _q_dsir_sample,
        "semantic_dedup": _q_semantic_dedup,
        "semantic_dedup_kmeans": _q_semantic_dedup_kmeans,
        "curation_decontaminated": _q_curation_decon,
        # ---- round 4 additions the driver window never reached ----
        "range_signup_purchase": _q_range_signup_purchase,
        "interval_overlap": _q_interval_overlap,
        "time_rollup_events": _q_time_rollup,
        "hash_sample": _q_hash_sample,
        "token_budget": _q_token_budget,
        "line_dedup": _q_line_dedup,
        "top_lines": _q_top_lines,
        "canonical_urls": _q_canonical_urls,
        "url_dedup": _q_url_dedup,
        "classifier_scores": _q_classifier_scores,
        "classifier_rule": _q_classifier_rule,
        "incremental_exact": _q_incremental_exact,
        "chunk_dedup": _q_chunk_dedup,
        "domain_stats": _q_domain_stats,
        "domain_filter": _q_domain_filter,
        "normalize_text": _q_normalize_text,
        "compression_stats": _q_compression_stats,
        "url_decontaminate": _q_url_decontaminate,
        "boilerplate_strip": _q_boilerplate_strip,
        "boilerplate_rule": _q_boilerplate_rule,
        "incremental_dedup": _q_incremental_dedup,
        "stratified_sample": _q_stratified_sample,
        "quantile_filter": _q_quantile_filter,
        "quality_quantiles": _q_quality_quantiles,
        "key_skew": _q_key_skew,
        "top_ngrams": _q_top_ngrams,
        "curation_end_to_end": _q_curation,
        "temperature_sample": _q_temperature_sample,
        "cap_per_source": _q_cap_per_source,
        # ---- rounds 1-3 (driver-recorded green in r3 and r4) ----
        "notnull_metrics": _q_notnull,
        "range_metrics": _q_range,
        "length_metrics": _q_length,
        "enum_metrics": _q_enum,
        "regex_metrics": _q_regex,
        "fused_rules": _q_fused_rules,
        "unique_source": _q_unique_source,
        "date_format_orders": _q_date_format,
        "langid_counts": _q_langid_counts,
        "token_stats": _q_token_stats,
        "quality_scores": _q_quality_scores,
        "fingerprints": _q_fingerprints,
        "gopher_flags": _q_gopher_flags,
        "distinct_candidates": _q_distinct_candidates,
        "quality_histogram": _q_quality_histogram,
        "perplexity_by_source": _q_perplexity_by_source,
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "minhash_lsh_pairs": _q_minhash_lsh,
        "simhash_pairs": _q_simhash,
        "simhash_pairs_md5": _q_simhash_md5,
        "simhash_pairs_md5_blocks": _q_simhash_md5_blocks,
        "repetition_signals": _q_repetition,
        "repetition_rule": _q_repetition_rule,
        "decontaminate": _q_decontaminate,
        "ann_bruteforce": _q_ann_bruteforce,
        "ann_ivf": _q_ann_ivf,
        "ann_ivf_index": _q_ann_ivf_index,
        "bpe_token_stats": _q_bpe_token_stats,
        "ann_lsh": _q_ann_lsh,
        "embedding_pairs": _q_embedding_pairs,
        "embedding_pairs_lsh": _q_embedding_pairs_lsh,
        "events_daily": _q_events_daily,
        "sessionize": _q_sessionize,
        "tpch_q1": _q_tpch_q1,
        "tpch_rollup": _q_tpch_rollup,
        "events_pivot": _q_events_pivot,
        "top_customers": _q_top_customers,
        "pipeline_keep": _q_pipeline_keep,
        "html_extract_parity": _q_html_extract_parity,
        "pipeline_keep_sql": _q_pipeline_keep_sql,
        "multimodal_features": _q_multimodal_features,
        "multimodal_decode": _q_multimodal_decode,
        "multimodal_audio": _q_multimodal_audio,
        "multimodal_video": _q_multimodal_video,
        "dedup_groups": _q_dedup_groups,
        "dedup_kept_corpus": _q_dedup_kept_corpus,
        "asof_purchase_click": _q_asof_purchase_click,
        "asof_forward_click": _q_asof_forward,
        "asof_nearest_click": _q_asof_nearest,
    }


def oracle_sql() -> dict[str, str]:
    t = "text"
    out = {
        "notnull_metrics": """
            SELECT count(*) AS total_records,
                   count(*) FILTER (WHERE text IS NULL) AS failed_records
            FROM documents""",
        "range_metrics": """
            SELECT count(*) AS total_records,
                   count(*) FILTER (WHERE n_chars IS NULL OR n_chars < 100
                                    OR n_chars > 400) AS failed_records
            FROM documents""",
        "length_metrics": """
            SELECT count(*) AS total_records,
                   count(*) FILTER (WHERE text IS NULL OR length(text) < 50
                                    OR length(text) > 1000) AS failed_records
            FROM documents""",
        "enum_metrics": """
            SELECT count(*) AS total_records,
                   count(*) FILTER (WHERE lang IS NOT NULL AND lang NOT IN
                                    ('en','de','fr')) AS failed_records
            FROM documents""",
        "regex_metrics": """
            SELECT count(*) AS total_records,
                   count(*) FILTER (WHERE text IS NOT NULL AND NOT
                                    regexp_matches(text, '^[a-z]'))
                   AS failed_records
            FROM documents""",
        "fused_rules": """
            SELECT count(*) AS total_records,
                   count(*) FILTER (WHERE text IS NULL) AS r_notnull,
                   count(*) FILTER (WHERE n_chars IS NULL OR n_chars < 100
                                    OR n_chars > 400) AS r_range,
                   count(*) FILTER (WHERE lang IS NOT NULL AND lang NOT IN
                                    ('en','de','fr')) AS r_enum,
                   count(*) FILTER (WHERE text IS NULL OR length(text) < 50
                                    OR length(text) > 1000) AS r_length
            FROM documents""",
        "unique_source": """
            SELECT count(*) AS total_records,
                   count(source) - count(DISTINCT source) AS failed_records
            FROM documents""",
        "date_format_orders": """
            WITH t AS (SELECT strftime(o_orderdate, '%Y-%-m-%-d') AS ds
                       FROM orders)
            SELECT count(*) AS total_records,
                   count(*) FILTER (WHERE NOT (ds IS NULL OR trim(ds) = ''
                       OR (try_strptime(ds, '%Y-%m-%d') IS NOT NULL
                           AND strftime(try_strptime(ds, '%Y-%m-%d'),
                                        '%Y-%m-%d') = ds)))
                   AS failed_records
            FROM t""",
        "langid_counts": f"""
            SELECT {_d_lang_id(t)} AS lang_detected, count(*) AS n
            FROM documents GROUP BY 1""",
        "token_stats": f"""
            SELECT source, count(*) AS docs,
                   CAST(sum({_d_nwords(t)}) AS BIGINT) AS total_tokens,
                   round(avg({_d_distinct_ratio(t)}) + 1e-9, 6) AS avg_distinct_ratio
            FROM documents GROUP BY source""",
        "quality_scores": f"""
            SELECT doc_id, {_d_quality_score(t)} AS quality
            FROM documents""",
        "fingerprints": f"""
            SELECT doc_id, {_d_fingerprint(t)} AS fp FROM documents""",
        "gopher_flags": f"""
            SELECT doc_id, {_d_nwords(t)} AS n_words,
                   {_d_stopword_count(t)} AS stop_cnt,
                   {_d_gopher_fail(t)} AS gopher_fail
            FROM documents""",
        "distinct_candidates": """
            SELECT DISTINCT lang FROM documents ORDER BY lang LIMIT 10000""",
        "quality_histogram": f"""
            SELECT CAST(floor({_d_quality_score(t)} * 10) AS BIGINT)
                   AS bucket, count(*) AS n
            FROM documents GROUP BY 1""",
        "exact_dedup": f"""
            SELECT count(*) AS kept_docs FROM (
              SELECT doc_id FROM documents WHERE text IS NULL
              UNION ALL
              SELECT min(doc_id) FROM documents WHERE text IS NOT NULL
              GROUP BY {_d_fingerprint(t)})""",
        "ngram_jaccard_pairs": _JACCARD_ORACLE,
        "simhash_pairs_md5": _SIMHASH_MD5_ORACLE,
        "repetition_signals": """
WITH t AS (
  SELECT doc_id, list_transform(range(1, len({toks}) - 1),
         i -> array_to_string({toks}[i:i+2], ' ')) AS ngs
  FROM documents WHERE len({toks}) >= 3
), ex AS (
  SELECT doc_id, unnest(ngs) AS s FROM t
), per AS (
  SELECT doc_id, s, count(*) AS c FROM ex GROUP BY 1, 2
)
SELECT doc_id,
       round(1.0 - count(*) * 1.0 / sum(c) + 1e-9, 6) AS dup_ngram_frac,
       round(max(c) * 1.0 / sum(c) + 1e-9, 6) AS top_ngram_frac,
       cast(sum(c) AS bigint) AS n_ngrams
FROM per GROUP BY doc_id
""".replace("{toks}", _d_tokens("text")),
        "repetition_rule": """
WITH t AS (
  SELECT text,
         list_transform(range(1, len({toks}) - 1),
             i -> array_to_string({toks}[i:i+2], ' ')) AS ngs
  FROM documents
)
SELECT count(*) AS total_records,
       cast(count(*) FILTER (WHERE text IS NULL OR
            (CASE WHEN len(ngs) > 0
                  THEN 1.0 - len(list_distinct(ngs)) * 1.0 / len(ngs)
                  ELSE 0.0 END) > 0.2) AS bigint) AS failed_records
FROM t
""".replace("{toks}", _d_tokens("text")),
        "decontaminate": """
WITH t AS (
  SELECT doc_id,
         substr(md5(cast(doc_id AS varchar)), 1, 1) = '0' AS is_bench,
         list_distinct(list_transform(range(1, len({toks}) - 2),
             i -> array_to_string({toks}[i:i+3], ' '))) AS sh
  FROM documents WHERE len({toks}) >= 4
), sized AS (
  SELECT doc_id, is_bench, sh, len(sh) AS sz FROM t
), ex AS (
  SELECT doc_id, is_bench, sz, unnest(sh) AS s FROM sized
), bench AS (
  SELECT DISTINCT s FROM ex WHERE is_bench
)
SELECT e.doc_id, count(*) AS hit_ngrams,
       round(count(*) * 1.0 / any_value(e.sz) + 1e-9, 6) AS overlap_frac
FROM ex e JOIN bench b USING (s)
WHERE NOT e.is_bench
GROUP BY e.doc_id
HAVING count(*) >= 1
""".replace("{toks}", _d_tokens("text")),
        "minhash_lsh_pairs": _JACCARD_ORACLE,  # LSH+verify ≡ exhaustive
        "incremental_dedup": _INCR_ORACLE,
        "dedup_groups": _CC_ORACLE.format(jaccard=_JACCARD_ORACLE),
        "dedup_kept_corpus": f"""
            SELECT d.doc_id, d.lang, d.n_chars FROM documents d
            WHERE d.doc_id NOT IN (
              SELECT doc_id FROM (
                {_CC_ORACLE.format(jaccard=_JACCARD_ORACLE)}
              ) cc WHERE cc.doc_id <> cc.group_id)""",
        # same closure, quality-priority winner: rank members by
        # (n_chars DESC, doc_id ASC), drop everyone ranked > 1
        "dedup_best_corpus": f"""
            SELECT d.doc_id, d.lang, d.n_chars FROM documents d
            WHERE d.doc_id NOT IN (
              SELECT doc_id FROM (
                SELECT cc.doc_id,
                       row_number() OVER (
                         PARTITION BY cc.group_id
                         ORDER BY coalesce(dd.n_chars,
                                           '-infinity'::DOUBLE) DESC,
                                  cc.doc_id) AS rn
                FROM ({_CC_ORACLE.format(jaccard=_JACCARD_ORACLE)}) cc
                JOIN documents dd ON dd.doc_id = cc.doc_id
              ) r WHERE r.rn > 1)""",
        "asof_purchase_click": """
            SELECT p.event_id, p.user_id,
                   c.event_id AS click_event_id,
                   round(epoch(p.ts) - epoch(c.ts) + 1e-9, 4) AS gap_sec
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts""",
        "asof_forward_click": """
            SELECT p.event_id, p.user_id,
                   c.event_id AS click_event_id,
                   round(epoch(c.ts) - epoch(p.ts) + 1e-9, 4) AS wait_sec
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts <= c.ts""",
        "asof_nearest_click": """
            WITH p AS (SELECT * FROM events WHERE event_type='purchase'),
            c AS (SELECT * FROM events WHERE event_type='click'),
            b AS (SELECT p.event_id, p.user_id, p.ts,
                         c.event_id AS bid, c.ts AS bts
                  FROM p ASOF LEFT JOIN c
                    ON p.user_id = c.user_id AND p.ts >= c.ts),
            f AS (SELECT p.event_id, c.event_id AS fid, c.ts AS fts
                  FROM p ASOF LEFT JOIN c
                    ON p.user_id = c.user_id AND p.ts <= c.ts)
            SELECT b.event_id, b.user_id,
                   CASE WHEN bid IS NULL THEN fid
                        WHEN fid IS NULL THEN bid
                        WHEN epoch(b.ts) - epoch(bts)
                             <= epoch(fts) - epoch(b.ts) THEN bid
                        ELSE fid END AS click_event_id,
                   round(CASE WHEN bid IS NULL THEN epoch(fts)-epoch(b.ts)
                              WHEN fid IS NULL THEN epoch(b.ts)-epoch(bts)
                              WHEN epoch(b.ts)-epoch(bts)
                                   <= epoch(fts)-epoch(b.ts)
                              THEN epoch(b.ts)-epoch(bts)
                              ELSE epoch(fts)-epoch(b.ts) END + 1e-9, 4)
                   AS dist_sec
            FROM b JOIN f USING (event_id)""",
        "range_signup_purchase": """
            SELECT p.event_id, s.event_id AS signup_id, p.user_id,
                   round(epoch(p.ts) - epoch(s.ts) + 1e-9, 4) AS delay_sec
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            JOIN (SELECT * FROM events WHERE event_type = 'signup') s
              ON p.user_id = s.user_id
             AND epoch(p.ts) >= epoch(s.ts)
             AND epoch(p.ts) < epoch(s.ts) + 2 * 86400""",
        "interval_overlap": """
            WITH s AS (SELECT event_id AS signup_id, user_id,
                              epoch(ts) AS st, epoch(ts) + 2*86400 AS en
                       FROM events WHERE event_type = 'signup'),
            p AS (SELECT event_id AS purchase_id, user_id,
                         epoch(ts) AS st, epoch(ts) + 86400 AS en
                  FROM events WHERE event_type = 'purchase')
            SELECT s.signup_id, p.purchase_id, s.user_id,
                   round(least(s.en, p.en) - greatest(s.st, p.st)
                         + 1e-9, 4) AS overlap_sec
            FROM s JOIN p ON s.user_id = p.user_id
             AND s.st < p.en AND p.st < s.en""",
        "time_rollup_events": """
            WITH lv AS (
              SELECT 'hour' AS gran, date_trunc('hour', ts) AS bucket,
                     count(*) AS n, sum(value) AS s,
                     min(value) AS mn, max(value) AS mx
              FROM events GROUP BY 2
              UNION ALL
              SELECT 'day', date_trunc('day', ts), count(*), sum(value),
                     min(value), max(value)
              FROM events GROUP BY 2
              UNION ALL
              SELECT 'month', date_trunc('month', ts), count(*),
                     sum(value), min(value), max(value)
              FROM events GROUP BY 2
            )
            SELECT gran,
                   strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, n,
                   round(s + 1e-9, 4) AS sum_value,
                   round(mn + 1e-9, 4) AS min_value,
                   round(mx + 1e-9, 4) AS max_value
            FROM lv""",
        "hash_sample": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'),
                                       1, 8)) AS BIGINT) % 1000000
                  < 250000""",
        "token_budget": """
            WITH running AS (
              SELECT lang, n_chars,
                     sum(n_chars) OVER (PARTITION BY lang
                                        ORDER BY n_chars, doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) - n_chars AS pre
              FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS tokens
            FROM running WHERE pre < 5000 GROUP BY lang""",
        "line_dedup": """
            WITH nn AS (
              SELECT doc_id, text,
                     row_number() OVER (PARTITION BY text
                                        ORDER BY doc_id) AS rn
              FROM documents WHERE text IS NOT NULL)
            SELECT doc_id,
                   md5(CASE WHEN rn = 1 THEN text ELSE '' END) AS fp,
                   CAST(length(CASE WHEN rn = 1 THEN text ELSE '' END)
                        AS INTEGER) AS n
            FROM nn
            UNION ALL
            SELECT doc_id, NULL AS fp, NULL AS n
            FROM documents WHERE text IS NULL""",
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                           || ':11'), 1, 8)) AS BIGINT)
                  % 1000000
                  < CASE lang WHEN 'en' THEN 500000
                              WHEN 'de' THEN 1000000
                              WHEN 'zh' THEN 100000
                              ELSE 0 END""",
        "top_ngrams": """
WITH ex AS (
  SELECT doc_id, unnest(list_transform(range(1, len({toks}) - 1),
         i -> array_to_string({toks}[i:i+2], ' '))) AS s
  FROM documents WHERE len({toks}) >= 3
), per_doc AS (
  SELECT doc_id, s, count(*) AS c FROM ex GROUP BY 1, 2
)
SELECT s AS ngram, count(*) AS n_docs,
       CAST(sum(c) AS BIGINT) AS occurrences
FROM per_doc GROUP BY s
HAVING count(*) >= 2
ORDER BY occurrences DESC, n_docs DESC, ngram
LIMIT 25
""".replace("{toks}", _d_tokens("text")),
        "top_lines": """
WITH pd AS (
  SELECT doc_id, line, count(*) AS c
  FROM (SELECT doc_id,
               unnest(string_split(replace(text, ' ', chr(10)),
                                   chr(10))) AS line
        FROM documents WHERE text IS NOT NULL)
  WHERE length(line) >= 1
  GROUP BY 1, 2)
SELECT line, count(*) AS n_docs, CAST(sum(c) AS BIGINT) AS occurrences
FROM pd GROUP BY line HAVING count(*) >= 2
ORDER BY occurrences DESC, n_docs DESC, line
LIMIT 25""",
        "boilerplate_strip": """
WITH pd AS (
  SELECT doc_id, line, count(*) AS c
  FROM (SELECT doc_id,
               unnest(string_split(replace(text, ' ', chr(10)),
                                   chr(10))) AS line
        FROM documents WHERE text IS NOT NULL)
  WHERE length(line) >= 1
  GROUP BY 1, 2),
bl AS (
  SELECT line FROM pd GROUP BY line HAVING count(*) >= 2
  ORDER BY CAST(sum(c) AS BIGINT) DESC, count(*) DESC, line
  LIMIT 25),
bll AS (SELECT list(line) AS ls FROM bl),
cleaned AS (
  SELECT d.doc_id,
         CASE WHEN d.text IS NULL THEN NULL
              -- coalesce: DuckDB array_to_string([]) is NULL, Spark
              -- concat_ws over an empty array is ''
              ELSE coalesce(array_to_string(
                list_filter(string_split(replace(d.text, ' ', chr(10)),
                                         chr(10)),
                    x -> NOT list_contains(b.ls, x)),
                chr(10)), '') END AS tc
  FROM documents d, bll b)
SELECT doc_id, md5(tc) AS fp, length(tc) AS n FROM cleaned""",
        "boilerplate_rule": """
WITH pd AS (
  SELECT doc_id, line, count(*) AS c
  FROM (SELECT doc_id,
               unnest(string_split(replace(text, ' ', chr(10)),
                                   chr(10))) AS line
        FROM documents WHERE text IS NOT NULL)
  WHERE length(line) >= 1
  GROUP BY 1, 2),
bl AS (
  SELECT line FROM pd GROUP BY line HAVING count(*) >= 2
  ORDER BY CAST(sum(c) AS BIGINT) DESC, count(*) DESC, line
  LIMIT 25),
bll AS (SELECT list(line) AS ls FROM bl)
SELECT count(*) AS total_records,
       CAST(count(*) FILTER (WHERE text IS NULL OR
            len(list_filter(string_split(replace(text, ' ', chr(10)),
                                         chr(10)),
                x -> list_contains(b.ls, x))) * 1.0
              / len(string_split(replace(text, ' ', chr(10)),
                                 chr(10))) > 0.5) AS BIGINT)
         AS failed_records
FROM documents, bll b""",
        "temperature_sample": """
            WITH c AS (SELECT lang AS s, count(*) AS c
                       FROM documents GROUP BY 1),
            z AS (SELECT sum(pow(c, 0.5)) AS z FROM c),
            t AS (SELECT s,
                         CAST(round(round(least(1.0,
                              300 * pow(c, 0.5) / z / c) + 1e-9, 6)
                              * 1000000, 0) AS BIGINT) AS thr
                  FROM c, z)
            SELECT d.doc_id, d.lang FROM documents d
            JOIN t ON d.lang IS NOT DISTINCT FROM t.s
            WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                           || ':13'), 1, 8)) AS BIGINT)
                  % 1000000 < t.thr""",
        "cap_per_source": """
            SELECT doc_id, source, n_chars FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id)
                     AS rn
              FROM documents) WHERE rn <= 5""",
        "key_skew": """
            WITH c AS (SELECT user_id AS key, count(*) AS n
                       FROM events GROUP BY 1),
            t AS (SELECT count(*) AS total FROM events)
            SELECT key, n,
                   round(n * 1.0 / total + 1e-9, 6) AS share,
                   CAST(ceil(n * 1.0 / 50) AS BIGINT) AS suggested_salt
            FROM c, t ORDER BY n DESC, key LIMIT 5""",
        "quantile_filter": """
            WITH th AS (
              SELECT lang, round(quantile_cont(n_chars, 0.75) + 1e-9, 4)
                     AS t
              FROM documents GROUP BY lang)
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d JOIN th ON d.lang IS NOT DISTINCT FROM th.lang
            WHERE d.n_chars >= th.t""",
        "quality_quantiles": """
            SELECT lang,
                   round(quantile_cont(n_chars, 0.5) + 1e-9, 4) AS p50,
                   round(quantile_cont(n_chars, 0.9) + 1e-9, 4) AS p90,
                   round(quantile_cont(n_chars, 0.99) + 1e-9, 4) AS p99
            FROM documents GROUP BY lang""",
        "bpe_token_stats": f"""
            SELECT lang,
                   CAST(sum(len(regexp_extract_all(text, '{_BPE_SQL}')))
                        AS BIGINT) AS bpe_tokens,
                   count(*) AS docs
            FROM documents GROUP BY lang""",
        "ann_lsh": _lsh_oracle(),
        "embedding_pairs_lsh": _pairs_lsh_oracle(),
        "ann_bruteforce": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e
                  WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                     round(list_dot_product(c.v, q.qv) /
                       (sqrt(list_dot_product(c.v, c.v)) *
                        sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
              FROM e c CROSS JOIN q
              WHERE c.vec_id <> q.query_id),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, score,
                   CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 10""",
        "embedding_pairs": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id < 800),
            scored AS (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                     round(list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(b.v, b.v))), 6) AS score
              FROM e a JOIN e b ON a.vec_id < b.vec_id)
            SELECT id1, id2, score FROM scored WHERE score >= 0.4""",
        "events_daily": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type, count(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2""",
        "sessionize": """
            WITH gaps AS (
              SELECT user_id,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)
                          > 1800 THEN 1 ELSE 0 END AS new_sess
              FROM events)
            SELECT user_id, CAST(sum(new_sess) + 1 AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM gaps GROUP BY user_id""",
        "tpch_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 4) AS qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
        "events_pivot": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'view') AS view,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase
            FROM events
            WHERE event_type IN ('click', 'view', 'purchase')
            GROUP BY 1""",
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                   AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "top_customers": """
            WITH rev AS (
              SELECT o_custkey, round(sum(o_totalprice), 4) AS revenue,
                     count(*) AS n_orders
              FROM orders GROUP BY o_custkey),
            ranked AS (
              SELECT c.c_custkey, c.c_name, r.revenue, r.n_orders,
                     row_number() OVER (ORDER BY r.revenue DESC, c.c_custkey)
                     AS rank
              FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey)
            SELECT c_custkey, c_name, revenue, n_orders,
                   CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 10""",
    }
    # IVF with n_probe == n_centroids is exhaustive → same oracle
    out["ann_ivf"] = out["ann_bruteforce"]
    out["ann_ivf_index"] = out["ann_bruteforce"]
    # Manku block-combination banding returns identical pairs
    # (pigeonhole recall 1 on both bandings) → same oracle
    out["simhash_pairs_md5_blocks"] = out["simhash_pairs_md5"]
    from validatelite_spark.functions.classifier import duckdb_classifier_sql
    _clf = duckdb_classifier_sql(_clf_weights(), 0.25, _d_tokens("text"))
    out["classifier_scores"] = f"""
        SELECT doc_id,
               CASE WHEN text IS NULL THEN NULL ELSE {_clf} END AS score
        FROM documents"""
    _clf_raw = duckdb_classifier_sql(_clf_weights(), 0.25,
                                     _d_tokens("text"), round_to=None)
    out["classifier_rule"] = f"""
        SELECT count(*) AS total_records,
               CAST(count(*) FILTER (WHERE text IS NULL OR
                    {_clf_raw} < 0.5) AS BIGINT) AS failed_records
        FROM documents"""
    from validatelite_spark.functions.normalize import (
        _sql_escape, duckdb_normalize_sql)
    _decor = f"e'{_sql_escape(_MESSY_DECOR)}'"
    _norm = duckdb_normalize_sql(
        f"({_decor} || text || {_decor})")
    out["normalize_text"] = f"""
        SELECT doc_id, md5({_norm}) AS fp, length({_norm}) AS n
        FROM documents"""
    out["domain_stats"] = """
        SELECT source AS domain, count(*) AS n_docs,
               round(avg(n_chars) + 1e-9, 6) AS avg_score,
               CAST(sum(n_chars) AS BIGINT) AS tokens
        FROM documents GROUP BY source"""
    out["domain_filter"] = """
        WITH s AS (SELECT source, avg(n_chars) AS a, count(*) AS n
                   FROM documents GROUP BY source),
        j AS (SELECT * FROM s WHERE n >= 2),
        t AS (SELECT round(quantile_cont(a, 0.25) + 1e-9, 4) AS th
              FROM j),
        w AS (SELECT source FROM j, t WHERE round(a + 1e-9, 4) >= th)
        SELECT d.doc_id, d.source, d.n_chars FROM documents d
        JOIN w ON d.source IS NOT DISTINCT FROM w.source
        UNION ALL
        SELECT d.doc_id, d.source, d.n_chars FROM documents d
        JOIN (SELECT source FROM s WHERE n < 2) sm
          ON d.source IS NOT DISTINCT FROM sm.source"""
    out["chunk_dedup"] = f"""
        WITH base AS (
          SELECT doc_id, {_d_tokens('text')} AS tk
          FROM documents WHERE text IS NOT NULL),
        ch AS (
          SELECT doc_id,
                 list_transform(
                   range(0, CAST(ceil(len(tk) / 8.0) AS INT)),
                   i -> array_to_string(tk[i*8+1 : i*8+8], ' ')) AS cl
          FROM base),
        u AS (
          SELECT doc_id AS k, generate_subscripts(cl, 1) - 1 AS pos,
                 unnest(cl) AS line
          FROM ch),
        w AS (
          SELECT line, k AS wk, pos AS wpos FROM u
          QUALIFY row_number() OVER (PARTITION BY line
                                     ORDER BY k, pos) = 1),
        kept AS (
          SELECT u.k, u.pos, u.line FROM u
          JOIN w ON u.line = w.line AND u.k = w.wk AND u.pos = w.wpos),
        reb AS (
          SELECT k, string_agg(line, ' ' ORDER BY pos) AS td
          FROM kept GROUP BY k)
        SELECT d.doc_id,
               md5(CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(r.td, '') END) AS fp,
               length(CASE WHEN d.text IS NULL THEN NULL
                           ELSE coalesce(r.td, '') END) AS n
        FROM documents d LEFT JOIN reb r ON d.doc_id = r.k"""
    out["incremental_exact"] = f"""
        WITH old AS (
          SELECT DISTINCT {_d_fingerprint('text')} AS fp
          FROM documents
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
            AND text IS NOT NULL),
        batch AS (
          SELECT * FROM documents
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'),
        w AS (
          SELECT {_d_fingerprint('text')} AS fp, min(doc_id) AS k
          FROM batch WHERE text IS NOT NULL GROUP BY 1),
        dedup AS (
          SELECT b.* FROM batch b
          LEFT JOIN w ON {_d_fingerprint('b.text')} = w.fp
          WHERE b.text IS NULL OR b.doc_id = w.k)
        SELECT d.doc_id, d.lang, d.n_chars FROM dedup d
        WHERE d.text IS NULL
           OR {_d_fingerprint('d.text')} NOT IN (SELECT fp FROM old)"""
    from validatelite_spark.functions.urls import duckdb_canonical_url_sql
    _canon = duckdb_canonical_url_sql("url")
    out["canonical_urls"] = f"""
        WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url
                   FROM documents)
        SELECT doc_id, {_canon} AS canonical FROM u"""
    out["url_decontaminate"] = f"""
        WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url
                   FROM documents),
        c AS (SELECT doc_id, url, {_canon} AS cu FROM u),
        b AS (SELECT DISTINCT cu FROM c WHERE doc_id % 10 = 0)
        SELECT doc_id, url FROM c
        WHERE cu NOT IN (SELECT cu FROM b)"""
    out["url_dedup"] = f"""
        WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url
                   FROM documents),
        c AS (SELECT doc_id, url, {_canon} AS cu FROM u),
        w AS (SELECT cu, min(doc_id) AS k FROM c GROUP BY cu)
        SELECT c.doc_id, c.url
        FROM c JOIN w ON c.cu = w.cu AND c.doc_id = w.k"""
    out["curation_end_to_end"] = _curation_oracle()
    out["curation_decontaminated"] = _curation_decon_oracle()
    out["semantic_dedup"] = _semdedup_lsh_oracle()
    out["semantic_dedup_kmeans"] = _semdedup_kmeans_oracle()
    out["dsir_weights"] = _dsir_oracle(sample=False)
    out["dsir_sample"] = _dsir_oracle(sample=True)
    out["mixture_sample"] = _mixture_oracle()
    out["pack_sequences"] = _pack_oracle(stats=False)
    out["packing_stats"] = _pack_oracle(stats=True)
    out["rule_overlap"] = _overlap_oracle(marginals=False)
    out["rule_marginals"] = _overlap_oracle(marginals=True)
    out["drift_report"] = _drift_oracle()
    out["categorical_drift"] = _categorical_drift_oracle()
    out["blocklist_filter"] = _blocklist_oracle()
    out["warc_scan"] = _warc_oracle()
    out["centroid_similarity"] = _centroid_similarity_oracle()
    out["langid_eval"] = _langid_eval_oracle()
    out["curation_funnel"] = _curation_funnel_oracle()
    out["winnow_pairs"] = _WINNOW_ORACLE
    out["containment_pairs"] = _CONTAINMENT_ORACLE
    out["vocab_coverage"] = _VOCAB_COVERAGE_ORACLE
    out["soft_sample"] = _soft_sample_oracle()
    out["contamination_provenance"] = _PROVENANCE_ORACLE
    out["host_edges"] = _HOST_EDGES_ORACLE
    out["dedup_census"] = f"""
        WITH s AS (
          SELECT group_id, count(*) AS cluster_size
          FROM ({_CC_ORACLE.format(jaccard=_JACCARD_ORACLE)}) cc
          GROUP BY group_id
        )
        SELECT cluster_size, count(*) AS n_clusters,
               cluster_size * count(*) AS n_docs
        FROM s GROUP BY cluster_size ORDER BY cluster_size"""
    out["calibration_curve"] = _calib_curve_oracle()
    out["calibration_ece"] = _calib_ece_oracle()
    out["shard_assign"] = _SHARD_ASSIGN_ORACLE
    out["shard_manifest"] = _SHARD_MANIFEST_ORACLE
    out["shard_verify"] = _SHARD_VERIFY_ORACLE
    out["embedding_decontaminate"] = _EMB_DECON_KEEP_ORACLE
    out["embedding_decon_report"] = _EMB_DECON_REPORT_ORACLE
    out["bloom_probe"] = _BLOOM_PROBE_ORACLE
    out["bloom_stats"] = _BLOOM_STATS_ORACLE
    out["intra_doc_line_dedup"] = _INTRA_LINE_ORACLE
    out["split_summary"] = _SPLIT_SUMMARY_ORACLE
    out["split_leakage"] = _SPLIT_LEAKAGE_ORACLE
    out["exact_substring_pairs"] = _SUBSTR_PAIRS_ORACLE
    out["duplicate_spans"] = _SUBSTR_SPANS_ORACLE
    out["substring_scrub"] = _SUBSTR_SCRUB_ORACLE
    out["dedup_eval"] = _dedup_eval_oracle()
    out["snapshot_delta"] = _snapshot_delta_oracle()
    out["fineweb_signals"] = _fineweb_oracle()
    out["profile_table"] = _profile_oracle()
    out["domain_pagerank"] = _pagerank_oracle()
    out["domain_top_terms"] = _domain_top_terms_oracle()
    out["ccnet_buckets"] = _ccnet_buckets_oracle()
    out["bpe_pair_counts"] = _bpe_pairs_oracle()
    out["pipeline_keep_sql"] = _pipeline_keep_sql_oracle()
    return out
