"""The shared co-occurrence primitive (``dedup._cooccurrence``) as seen
through its drop-cap callers: each leaves only its own base table
persisted, and dropping an over-cap group is always reported. Every
operator that caches an intermediate is released by
``spark.catalog.clearCache()``."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from validatelite_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from validatelite_spark.operators.dsir import dsir_weights
from validatelite_spark.operators.keywords import domain_top_terms
from validatelite_spark.operators.rollup import time_rollup
from validatelite_spark.operators.substrings import exact_substring_pairs
from validatelite_spark.operators.winnowing import winnow_pairs
from validatelite_spark.pipeline.curation import curate

N_DOCS = 10

# n=3 grams everywhere (winnowing with window=1 keeps every gram), so
# "common phrase here" is the one gram shared by every document; every
# other gram contains a per-document word
OPERATORS = {
    "ngram_jaccard_pairs": lambda df, **kw: ngram_jaccard_pairs(
        df, threshold=0.01, **kw),
    "winnow_pairs": lambda df, **kw: winnow_pairs(
        df, n=3, window=1, min_shared=1, **kw),
    "exact_substring_pairs": lambda df, **kw: exact_substring_pairs(
        df, n=3, min_words=3, **kw),
}


@pytest.fixture(scope="module")
def hot_docs(spark):
    rows = [(i, f"u{i}a u{i}b common phrase here v{i}a v{i}b")
            for i in range(N_DOCS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def new_persisted(spark):
    """Ids of RDDs persisted during the test; released afterwards."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    yield lambda: set(jsc.getPersistentRDDs().keys()) - before
    held = jsc.getPersistentRDDs()
    for rdd_id in set(held.keys()) - before:
        held[rdd_id].unpersist(False)


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_leaves_only_its_base_table_persisted(hot_docs, op, new_persisted):
    OPERATORS[op](hot_docs).collect()
    assert len(new_persisted()) == 1


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_over_cap_group_always_reported(hot_docs, op, new_persisted,
                                        caplog):
    with caplog.at_level(logging.WARNING, logger="validatelite_spark"):
        rows = OPERATORS[op](hot_docs, df_cap=N_DOCS - 1).collect()
    warned = [r.getMessage() for r in caplog.records
              if r.name.startswith("validatelite_spark")
              and r.levelno == logging.WARNING]
    assert len(warned) == 1, warned
    assert warned[0].startswith(f"{op}: dropped 1 ")
    # the dropped phrase was the only link between documents
    assert rows == []


#: every operator that caches an intermediate, over the documents table
CACHING = {
    **OPERATORS,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "simhash_pairs": simhash_pairs,
    "domain_top_terms": domain_top_terms,
    "dsir_weights": lambda docs: dsir_weights(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1)),
    "time_rollup": lambda docs: time_rollup(docs.select(
        F.timestamp_seconds(F.col("doc_id") * 3600).alias("ts"),
        F.col("n_chars").alias("value"))),
    "curate": lambda docs: curate(
        docs.sparkSession, docs, 3000,
        benchmark_texts=docs.limit(5).select("doc_id", "text")),
}


@pytest.mark.parametrize("op", sorted(CACHING))
def test_clear_cache_releases_everything(spark, sf_dir, op,
                                         new_persisted):
    CACHING[op](spark.read.parquet(f"{sf_dir}/documents.parquet")).collect()
    assert new_persisted()
    spark.catalog.clearCache()
    assert not new_persisted()
