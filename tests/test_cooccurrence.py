"""The shared co-occurrence primitive (``dedup._cooccurrence``) as seen
through its drop-cap callers: each leaves only its own base table
persisted, and dropping an over-cap group is always reported."""

from __future__ import annotations

import logging

import pytest

from validatelite_spark.operators.dedup import ngram_jaccard_pairs
from validatelite_spark.operators.substrings import exact_substring_pairs
from validatelite_spark.operators.winnowing import winnow_pairs

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
