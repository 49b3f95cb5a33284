from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for tests


@pytest.fixture(scope="session")
def spark():
    from validatelite_spark.session import get_spark

    s = get_spark("vlite-spark-tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


#: Whitespace edge cases of the one token rule (``textquality.tokens`` /
#: ``words``): leading and trailing Java-\s runs, which Spark's ``trim``
#: (U+0020 only) leaves in place, and a non-ASCII space (U+00A0) that
#: is NOT a separator. Each has at least 8 tokens and one has repeats.
EDGE_WS_TEXTS = [
    "\nzeta eta theta iota kappa lambda mu nu",
    "xi omicron pi rho sigma tau upsilon phi\r\n",
    "a\u00a0b c d e f g h i",
    "\t\na b a b a b a b \f",
]


@pytest.fixture(scope="session")
def edge_ws_texts():
    return list(EDGE_WS_TEXTS)


@pytest.fixture(scope="session")
def edge_ws_docs(spark):
    """(doc_id long, text) rows 9001.. of ``EDGE_WS_TEXTS`` — union them
    into a corpus to put the edge cases through a parity test."""
    return spark.createDataFrame(
        [(9001 + i, t) for i, t in enumerate(EDGE_WS_TEXTS)],
        "doc_id long, text string")
