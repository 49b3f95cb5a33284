"""The GOPHER Arrow kernel (``textquality.gopher_counts`` and
``gopher_fail_array``) against its Column form ``gopher_fail``: the same
verdict on Unicode rows where Spark ``lower``/``length`` and pyarrow's
ASCII kernels could part ways, at every ``GOPHER_DEFAULTS`` threshold
and one unit either side, under the defaults and a relaxed parameter
set, and on a sliced Arrow array (non-zero offset)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import (GOPHER_DEFAULTS,
                                                      gopher_counts,
                                                      gopher_fail,
                                                      gopher_fail_array)

#: NULL, empty, a leading \n, the code points ``str.lower`` maps into
#: ASCII (U+0130, U+212A), final sigma, ß, CJK, emoji, é, \x0b/\f, a
#: non-Java space and mixed-case Ü
UNICODE_TEXTS = [
    None, "", "\nthe and of", "\u0130s the \u0130S THE is in",
    "\u212a the and \u212aelvin kelvin", "ΣΑΣ σας the and",
    "Straße STRASSE strasse the of", "中文 the 中 and",
    "\U0001f600 the \U0001f600 and", "é É the and of",
    "a\x0bb\x0cc the and", "Ü ü the and",
    "x\u00a0y the and of", "é café café the and",
    "  the   and  \r\n",
]

STOP = ["the", "and"]


def tok(i: int, length: int) -> str:
    """The ``i``-th distinct ASCII word of ``length`` characters."""
    return (str(i) + "x" * length)[:length]


def words_of(lengths: list[int], stop=STOP) -> list[str]:
    return [*stop, *(tok(i, n) for i, n in enumerate(lengths))]


def min_words(k: int) -> str:
    return " ".join(words_of([5] * (k - 2)))


def max_words(k: int) -> str:
    return " ".join(words_of([7] * (k - 2)))


def mean_len(total: int, n: int = 60) -> str:
    """``n`` words with ``total`` characters, the two stopwords among
    them."""
    rest = total - 6
    base, extra = divmod(rest, n - 2)
    return " ".join(words_of([base + 1] * extra + [base] * (n - 2 - extra)))


def symbols(delta: int, sym: str = "!") -> str:
    """A page whose symbol ratio is 0.10 exactly, then ``delta`` more
    (or fewer) symbols: 9 s = code points before the symbol word."""
    base = " ".join(words_of([5] * 58))
    base += "x" * (-(len(base) + 1) % 9)
    s = (len(base) + 1) // 9
    return base + " " + sym * (s + delta)


def stopwords(k: int) -> str:
    return " ".join(words_of([5] * 60, stop=["THE"] * k))


def distinct(d: int, twins: tuple[str, str] = ()) -> str:
    """100 words with ``d`` distinct ones under Spark ``lower``, and
    ``twins`` (one word to Spark ``lower``, two to ``ascii_lower``)
    among them."""
    others = [tok(i, 5) for i in range(d - 2 - bool(twins))]
    body = [*STOP, *twins]
    return " ".join(body + [others[i % len(others)]
                            for i in range(100 - len(body))])


#: (text, failed under GOPHER_DEFAULTS): each threshold and ± one unit
THRESHOLDS = [
    *[(min_words(k), k < 50) for k in (49, 50, 51)],
    *[(max_words(k), k > 100_000) for k in (99_999, 100_000, 100_001)],
    *[(mean_len(t), t < 180) for t in (179, 180, 181)],
    *[(mean_len(t), t > 600) for t in (599, 600, 601)],
    *[(symbols(d), d > 0) for d in (-1, 0, 1)],
    *[(symbols(d, "é"), d > 0) for d in (-1, 0, 1)],
    *[(symbols(d, "\U0001f600"), d > 0) for d in (-1, 0, 1)],
    *[(stopwords(k), k < 2) for k in (1, 2, 3)],
    *[(distinct(d), d < 20) for d in (19, 20, 21)],
    # twins that only the full lower folds: 20 under ascii_lower, 19
    # under Spark's
    *[(distinct(19, twins), True) for twins in (
        ("étude", "Étude"), ("σας", "ΣΑΣ"),
        ("\u0130x", "i\u0307x"), ("\u212ax", "kx"))],
]

RELAXED = {"min_words": 1, "min_mean_word_len": 0.5,
           "max_symbol_ratio": 0.9, "min_stopword_count": 1,
           "min_distinct_ratio": 0.1}


@pytest.fixture(scope="module")
def texts() -> list:
    return [*UNICODE_TEXTS, *(t for t, _ in THRESHOLDS)]


@pytest.fixture(scope="module")
def column_verdicts(spark, texts) -> dict:
    """``gopher_fail``'s verdict per row, per parameter set."""
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    out = {}
    for name, params in (("defaults", None), ("relaxed", RELAXED)):
        rows = df.select("i", gopher_fail(F.col("text"), params)).collect()
        out[name] = np.array([r[1] for r in sorted(rows)])
    return out


def test_thresholds_sit_on_the_boundary(column_verdicts):
    got = column_verdicts["defaults"][len(UNICODE_TEXTS):]
    assert got.tolist() == [want for _, want in THRESHOLDS]


@pytest.mark.parametrize("params", ["defaults", "relaxed"])
def test_kernel_equals_column_form(texts, column_verdicts, params):
    fail = gopher_fail_array(RELAXED if params == "relaxed" else None)
    want = column_verdicts[params]
    arr = pa.array(texts, pa.string())
    assert fail(gopher_counts(arr)).tolist() == want.tolist()
    sliced = arr.slice(1, len(texts) - 3)
    assert fail(gopher_counts(sliced)).tolist() == want[1:-2].tolist()


def test_counts_of_one_row():
    # NULL, code points, \s, alnum, words, stopwords, distinct
    got = gopher_counts(pa.array(["Été THE the\x0b!", None]))
    assert got[:, 0].tolist() == [0, 13, 3, 7, 4, 2, 3]
    assert got[:, 1].tolist() == [1, 0, 0, 0, 0, 0, 0]


def test_one_verdict_function_per_parameter_set():
    assert gopher_fail_array() is gopher_fail_array(dict(GOPHER_DEFAULTS))
    assert gopher_fail_array(RELAXED) is gopher_fail_array(dict(RELAXED))
    assert gopher_fail_array(RELAXED) is not gopher_fail_array()
