"""The one word tokenizer (functions/textquality.py): the Column side
(``tokens``), the Python side (``words``) and the DuckDB oracle fragment
(``__spark_entry__._d_tokens``) give the same words, and no other
module carries its own copy of the rule."""

import os
import re

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import tokens, words

_PKG = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "validatelite_spark")


def test_tokens_words_and_duckdb_agree(spark, edge_ws_texts):
    import __spark_entry__ as entry

    texts = edge_ws_texts + ["\nhello world foo", "UPPER Case\t",
                             "   ", ""]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    col = {r["i"]: r["w"] for r in
           df.select("i", tokens(F.col("text")).alias("w")).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(texts)),
                                    "text": texts}))
    duck = dict(con.sql(
        f"SELECT i, {entry._d_tokens('text')} FROM t").fetchall())
    for i, t in enumerate(texts):
        assert col[i] == words(t) == duck[i], repr(t)
    assert words("\nhello world foo") == ["hello", "world", "foo"]
    assert words("a\u00a0b c") == ["a\u00a0b", "c"]
    # Java \s has the vertical tab (DuckDB's RE2 \s does not)
    vt = spark.createDataFrame([("a\x0bb\x0b",)], "text string")
    assert vt.select(tokens(F.col("text"))).first()[0] \
        == words("a\x0bb\x0b") == ["a", "b"]


def test_one_copy_of_the_token_rule():
    """A whitespace split, a Java-\\s regex or a spelled-out Java \\s
    set outside textquality (and the independent pandas reference) is a
    second tokenizer."""
    pat = re.compile(r'_WS_ASCII|s\+"|\\t\\n\\x0b')
    hits = set()
    for root, _, files in os.walk(_PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    if pat.search(fh.read()):
                        hits.add(os.path.relpath(path, _PKG))
    assert hits == {os.path.join("functions", "textquality.py"),
                    os.path.join("pipeline", "reference_impl.py")}
    with open(os.path.join(_PKG, "functions", "bpe.py"),
              encoding="utf-8") as fh:
        assert ".split()" not in fh.read()
