"""Distributed BPE tokenizer training + encoding (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units").

Training a tokenizer is a training-data-pipeline job: the corpus the
quality filter keeps is exactly what the BPE merges should be learned
from. The classic algorithm iterates: count adjacent symbol pairs,
merge the most frequent pair everywhere, repeat. The key scale
observation (same as the original implementation): merges operate on
the DISTINCT-WORD table weighted by word frequency, not on the
corpus — one corpus-wide scan builds ``(word, freq)`` (a groupBy —
|vocab| rows, ~1e8 at web scale vs 1e12 docs), and every merge
iteration is a cheap pass over that table.

Per-iteration shape: symbol sequences live as space-joined strings
(``"h e l l o </w>"``); pair extraction is split + transform +
explode over the word table (higher-order functions are fine here —
this is NOT the corpus-wide hot path, see CLAUDE.md rule 3); the
argmax pair is ONE collected row (count desc, pair asc tie-break —
deterministic at any partitioning); applying the merge is a single
``regexp_replace`` with boundary lookarounds (left-to-right
non-overlapping, exactly BPE's scan order). The word table is
re-persisted every ``checkpoint_every`` merges to keep the lineage
(a chain of regexp_replace) from growing unboundedly.

At true web scale one trains on a deterministic hash-sample of the
corpus (tokenizers saturate long before 1e12 docs — standard
practice); compose with ``sampling.hash_sample`` for that.

Encoding (``bpe_encode``) applies learned merges to new text with
the standard rank-priority algorithm in ONE Arrow-batched pandas UDF
(per-word memoization inside the batch — the Zipf distribution makes
the cache hit rate extreme).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import tokens, words

#: end-of-word marker symbol (never a space — symbols are
#: space-separated)
EOW = "</w>"


def _java_quote(sym: str) -> str:
    """Literal-quote a symbol for a Java regex (\\Q..\\E; the only
    char needing extra care is an embedded \\E, impossible here since
    symbols never contain backslash-E sequences from natural text —
    guarded anyway)."""
    return "\\Q" + sym.replace("\\E", "\\\\E") + "\\E"


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over ``textquality.tokens`` from one corpus scan.
    The ONLY corpus-wide pass in BPE training."""
    w = F.explode(tokens(F.col(text_col))).alias("word")
    return df.select(w).groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _initial_seq(word: Column) -> Column:
    """'hello' -> 'h e l l o </w>' (code-point split; Java regex '.'
    is supplementary-aware, matching DuckDB's char-based substr)."""
    return F.concat(F.regexp_replace(word, "(.)", "$1 "), F.lit(EOW))


def pair_counts(words: DataFrame) -> DataFrame:
    """(pair, cnt) of adjacent symbol pairs over the current ``seq``
    column (falls back to the initial char sequence when absent),
    weighted by word freq. Pair is the space-joined symbol pair."""
    if "seq" not in words.columns:
        words = words.withColumn("seq", _initial_seq(F.col("word")))
    a = F.split(F.col("seq"), " ")
    pairs = F.expr(
        "transform(sequence(0, size(__a) - 2), "
        "i -> concat(element_at(__a, i + 1), ' ', "
        "element_at(__a, i + 2)))")
    return (words.withColumn("__a", a)
            .filter(F.size("__a") >= 2)
            .select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair").agg(F.sum("freq").alias("cnt")))


def apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Merge every boundary-delimited occurrence of 'left right' in
    ``seq`` — left-to-right, non-overlapping (Java regexp_replace
    scan order == the reference BPE behavior)."""
    pat = (f"(^|(?<= )){_java_quote(left)} {_java_quote(right)}"
           f"((?= )|$)")
    rep = (left + right).replace("\\", "\\\\").replace("$", "\\$")
    return words.withColumn(
        "seq", F.regexp_replace(F.col("seq"), pat, rep))


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    min_count: int = 1,
    checkpoint_every: int = 8,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` merges; returns [(left, right, count)]
    in merge order. Stops early when no pair reaches ``min_count``.
    Driver traffic per iteration: ONE row (the argmax pair)."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    words = (word_frequencies(df, text_col)
             .withColumn("seq", _initial_seq(F.col("word"))))
    words = words.cache()
    merges: list[tuple[str, str, int]] = []
    try:
        for it in range(num_merges):
            top = (pair_counts(words)
                   .orderBy(F.desc("cnt"), F.asc("pair"))
                   .limit(1).collect())
            if not top or top[0]["cnt"] < min_count:
                break
            left, right = top[0]["pair"].split(" ", 1)
            merges.append((left, right, int(top[0]["cnt"])))
            nxt = apply_merge(words, left, right)
            if (it + 1) % checkpoint_every == 0:
                # re-materialize: later rounds read the cached table
                # instead of replaying the growing regexp_replace chain
                nxt = nxt.cache()
                nxt.count()
                words.unpersist()
            words = nxt
    finally:
        words.unpersist()
    return merges


def bpe_encode(text: Column, merges: list[tuple[str, str, int]]) -> Column:
    """array<string> of BPE tokens for ``text`` under ``merges`` —
    the standard rank-priority encoder in one Arrow-batched pandas
    UDF with per-batch word memoization. Words are ``textquality.words``,
    the same split ``word_frequencies`` trains on."""
    ranks = {(left_, r): i for i, (left_, r, _) in enumerate(merges)}

    def encode_word(word: str, cache: dict) -> list:
        hit = cache.get(word)
        if hit is not None:
            return hit
        syms = list(word) + [EOW]
        while len(syms) > 1:
            best, bi = None, -1
            for i in range(len(syms) - 1):
                rk = ranks.get((syms[i], syms[i + 1]))
                if rk is not None and (best is None or rk < best):
                    best, bi = rk, i
            if best is None:
                break
            syms[bi:bi + 2] = [syms[bi] + syms[bi + 1]]
        cache[word] = syms
        return syms

    @F.pandas_udf("array<string>")
    def enc(s: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for t in s:
            if t is None:
                out.append(None)
                continue
            toks: list = []
            for w in words(t):
                toks.extend(encode_word(w, cache))
            out.append(toks)
        return pd.Series(out)

    return enc(text)
