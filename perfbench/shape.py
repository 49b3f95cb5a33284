#!/usr/bin/env python3
"""Shape of a ``documents`` table as the pair-expansion leaves see it.

    python3 perfbench/shape.py PATH.parquet [PATH.parquet ...]
    python3 perfbench/shape.py --generate SEED [--rows N]

prints, per table, the figures that decide how much work
``ngram_jaccard_pairs`` does: words per document, distinct words, the
word-trigram document-frequency histogram, the candidate pairs the
expansion emits (sum of C(df, 2) over trigrams), the distinct pairs
that share a trigram, the pairs at Jaccard >= 0.5, and the exact
duplicate share. ``--generate`` describes the benchmark's generated
table for a seed, so it can be set beside a reference table.

``jaccard_pairs`` is also the benchmark's fast reference answer for the
``ngram_jaccard_pairs`` leaf: the registry's DuckDB oracle computes the
same pairs, but re-tokenizes each document once per shingle, which
costs about 30 s on a 5,000-document table.
"""

from __future__ import annotations

import argparse
import collections
import json
import re
import statistics

import numpy as np

_SPLIT = re.compile(r"[ \t\n\r\f\v]+")  # RE2's \s, as the oracle splits


def shingle_sets(texts, n: int = 3) -> list[set[str] | None]:
    """Distinct word n-grams per text, tokenized like the oracle
    (``trim(lower(text))`` split on whitespace); None below n words."""
    out = []
    for text in texts:
        words = [w for w in _SPLIT.split(text.lower().strip()) if w]
        if len(words) < n:
            out.append(None)
            continue
        out.append({" ".join(words[i:i + n])
                    for i in range(len(words) - n + 1)})
    return out


def _common_counts(sets) -> tuple[np.ndarray, ...]:
    """Every pair of documents that shares a shingle, with how many:
    (doc a, doc b, shared) arrays with a < b, and each shingle's
    document frequency. Postings are sorted by (shingle, doc), so the
    k-th pair of a shingle is two postings k apart in the same run."""
    ids: dict[str, int] = {}
    sh, doc = [], []
    for i, s in enumerate(sets):
        for g in s or ():
            sh.append(ids.setdefault(g, len(ids)))
            doc.append(i)
    sh, doc = np.asarray(sh, np.int64), np.asarray(doc, np.int64)
    order = np.lexsort((doc, sh))
    sh, doc = sh[order], doc[order]
    dfs = np.bincount(sh, minlength=len(ids))
    codes = []
    for k in range(1, int(dfs.max(initial=1))):
        same = sh[:-k] == sh[k:]
        codes.append(doc[:-k][same] * len(sets) + doc[k:][same])
    pairs, common = np.unique(np.concatenate(codes or [doc[:0]]),
                              return_counts=True)
    return pairs // len(sets), pairs % len(sets), common, dfs


def _pairs(keys, sets, counts, threshold: float) -> list[tuple]:
    a, b, common, _ = counts
    size = np.array([len(s or ()) for s in sets])
    jac = common / (size[a] + size[b] - common) + 1e-9
    out = []
    for i in np.flatnonzero(jac >= threshold - 1e-6):
        j = round(float(jac[i]), 6)
        if j >= threshold:
            ka, kb = sorted((keys[a[i]], keys[b[i]]))
            out.append((ka, kb, j))
    return out


def jaccard_pairs(keys, texts, n: int = 3,
                  threshold: float = 0.5) -> list[tuple]:
    """(id1, id2, jaccard) with id1 < id2 for every pair of documents
    whose word n-gram sets have Jaccard >= ``threshold`` (rounded to 6
    places after adding 1e-9, as the oracle does)."""
    sets = shingle_sets(texts, n)
    return _pairs(keys, sets, _common_counts(sets), threshold)


def describe(keys, texts) -> dict:
    words = [len([w for w in _SPLIT.split(t.lower().strip()) if w])
             for t in texts]
    vocab = {w for t in texts for w in _SPLIT.split(t.lower().strip()) if w}
    sets = shingle_sets(texts)
    counts = _common_counts(sets)
    dfs = counts[3]
    hist = collections.Counter(
        int(d) if d < 5 else int(5 * (d // 5)) for d in dfs)
    rows = len(texts)
    cand = int(sum(dfs * (dfs - 1) // 2))
    return {
        "rows": rows,
        "words_per_doc": {"mean": round(statistics.mean(words), 1),
                          "min": min(words), "max": max(words)},
        "distinct_words": len(vocab),
        "distinct_trigrams": len(dfs),
        "trigram_df": {"mean": round(float(dfs.mean()), 2),
                       "max": int(dfs.max()),
                       "histogram": dict(sorted(hist.items()))},
        "candidate_pairs": cand,
        "candidate_pairs_per_doc": round(cand / rows, 1),
        "cooccurring_pairs": len(counts[2]),
        "pairs_jaccard_0.5": len(_pairs(keys, sets, counts, 0.5)),
        "exact_dup_share": round(1 - len(set(texts)) / rows, 4),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="*")
    ap.add_argument("--generate", type=int, metavar="SEED")
    ap.add_argument("--rows", type=int, default=5000)
    args = ap.parse_args()
    import pyarrow.parquet as pq

    tables = [(p, pq.read_table(p, columns=["doc_id", "text"]))
              for p in args.paths]
    if args.generate is not None:
        import os
        import tempfile

        from workloads import make_documents

        with tempfile.TemporaryDirectory(dir=".") as tmp:
            path = os.path.join(tmp, "documents.parquet")
            make_documents(path, args.rows, args.generate)
            tables.append((f"generated seed {args.generate}",
                           pq.read_table(path, columns=["doc_id", "text"])))
    for name, t in tables:
        print(json.dumps({"table": name, **describe(
            t.column("doc_id").to_pylist(), t.column("text").to_pylist())}))


if __name__ == "__main__":
    main()
