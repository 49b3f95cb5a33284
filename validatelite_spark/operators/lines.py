"""Corpus-wide line-level deduplication (the C4 recipe).

C4 (Raffel et al. 2020, §2.2) removes every occurrence-but-one of each
three-sentence span across the WHOLE corpus; modern web pipelines apply
the same rule at line granularity ("remove duplicated lines, keep the
first occurrence"). The reference engine has no analogue (its closest
surface is UNIQUE's duplicate counting, core/executors/uniqueness —
reference: core/executors/uniqueness_executor.py) — this is a
training-data operator.

Scale shape (100 TB): one posexplode (doc → lines), a winner-per-line
``groupBy(line).agg(min(struct(k, pos)))`` — the PARTIAL aggregate runs
map-side, so a cookie-banner line occurring in 10^9 docs collapses to
one row per map task BEFORE the shuffle — a join back on the line to
keep only each line's winning occurrence, and one groupBy(doc) to
reassemble kept lines in order. The join's residual hot-key partition
(every occurrence of the boilerplate line lands in one reducer) is
AQE-splittable (skewed-join handling can replicate the 1-row-per-key
build side across splits); a ``Window.partitionBy(line)`` — the shape
this replaced — is a single unsplittable task per hot line and was the
round-3 verdict's top scale-killer. Line order inside a doc is restored
via ``array_sort`` over (pos, line) structs — no window anywhere.
Deterministic: the kept occurrence is the (min doc key, min position)
one at any partitioning/cluster size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import words


def _first_occurrence_rebuild(df, units, dedupable, join_sep,
                              text_col, key_col, out_col) -> DataFrame:
    """Shared core of ``line_dedup`` / ``chunk_dedup``: given the
    exploded (k, pos, line) unit table, keep each unit's first
    occurrence (min-struct winner, map-side partial agg — the round-3
    hot-key fix) and reassemble docs in order. NULL text → NULL out;
    fully-deduped docs → ''."""
    winners = (units.filter(dedupable)
               .groupBy("line")
               .agg(F.min(F.struct("k", "pos")).alias("__w")))
    kept = (units
            .join(winners, "line", "left")
            .filter(~dedupable
                    | F.struct("k", "pos").eqNullSafe(F.col("__w")))
            .drop("__w"))
    rebuilt = (
        kept.groupBy("k")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line")))
             .alias("parts"))
        .select(
            "k",
            # parts.line = GetArrayStructFields: native elementwise
            # field extraction, order-preserving — NOT F.transform,
            # which is CodegenFallback in this corpus-wide projection
            # (CLAUDE.md rule 3)
            F.concat_ws(join_sep, F.col("parts.line"))
            .alias("__dedup")))
    return (df.select(key_col,
                      F.col(text_col).isNull().alias("__was_null"))
            .join(rebuilt.withColumnRenamed("k", key_col), key_col, "left")
            .select(
                key_col,
                # NULL in → NULL out; every-unit-deduped → empty string
                F.when(F.col("__was_null"), F.lit(None).cast("string"))
                .otherwise(F.coalesce(F.col("__dedup"), F.lit("")))
                .alias(out_col)))


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    split_pattern: str = "\n",
    join_sep: str = "\n",
    min_line_chars: int = 0,
) -> DataFrame:
    """Remove duplicate lines corpus-wide, keeping the FIRST occurrence
    (min ``key_col``, then min position within the doc).

    Output: one row per input doc — ``(key_col, <text_col>_dedup)`` with
    surviving lines rejoined by ``join_sep`` in original order. A doc
    whose every line occurs earlier elsewhere keeps an empty string;
    NULL text stays NULL. ``min_line_chars``: lines shorter than this
    are passed through untouched (never deduped — the C4 guard against
    nuking short common lines like list bullets); 0 dedups everything.

    ``split_pattern`` is a Java regex (default: newline). With a pattern
    that never matches, each doc is a single line and this degrades to
    corpus-wide exact text dedup that BLANKS later duplicates instead of
    dropping the rows — the driver query uses exactly that degenerate
    form so the whole first-occurrence machinery is DuckDB-verifiable
    on the single-line documents corpus."""
    nn = df.filter(F.col(text_col).isNotNull())
    lines = nn.select(
        F.col(key_col).alias("k"),
        F.posexplode(F.split(F.col(text_col), split_pattern))
        .alias("pos", "line"))
    dedupable = F.length("line") >= min_line_chars
    return _first_occurrence_rebuild(df, lines, dedupable, join_sep,
                                     text_col, key_col,
                                     f"{text_col}_dedup")


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    window_tokens: int = 50,
    min_tokens: int = 0,
) -> DataFrame:
    """Corpus-wide duplicate-PASSAGE removal: the deduplicating-
    training-data recipe (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better") approximated over aligned
    non-overlapping ``window_tokens``-token chunks instead of a suffix
    array — a duplicated span is removed from every doc but its first
    occurrence (min doc key, then min position), while the surrounding
    unique text SURVIVES (doc-level dedup would drop or keep whole
    docs; this excises the shared passage).

    Approximation contract, stated not hidden: only chunk-ALIGNED
    duplicates are caught (a shared span straddling a chunk boundary in
    one doc but not the other is missed — suffix arrays catch it,
    aligned windows don't), and the rebuilt text is space-joined tokens
    (original whitespace is normalized away). ``min_tokens``: chunks
    shorter than this (the partial tail chunk) pass through undeduped.

    Scale shape: identical to ``line_dedup`` — one explode, winner per
    chunk via a map-side min-struct partial aggregate (a viral passage
    in 10^9 docs collapses before the shuffle), AQE-splittable join
    back, ordered reassembly.

    The chunk array is built in one Arrow batch per task (identical
    strings to the pure-Column transform/slice/concat_ws chain it
    replaced — that chain is CodegenFallback and re-evaluates the
    tokenizer per element, CLAUDE.md rule 3 / BENCH.md lesson 2;
    measured 16.9 s → 4.7 s for the sf1.0 query before the kernel,
    equality pinned in tests/test_lines.py)."""
    from pyspark.sql.functions import pandas_udf

    w = window_tokens

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

    chunks = chunks_arrow(F.col(text_col))
    nn = df.filter(F.col(text_col).isNotNull())
    units = nn.select(
        F.col(key_col).alias("k"),
        F.posexplode(chunks).alias("pos", "line"))
    dedupable = F.size(F.split(F.col("line"), " ")) >= min_tokens
    return _first_occurrence_rebuild(df, units, dedupable, " ",
                                     text_col, key_col,
                                     f"{text_col}_dedup")


# ------------------------------------------------- boilerplate blocklist
def top_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 100,
    min_docs: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-wide most frequent lines → (line, n_docs, occurrences) —
    the line-granularity sibling of ``top_ngrams`` (operators/
    repetition.py) and the MINING half of the boilerplate loop: its
    output is the blocklist ``strip_blocklisted_lines`` and the
    BOILERPLATE rule consume. Same scale shape: one explode, one
    (doc, line) partial-aggregating groupBy, a rollup groupBy(line),
    and a ``TakeOrderedAndProject`` top-k — no global sort, nothing
    collects the full line table. ``min_docs`` prunes the singleton
    tail; ties break by line ascending (deterministic)."""
    lines = (docs.filter(F.col(text_col).isNotNull())
             .select(F.col(id_col).alias("__d"),
                     F.explode(F.split(F.col(text_col), "\n"))
                     .alias("line"))
             .filter(F.length("line") >= min_line_chars))
    per_doc = (lines.groupBy("__d", "line")
               .agg(F.count(F.lit(1)).alias("c")))
    return (per_doc.groupBy("line")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("c").alias("occurrences"))
            .filter(F.col("n_docs") >= min_docs)
            .orderBy(F.desc("occurrences"), F.desc("n_docs"),
                     F.col("line"))
            .limit(k)
            .select("line", "n_docs", "occurrences"))


def strip_blocklisted_lines(
    df: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    join_sep: str = "\n",
) -> DataFrame:
    """Remove every occurrence of a blocklisted line from every doc —
    the APPLY half of the boilerplate loop (``top_lines`` mines the
    blocklist; this stage cleans the corpus with it, the C4 boilerplate
    treatment that line-dedup's ``min_line_chars``/df-cap arguments
    defer to). ``blocklist`` needs a ``line`` column (``top_lines``
    output works as-is; it is top-k bounded, so the anti-join
    broadcasts). Output: (key_col, <text_col>_clean); NULL text stays
    NULL; a doc that was ALL boilerplate keeps an empty string."""
    nn = df.filter(F.col(text_col).isNotNull())
    lines = nn.select(
        F.col(key_col).alias("k"),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("pos", "line"))
    bl = F.broadcast(blocklist.select("line").distinct())
    kept = lines.join(bl, "line", "left_anti")
    rebuilt = (
        kept.groupBy("k")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line")))
             .alias("parts"))
        .select("k", F.concat_ws(join_sep, F.col("parts.line"))
                .alias("__clean")))
    out_col = f"{text_col}_clean"
    return (df.select(key_col,
                      F.col(text_col).isNull().alias("__was_null"))
            .join(rebuilt.withColumnRenamed("k", key_col), key_col,
                  "left")
            .select(
                key_col,
                F.when(F.col("__was_null"), F.lit(None).cast("string"))
                .otherwise(F.coalesce(F.col("__clean"), F.lit("")))
                .alias(out_col)))


def boilerplate_fail(col, params: dict) -> "F.Column":
    """BOILERPLATE rule failure predicate: NULL text fails (completeness
    semantics, like GOPHER/REPETITION — core/rules.py NULL table);
    otherwise fails when more than ``max_frac`` of the doc's lines
    appear in the mined blocklist ``lines`` (a Python list — top-k
    bounded by construction, so the literal array is small).

    Pure Column expression, so it fuses into the merged single-scan
    aggregate; the ``F.filter`` membership count is CodegenFallback
    (CLAUDE.md rule 3) but runs once per rule scan over a k-bounded
    literal array — the same cost class as the UDF-tier rules."""
    lines = list(params["lines"])
    max_frac = float(params.get("max_frac", 0.3))
    if not lines:
        return F.when(col.isNull(), F.lit(True)).otherwise(F.lit(False))
    arr = F.array(*[F.lit(x) for x in lines])
    split_lines = F.split(col, "\n")
    n_block = F.size(F.filter(split_lines,
                              lambda l: F.array_contains(arr, l)))
    frac = n_block / F.size(split_lines)
    return F.when(col.isNull(), F.lit(True)).otherwise(frac > max_frac)


def intra_doc_line_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_chars: int = 1,
    arrow: bool = True,
) -> DataFrame:
    """Strip REPEATED lines within each document (the intra-document
    sibling of the corpus-wide C4 ``line_dedup`` above): keep the first
    occurrence of every line of >= ``min_chars`` characters, keep ALL
    shorter lines (blank separators, bullets) untouched. Output:
    (key, text with survivors joined by newline in original order,
    lines_removed). NULL text passes through NULL.

    The navigation-chrome / template-footer failure mode: sites repeat
    the same nav block every few paragraphs; corpus-wide line dedup
    keeps ONE copy globally (the C4 rule), while this keeps one copy
    PER DOCUMENT — the right scrub when the line is legitimate content
    that a template happens to repeat inside the page.

    Scale shape: embarrassingly parallel — one projection, no shuffle,
    no state beyond a per-document seen-set. ``arrow=True`` is one
    Arrow-batched UDF (O(lines) per doc, CLAUDE.md rule 4); False is
    the pure-Column oracle anchor (index lambda + array_position —
    O(lines^2) per doc, CodegenFallback, exact same semantics as the
    DuckDB replay)."""
    if arrow:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("struct<text:string,removed:long>")
        def dedup(s: pd.Series) -> pd.DataFrame:
            texts, removed = [], []
            for t in s:
                if t is None:
                    texts.append(None)
                    removed.append(0)
                    continue
                seen: set[str] = set()
                out = []
                for ln in t.split("\n"):
                    if len(ln) < min_chars:
                        out.append(ln)
                    elif ln not in seen:
                        seen.add(ln)
                        out.append(ln)
                texts.append("\n".join(out))
                removed.append(t.count("\n") + 1 - len(out))
            return pd.DataFrame({"text": texts, "removed": removed})

        res = dedup(F.col(text_col))
        return df.select(F.col(key_col),
                         res["text"].alias(text_col),
                         res["removed"].alias("lines_removed"))
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda x, i: (F.length(x) < min_chars)
        | (F.array_position(lines, x) == i + 1))
    # the scrubbed text gets a TEMP name first: aliasing it straight to
    # text_col in the same select makes Spark resolve the sibling
    # expression's array_position against the NEW (deduped) array —
    # the self-referencing-alias hazard (removed counts went wrong)
    return (df.select(
        F.col(key_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.array_join(kept, "\n")).alias("__dedup_text"),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(lines) - F.size(kept))
        .cast("long").alias("lines_removed"))
        .withColumnRenamed("__dedup_text", text_col))
