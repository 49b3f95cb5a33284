#!/usr/bin/env python3
"""Cluster entrypoint for end-to-end corpus curation.

Submitted via ``scripts/submit_job.sh`` (swap the job path), or run
directly for local smoke tests. On a cluster add
``--conf spark.checkpoint.dir=<shared-FS path>`` so iterative operators
checkpoint reliably (``session.checkpoint``); the cached intermediates
of ``curate`` are released by ``spark.catalog.clearCache()``. The full
training-data chain over a Common-Crawl-shaped table (BASELINE.json
input_hint — url/text/lang):

1. canonical-URL dedup (``operators/dedup.url_dedup``) when the input
   has a ``url`` column — the crawl pipeline's first dedup stage;
2. exact-dedup → quality-filter → per-language token budget
   (``pipeline/curation.curate`` — dedup runs physically first, see
   its commutation note);
3. write the selected corpus + a one-row summary table.

Args: INPUT OUTPUT TOKEN_BUDGET [allowed_langs csv] [key_col]
      [lang_col] [token_col] [benchmark_urls_path] [benchmark_texts_path]
      [shard_tokens]

``shard_tokens`` (optional, ``-`` to skip): when set, the selected
corpus is DELIVERED as token-balanced shards instead of a flat parquet
dir — documents in deterministic md5 shuffle order (training order),
cut every ``shard_tokens`` tokens (``operators/shards.assign_shards``),
one file per ``OUTPUT/shard_id=N/``, plus a verifiable manifest
(doc/token counts + order-independent checksum per shard) at
``OUTPUT_manifest``. The manifest checksum is keyed on ``key_col``; with
a synthesized key the consumer re-derives it as ``md5(url \\x01 text)``.

``benchmark_urls_path`` / ``benchmark_texts_path`` (optional): eval-set
decontamination legs (VERDICT r4 #7) — a table with a ``url`` column
whose canonical forms are dropped up front, and a corpus with
(key_col, text) whose word-8-gram overlaps are anti-joined after the
keep filter (``pipeline/curation.curate``). Pass ``-`` to skip one
while setting the other.

``token_col`` defaults to ``n_chars`` when present, else a
whitespace token count is derived.

``key_col`` must identify rows UNIQUELY — both dedup stages keep every
row that ties the min-struct winner, so a non-unique key (``url`` in a
real crawl: the same page re-fetched across snapshots) would let exact
re-fetches survive the whole chain and double-count against the token
budget (ADVICE r4). Default when no key_col is given: use ``doc_id``
when present; otherwise collapse exact (url, text) re-fetches with a
``dropDuplicates`` (content-identical rows — any survivor is the same
document) and synthesize a deterministic ``md5(url \\x01 text)`` key,
which is unique after that collapse. An EXPLICIT key_col is trusted
as-is (and validated to exist)."""

from __future__ import annotations

import os
import sys

# direct `python jobs/curate_job.py` from anywhere: make the repo
# importable (spark-submit ships the package zip via --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main() -> int:
    input_path, output_path = sys.argv[1], sys.argv[2]
    token_budget = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
    langs = tuple((sys.argv[4] if len(sys.argv) > 4 and sys.argv[4] != "-"
                   else "en").split(","))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("vlite-spark-curate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from validatelite_spark.functions.textquality import token_count
    from validatelite_spark.operators.dedup import url_dedup
    from validatelite_spark.pipeline.curation import curate
    from validatelite_spark.sources.reader import read_source

    df = read_source(spark, input_path)
    n_in = df.count()
    synth_key = False
    # every optional positional accepts '-' for "use the default", so
    # later args (e.g. shard_tokens) are reachable without the earlier
    if len(sys.argv) > 5 and sys.argv[5] != "-":
        key_col = sys.argv[5]
        if key_col not in df.columns:
            raise SystemExit(f"key_col {key_col!r} not in input columns "
                             f"{df.columns}")
    elif "doc_id" in df.columns:
        key_col = "doc_id"
    elif "url" in df.columns:
        # no unique key in the input: collapse exact re-fetches of the
        # same url (content-identical rows), then a deterministic
        # md5(url || text) key is unique — see module docstring
        df = df.dropDuplicates(["url", "text"])
        df = df.withColumn("__doc_key", F.md5(F.concat_ws(
            "\x01", F.coalesce(F.col("url"), F.lit("")),
            F.coalesce(F.col("text"), F.lit("")))))
        key_col, synth_key = "__doc_key", True
    else:
        key_col = df.columns[0]
    lang_col = (sys.argv[6] if len(sys.argv) > 6 and sys.argv[6] != "-"
                else "lang")
    token_col = (sys.argv[7] if len(sys.argv) > 7 and sys.argv[7] != "-"
                 else "n_chars" if "n_chars" in df.columns else "__tokens")

    if "url" in df.columns:
        df = url_dedup(df, "url", key_col)
    if token_col == "__tokens":
        df = df.withColumn("__tokens", token_count(F.col("text")))

    bench_urls = bench_texts = None
    if len(sys.argv) > 8 and sys.argv[8] != "-":
        bench_urls = read_source(spark, sys.argv[8])
    if len(sys.argv) > 9 and sys.argv[9] != "-":
        bench_texts = read_source(spark, sys.argv[9])
        if key_col not in bench_texts.columns:
            # contaminated_docs shingles the benchmark under the same
            # id column; any unique id works — synthesize one
            bench_texts = bench_texts.withColumn(
                key_col, F.md5(F.coalesce(F.col("text"), F.lit(""))))

    shard_tokens = (int(sys.argv[10])
                    if len(sys.argv) > 10 and sys.argv[10] != "-"
                    else None)

    out = curate(spark, df, token_budget, text_col="text",
                 key_col=key_col, lang_col=lang_col,
                 token_col=token_col, allowed_langs=langs,
                 benchmark_urls=bench_urls, benchmark_texts=bench_texts)
    if shard_tokens:
        from validatelite_spark.operators.shards import (
            assign_shards, shard_manifest, write_shards)
        assigned = assign_shards(out, shard_tokens, token_col, key_col)
        # the delivery format keeps the key and token columns (renamed
        # from their internal names) — the manifest is unverifiable
        # without them
        key_out, token_out = key_col, token_col
        if token_col == "__tokens":
            assigned = assigned.withColumnRenamed("__tokens", "n_tokens")
            token_out = "n_tokens"
        if synth_key:
            assigned = assigned.withColumnRenamed("__doc_key", "doc_key")
            key_out = "doc_key"
        write_shards(assigned, output_path)
        # manifest from the WRITTEN shards — verifies what's on disk
        # and never recomputes the curation chain a second time
        shard_manifest(spark.read.parquet(output_path),
                       token_out, key_out).write \
            .mode("overwrite").parquet(output_path.rstrip("/")
                                       + "_manifest")
    else:
        out = out.drop("__tokens")
        if synth_key:
            out = out.drop("__doc_key")
        out.write.mode("overwrite").parquet(output_path)

    kept = spark.read.parquet(output_path).count()
    print(f"[curate] kept {kept}/{n_in} docs (budget {token_budget} "
          f"per lang in {langs})")
    spark.createDataFrame(
        [(n_in, kept, token_budget, ",".join(langs))],
        "docs_in long, docs_kept long, token_budget long, langs string"
    ).write.mode("overwrite").parquet(output_path.rstrip("/") + "_summary")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
