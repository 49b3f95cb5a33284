"""Streaming dedup against a persisted MinHash corpus index — the
rolling-crawl shape: each micro-batch is first near-dup-deduped WITHIN
itself (keep one representative per near-dup component), then checked
against everything already kept (batch or streaming); survivors are
written out AND folded into the index so later batches see them.

``applyInPandasWithState`` (streaming/stateful_dedup.py) handles exact
dedup with in-state fingerprints, but near-dup state (shingle sets)
is far too large for the state store; the index on the shared FS IS the
state. ``foreachBatch`` gives each micro-batch the full batch-DataFrame
API, so the same ``incremental_minhash_pairs`` / ``minhash_lsh_pairs``
operators run unchanged — batch and streaming dedup cannot drift apart.

Exactly-once: foreachBatch replays batches on retry, and plain parquet
appends would double-append. Three layers close that (round-3 verdict
item 8; no transactional table format needed, though Iceberg/Delta
remain the drop-in upgrade):

1. **Batch ledger** — after both appends succeed, a marker file
   ``_batches/<epoch_id>`` is written; a replayed epoch whose marker
   exists is skipped entirely. This removes the common replay (retry
   after full success). Marker IO goes through the Hadoop FileSystem
   API (``sources/fsutil`` — the same client as the parquet writes),
   so the ledger works on ``hdfs://``/``s3a://`` index paths, not just
   a shared POSIX mount (ADVICE r4: ``os.path`` against an object-store
   URI silently wrote a driver-local directory named ``s3a:/…``).
2. **Deterministic content** — the kept set and every appended row are
   pure functions of (batch content, index state); a replay that DOES
   re-append (crash between the appends and the marker) writes
   byte-identical rows, never conflicting ones. (A doc of the batch
   already folded into the index never knocks itself out on replay:
   the cross probe filters ``id1 != id2``.)
3. **Content-idempotent compaction** — ``compact_minhash_index``
   rewrites the index distinct on its natural keys ((k, band, sig) /
   (k, s) / (k, sz)) and ``read_deduped_corpus`` reads the output
   corpus distinct on the doc key, so duplicated appends from layer-2
   replays are erased exactly. Run compaction after a crash-recovery
   (or periodically); reads via ``read_deduped_corpus`` are always
   correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from validatelite_spark.operators.dedup import (dedup_groups,
                                                incremental_minhash_pairs,
                                                keep_representatives,
                                                minhash_index_append,
                                                minhash_lsh_pairs)
from validatelite_spark.session import checkpoint
from validatelite_spark.sources import fsutil


def _marker_path(index_path: str, batch_id: int) -> str:
    # plain '/' join — os.path.join would mangle URI-scheme paths on
    # non-posix separators and the Hadoop Path parser wants '/'
    return f"{index_path.rstrip('/')}/_batches/{batch_id}"


def index_dedup_batch(
    batch: DataFrame,
    index_path: str,
    output_path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.7,
    batch_id: int | None = None,
    within_batch: bool = True,
) -> None:
    """Process ONE micro-batch: dedup within the batch, drop docs
    near-duplicating the index, append survivors to ``output_path`` and
    to the index itself.

    ``within_batch=True`` (default) first removes near-dup pairs INSIDE
    the batch (one representative per connected component — min doc id),
    closing the gap where two near-dups arriving in the same micro-batch
    were both kept and folded into the index permanently (ADVICE r3).

    ``batch_id``: when given (the stream passes foreachBatch's epoch
    id), a ledger marker makes replays of fully-processed batches
    no-ops — see the module docstring's exactly-once contract."""
    spark = batch.sparkSession
    if batch_id is not None and fsutil.exists(
            spark, _marker_path(index_path, batch_id)):
        return
    if within_batch:
        pairs_b = minhash_lsh_pairs(batch, text_col, key_col,
                                    threshold=threshold)
        groups = dedup_groups(pairs_b)
        batch = keep_representatives(batch, groups, key_col)
    pairs = incremental_minhash_pairs(batch, index_path, text_col,
                                      key_col, threshold)
    dup_ids = pairs.select(F.col("id2").alias(key_col)).distinct()
    kept = batch.join(dup_ids, key_col, "left_anti")
    # `kept` feeds TWO writes below; without a materialization the
    # whole candidate join + verify would recompute per write. It is a
    # checkpoint, not a cache(): its plan reads the index, and Spark
    # re-caches every cached plan over a path that is appended to, so
    # the index append would recompute a cached `kept` against the
    # index it is extending.
    kept = checkpoint(kept)
    kept.write.mode("append").parquet(output_path)
    minhash_index_append(kept, index_path, text_col, key_col)
    if batch_id is not None:
        fsutil.mkdirs(spark, f"{index_path.rstrip('/')}/_batches")
        fsutil.write_utf8(spark, _marker_path(index_path, batch_id),
                          "done")


_INDEX_TABLES = ("bands", "shingles", "docs")


def recover_minhash_index(spark: SparkSession, index_path: str) -> None:
    """Repair an index left mid-compaction by a crash. The swap order
    in ``compact_minhash_index`` guarantees every crash window is
    recoverable from what's on disk:

    - ``_<sub>_compacting`` present, ``<sub>`` present → crash before
      the aside-rename: the compacted copy may be partial, the live
      table is intact — drop the tmp.
    - ``<sub>`` MISSING, ``_<sub>_old`` present → crash between the
      aside-rename and the promote: the tmp was fully written (its
      write completed before any rename started), so promote it;
      fall back to restoring ``_old`` if the tmp vanished too.
    - ``<sub>`` present, ``_<sub>_old`` present → crash before the
      final cleanup: just delete ``_old``."""
    base = index_path.rstrip("/")
    for sub in _INDEX_TABLES:
        src = f"{base}/{sub}"
        tmp = f"{base}/_{sub}_compacting"
        old = f"{base}/_{sub}_old"
        if not fsutil.exists(spark, src):
            if fsutil.exists(spark, tmp):
                fsutil.rename(spark, tmp, src)
            elif fsutil.exists(spark, old):
                fsutil.rename(spark, old, src)
        if fsutil.exists(spark, tmp):
            fsutil.delete(spark, tmp)
        if fsutil.exists(spark, old):
            fsutil.delete(spark, old)


def compact_minhash_index(spark: SparkSession, index_path: str) -> None:
    """Rewrite the index distinct on each table's natural key — erases
    double-appends from replayed micro-batches exactly, because every
    append writes deterministic content (module docstring layer 3).

    Swap sequence per table (ADVICE r4 — the old rmtree-then-rename
    left a crash window with the live table DELETED): write the
    compacted copy to ``_<sub>_compacting``, rename the live table
    aside to ``_<sub>_old``, promote the copy, then delete the aside.
    Every intermediate state is repaired by ``recover_minhash_index``
    (called here first, so a crashed previous compaction self-heals).
    All IO via the Hadoop FileSystem API — works on URI-scheme paths;
    on object stores the renames are copies (slower, still safe)."""
    recover_minhash_index(spark, index_path)
    base = index_path.rstrip("/")
    for sub in _INDEX_TABLES:
        src = f"{base}/{sub}"
        tmp = f"{base}/_{sub}_compacting"
        old = f"{base}/_{sub}_old"
        spark.read.parquet(src).distinct().write.mode(
            "overwrite").parquet(tmp)
        fsutil.rename(spark, src, old)
        fsutil.rename(spark, tmp, src)
        fsutil.delete(spark, old)


def read_deduped_corpus(spark: SparkSession, output_path: str,
                        key_col: str = "doc_id") -> DataFrame:
    """Read the streamed output corpus with replay-duplicate rows
    removed (one row per doc key — appended rows for a key are
    identical by construction)."""
    return spark.read.parquet(output_path).dropDuplicates([key_col])


def start_index_dedup_stream(
    stream: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.7,
    within_batch: bool = True,
):
    """readStream → near-dup-vs-index filter → append survivors; the
    index grows with each batch so later batches dedup against earlier
    ones. Returns the started StreamingQuery."""
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        index_dedup_batch(batch_df, index_path, output_path,
                          text_col, key_col, threshold,
                          batch_id=batch_id, within_batch=within_batch)

    return (stream.writeStream.foreachBatch(_process)
            .option("checkpointLocation", checkpoint_path)
            .start())
