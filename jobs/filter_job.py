#!/usr/bin/env python3
"""Cluster entrypoint for the quality-filter pipeline.

Submitted via ``scripts/submit_job.sh`` (spark-submit --py-files zip);
on a cluster add ``--conf spark.checkpoint.dir=<shared-FS path>`` so any
iterative operator checkpoints reliably (``session.checkpoint``).
Reads a pages table (parquet path or Iceberg table identifier), runs the
checkpointed quality filter, writes annotated+scrubbed output and the
per-rule metrics table next to it. Resumable: re-submit after a failure
and only unfinished buckets run (pipeline/checkpoint.py manifest).

Args: INPUT OUTPUT [n_buckets] [batch_buckets] [key_column]

The bucket key defaults to ``url`` when the input has one (the
Common-Crawl pages shape from BASELINE.json's input_hint), else the
input's first column; pass ``key_column`` explicitly for anything else.
"""

from __future__ import annotations

import sys


def main() -> int:
    input_path, output_path = sys.argv[1], sys.argv[2]
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 256
    batch_buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 32

    # on a cluster the session comes from spark-submit's conf; builder
    # fills in local defaults when run directly
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("vlite-spark-filter").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from validatelite_spark.core.results import (
        METRICS_TABLE_SCHEMA,
        results_to_rows,
    )
    from validatelite_spark.pipeline.checkpoint import run_checkpointed
    from validatelite_spark.pipeline.quality import QualityPipeline
    from validatelite_spark.sources.reader import read_source

    df = read_source(spark, input_path)
    key_column = (sys.argv[5] if len(sys.argv) > 5
                  else "url" if "url" in df.columns else df.columns[0])
    pipe = QualityPipeline(spark)
    state = run_checkpointed(
        df, pipe.annotate, output_path, key_column=key_column,
        n_buckets=n_buckets, batch_buckets=batch_buckets,
        input_source=input_path,  # snapshot/fingerprint pin per manifest
        progress=lambda m: print(f"[checkpoint] {m}", flush=True))
    print(f"[done] {len(state.done)}/{n_buckets} buckets at {output_path}")

    # per-rule metrics counted from the STORED flags: one cheap pass
    # over the already-annotated output, no rule runs again
    results = pipe.results(spark.read.parquet(output_path))
    print(f"[metrics] kept {results[0].execution_plan['kept']}/"
          f"{results[0].total_records}")
    for r in results:
        print(f"[metrics] {r.rule_name}: {r.failed_records}/"
              f"{r.total_records} failed")
    spark.createDataFrame(results_to_rows(results), METRICS_TABLE_SCHEMA) \
        .write.mode("overwrite").parquet(output_path.rstrip("/") + "_metrics")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
