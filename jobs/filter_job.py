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

    from validatelite_spark.pipeline.checkpoint import run_checkpointed
    from validatelite_spark.pipeline.quality import QualityPipeline, _flag_name
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

    # per-rule metrics straight from the STORED flags — one cheap
    # aggregate over the already-annotated output, no recompute
    annotated = spark.read.parquet(output_path)
    row = annotated.agg(*pipe.metric_exprs()).collect()[0].asDict()
    total, kept = int(row["__total"]), int(row["__kept"])
    print(f"[metrics] kept {kept}/{total}")
    rows = []
    for rule in pipe.rules:
        # the sanitized flag name quality.annotate actually wrote; fail
        # loudly (KeyError) if absent instead of silently reporting 0
        flag = _flag_name(rule)
        failed = int(row[flag] or 0)
        rows.append((rule.id, rule.name, rule.type.value,
                     "PASSED" if failed == 0 else "FAILED",
                     total, failed))
        print(f"[metrics] {rule.name}: {failed}/{total} failed")
    spark.createDataFrame(
        rows, "rule_id string, rule_name string, rule_type string, "
              "status string, total_records long, failed_records long"
    ).write.mode("overwrite").parquet(output_path.rstrip("/") + "_metrics")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
