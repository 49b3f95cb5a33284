"""Structured-Streaming execution of the quality rules.

The reference has no streaming surface (SURVEY.md §2.5), but reserves a
STREAMING_FLINK strategy enum (shared/schema/base.py:73-93); this module
is its Spark realization: the SAME compiled rule predicates run over
``readStream`` micro-batches — the rule compiler is execution-mode
agnostic, so batch and streaming cannot drift apart.

``windowed_keep_metrics`` gives event-time tumbling-window keep/drop
counts with a watermark for late data (stateful windowed agg); plain
per-document annotation of a stream is ``QualityPipeline.annotate``
itself (a pure projection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from validatelite_spark.pipeline.quality import QualityPipeline


def windowed_keep_metrics(
    pipe: QualityPipeline,
    stream: DataFrame,
    ts_col: str = "warc_ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed keep/drop counts with late-data watermark."""
    annotated = pipe.annotate(stream)
    return (
        annotated.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.count(F.lit(1)).alias("total"),
             F.sum(F.col("keep").cast("long")).alias("kept"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "total", "kept")
    )
