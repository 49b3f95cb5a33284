"""Cluster quality-filter entrypoint (jobs/filter_job.py) — end-to-end in
a subprocess, the way spark-submit drives it."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
JOB = str(ROOT / "jobs" / "filter_job.py")


@pytest.mark.slow
def test_filter_job_end_to_end(spark, tmp_path):
    from validatelite_spark.core.results import (
        METRICS_TABLE_SCHEMA,
        status_for,
    )
    from validatelite_spark.pipeline.pages import synthesize_pages
    from validatelite_spark.pipeline.quality import default_rules

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    synthesize_pages(spark, 1000).write.parquet(inp)

    env = {**os.environ, "PYTHONPATH": str(ROOT)}
    r = subprocess.run([sys.executable, JOB, inp, out, "4", "2"],
                       capture_output=True, text=True, timeout=300, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "[metrics] kept 700/1000" in r.stdout

    metrics = spark.read.parquet(out + "_metrics")
    assert metrics.schema.simpleString() == \
        spark.createDataFrame([], METRICS_TABLE_SCHEMA).schema.simpleString()
    rows = {m["rule_name"]: m for m in metrics.collect()}
    # the id % 20 classes of pipeline/pages.py each rule fails
    assert {name: m["failed_records"] for name, m in rows.items()} == {
        "not_null_text": 50, "gopher_text": 300, "lang_id_text": 250,
        "perplexity_text": 300, "pii_text": 100}
    for rule in default_rules():
        m = rows[rule.name]
        assert m["total_records"] == 1000
        assert m["status"] == status_for(
            m["failed_records"], 1000, rule.threshold).value
        assert m["success_rate"] == (1000 - m["failed_records"]) / 1000
    assert spark.read.parquet(out).filter("keep").count() == 700
