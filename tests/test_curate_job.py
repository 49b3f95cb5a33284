"""Cluster curation entrypoint (jobs/curate_job.py) — end-to-end in a
subprocess, the same way spark-submit drives it."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

JOB = str(Path(__file__).resolve().parents[1] / "jobs" / "curate_job.py")


@pytest.mark.slow
def test_curate_job_end_to_end(spark, tmp_path):
    from validatelite_spark.pipeline.pages import synthesize_pages

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    synthesize_pages(spark, 1000).select("url", "text", "lang") \
        .write.parquet(inp)

    r = subprocess.run(
        [sys.executable, JOB, inp, out, "30000", "en"],
        capture_output=True, text=True, timeout=240)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "[curate] kept" in r.stdout

    con = duckdb.connect()
    kept = con.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    (n_in, n_kept, budget, langs) = con.sql(
        f"SELECT * FROM '{out}_summary/*.parquet'").fetchone()
    assert n_in == 1000 and n_kept == kept and 0 < kept < 1000
    assert budget == 30000 and langs == "en"
    # the keep decision filters on DETECTED language (lang_id(text)),
    # not the stored lang column — the stored label may disagree, so
    # assert the budget stage grouped on the stored column instead:
    # every kept doc's text re-detects as the allowed language
    from validatelite_spark.functions.textquality import lang_id
    from pyspark.sql import functions as F
    detected = (spark.read.parquet(out)
                .select(lang_id(F.col("text")).alias("d"))
                .distinct().collect())
    assert {r["d"] for r in detected} == {"en"}


@pytest.mark.slow
def test_exact_refetches_do_not_survive(spark, tmp_path):
    """ADVICE r4 (medium): without a unique key, exact re-fetches of
    the same URL (same url AND text — the primary Common-Crawl
    duplication mode) tied the min-struct winner and were ALL kept,
    double-counting against the token budget. The synthesized-key path
    must keep each page exactly once."""
    from pyspark.sql import functions as F

    from validatelite_spark.pipeline.pages import synthesize_pages

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    pages = synthesize_pages(spark, 300).select("url", "text", "lang")
    # every page fetched three times — identical rows, no doc key
    pages.unionAll(pages).unionAll(pages).write.parquet(inp)

    r = subprocess.run(
        [sys.executable, JOB, inp, out, "30000", "en"],
        capture_output=True, text=True, timeout=240)
    assert r.returncode == 0, r.stderr[-2000:]

    kept = spark.read.parquet(out)
    n_kept = kept.count()
    assert n_kept > 0
    # one row per url — no re-fetch survived
    assert kept.select("url").distinct().count() == n_kept
    con = duckdb.connect()
    (n_in, n_kept_s, _, _) = con.sql(
        f"SELECT * FROM '{out}_summary/*.parquet'").fetchone()
    assert n_in == 900 and n_kept_s == n_kept


@pytest.mark.slow
def test_sharded_delivery(spark, tmp_path):
    """shard_tokens arg: output is shard_id=N dirs + a manifest whose
    per-shard doc/token counts and checksums match the written data."""
    import glob
    import hashlib

    from validatelite_spark.pipeline.pages import synthesize_pages

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    synthesize_pages(spark, 600).select("url", "text", "lang") \
        .write.parquet(inp)

    r = subprocess.run(
        [sys.executable, JOB, inp, out,
         "50000", "en", "-", "lang", "-", "-", "-", "5000"],
        capture_output=True, text=True, timeout=240)
    assert r.returncode == 0, r.stderr[-2000:]

    con = duckdb.connect()
    man = con.sql(
        f"SELECT shard_id, n_docs, n_tokens, checksum "
        f"FROM '{out}_manifest/*.parquet' ORDER BY shard_id").fetchall()
    assert len(man) >= 2  # budget 50k tokens / 5k per shard
    dirs = sorted(glob.glob(f"{out}/shard_id=*"))
    assert len(dirs) == len(man)
    # re-derive each shard's manifest row from the delivered files
    for (sid, n_docs, n_tokens, checksum) in man:
        rows = con.sql(
            f"SELECT doc_key, n_tokens FROM "
            f"'{out}/shard_id={sid}/*.parquet'").fetchall()
        assert len(rows) == n_docs
        assert sum(t for _, t in rows) == n_tokens
        assert sum(int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
                   for k, _ in rows) == int(checksum)
