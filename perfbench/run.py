#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload {filter,dedup_rules} \
        --seed N --seconds S --trace {0,1}

The session is sized to the host (``local[nproc]``, a driver heap of a
quarter of ``MemTotal``), and the metrics printed are those named in
``BENCHMARK.json``. A run:

1. starts the Spark session ``SETUPS`` times (``setup_s`` is the median
   of a start that launches the JVM and one that reuses it; a traced run
   starts it once);
2. generates the seeded input and the expected answer (``bench.gen_s``);
3. checks that a planted wrong result is caught;
4. runs repetitions for ``--seconds``: the first, cold one is
   ``first_job_s``, the warm ones give ``rows_per_s``. Persisted data is
   released between repetitions and each output is checked.

Timings are wall time less the hypervisor's CPU steal
(``HostSample.net_s``); the facts line keeps the raw walls and steal.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures the
same untraced phase, repeats it in a new JVM with Spark's event log on
and every call wrapped in a span, and prints the per-layer metrics;
spans and per-repetition rows go to
``.perfbench/traces/<workload>-seed<N>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import spans
from spans import EventLog, HostSample, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: session starts of an untraced run; the first also launches the JVM
SETUPS = 2
#: one cold repetition and at least two warm ones, whatever --seconds says
MIN_REPS = 3


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------- session
class Session:
    """The Spark session, created through ``get_spark`` and timed."""

    def __init__(self, cpus: int, tmp: str) -> None:
        self.cpus, self.tmp = cpus, tmp
        self.spark = None

    def start(self, extra: dict | None = None) -> float:
        from validatelite_spark.session import get_spark

        # keep the JVM's temp files in the run's own directory
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                **(extra or {})}
        host = HostSample()
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        return host.close()["net_s"]

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


@contextmanager
def traced_calls(tracer: Tracer):
    """Wrap ``QualityPipeline.annotate``, which the ``filter`` workload
    reaches only through ``run``."""
    from validatelite_spark.pipeline.quality import QualityPipeline

    annotate = QualityPipeline.annotate

    def traced(*args, **kwargs):
        with tracer.span("pipeline.annotate"):
            return annotate(*args, **kwargs)

    QualityPipeline.annotate = traced
    try:
        yield
    finally:
        QualityPipeline.annotate = annotate


# ------------------------------------------------------------ measuring
def measure(session: Session, wl, tracer: Tracer, seconds: float) -> dict:
    """A cold repetition, then warm ones until ``seconds`` have passed."""
    from workloads import release

    spark, pid = session.spark, session.jvm_pid
    release(spark)
    spans.reset_peak_rss(pid)
    reps, cpu_warm0, observed = [], None, None
    t_end = time.perf_counter() + seconds
    while len(reps) < MIN_REPS or time.perf_counter() < t_end:
        host, ok = HostSample(), True
        with tracer.span("rep", index=len(reps)) as sp:
            try:
                wl.rep(spark, tracer)
            except Exception:
                traceback.print_exc()
                ok = False
        rep = {"span": sp["id"], "start": sp["start"], "end": sp["end"],
               **host.close(), "persisted_after": release(spark)}
        if ok:
            try:
                obs = wl.observed()
                rep["facts"] = wl.facts(obs)
                ok = wl.matches(obs)
                observed = obs
            except Exception:
                traceback.print_exc()
                ok = False
        rep["ok"] = ok
        reps.append(rep)
        if cpu_warm0 is None:
            cpu_warm0 = spans.tree_cpu_s(pid)
    warm = reps[1:]
    cpu = spans.tree_cpu_s(pid) - cpu_warm0
    return {
        "reps": reps,
        "observed": observed,
        "rows_per_s": _median([wl.rows / r["net_s"] for r in warm]),
        "first_job_s": reps[0]["net_s"],
        "peak_rss_mb": spans.peak_rss_mb(pid),
        "cpu_s_per_krow": cpu / (wl.rows * len(warm) / 1000),
    }


# ------------------------------------------------------------- per layer
def probes(spark, wl, tracer: Tracer) -> dict:
    """Isolated noop-sink runs of the scan and each function tier."""
    from pyspark.sql import functions as F

    from validatelite_spark.functions import textquality as tq
    from validatelite_spark.functions.fused_text import fused_text_eval
    from validatelite_spark.sources.reader import read_source

    text = F.col("text")
    toks = tq.tokens(text)
    plans = {
        "sources": lambda df: df,
        "native": lambda df: df.select(
            toks.alias("t"), tq.gopher_fail_t(text, toks).alias("g"),
            tq.lang_id_t(text, toks).alias("l")),
        "udf": lambda df: df.select(fused_text_eval(
            text, F.lit(False), 13.5, lang_allowed=["en"]).alias("fx")),
    }
    out = {}
    for name, plan in plans.items():
        with tracer.span(f"probe.{name}") as sp:
            df = read_source(spark, wl.src)
            if name != "sources" and "text" not in df.columns:
                continue  # a table without text has no text functions
            plan(df).write.format("noop").mode("overwrite").save()
        out[name] = sp
    return out


def layer_metrics(tracer: Tracer, log: EventLog, phase: dict, wl,
                  cores: int, probe_spans: dict) -> dict:
    rid = tracer.run_id

    def jobs_under(span_id):
        return log.jobs_of(rid, tracer.descendants(span_id))

    def named(under, name):
        ids = tracer.descendants(under)
        return [s for s in tracer.spans if s["id"] in ids
                and s["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    rows = []
    for rep in phase["reps"][1:]:
        jobs = jobs_under(rep["span"])
        tot = log.layer_totals(jobs)
        wall = rep["end"] - rep["start"]
        row = {f"exec.{k}": tot[k] for k in (
            "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "agg_build_s", "peak_exec_mem_bytes")}
        row["exec.slot_busy_frac"] = tot["task_s"] / (wall * cores)
        row["exec.driver_gap_s"] = wall - log.busy_s(jobs, rep["start"],
                                                     rep["end"])
        row["functions.python_s"] = tot["python_s"]
        row["functions.python_bytes"] = tot["python_bytes"]
        row["pipeline.persisted_after"] = rep["persisted_after"]
        row.update(rep.get("facts", {}))
        row["host.steal_s"] = rep["steal_s"]
        row["host.load1"] = rep["load1"]
        for key, name in (("annotate_build_s", "pipeline.annotate"),
                          ("run_s", "pipeline.run")):
            row[f"pipeline.{key}"] = sum(dur(s) for s in named(
                rep["span"], name))
        engine = named(rep["span"], "operators.engine")
        row["operators.engine_s"] = sum(dur(s) for s in engine)
        row["operators.engine_jobs"] = sum(len(jobs_under(s["id"]))
                                           for s in engine)
        for leaf in getattr(wl, "leaves", ()):
            for s in named(rep["span"], f"operators.{leaf}"):
                build = named(s["id"], "build")[0]
                leaf_jobs = jobs_under(s["id"])
                row[f"operators.{leaf}_s"] = dur(s)
                row[f"operators.{leaf}_build_s"] = dur(build)
                row[f"operators.{leaf}_jobs"] = len(leaf_jobs)
                if leaf == "ngram_jaccard_pairs":
                    cand = log.layer_totals(leaf_jobs)["pair_rows"]
                    row["operators.pair_candidates"] = cand
                    row["operators.pair_useful_ratio"] = (
                        row["operators.pair_output"] / cand if cand else 0.0)
        rows.append(row)
    out = {k: _median([r.get(k, 0.0) for r in rows])
           for k in {k for r in rows for k in r}}
    for name, key in (("sources", "sources.read_s"),
                      ("native", "functions.native_s"),
                      ("udf", "functions.udf_s")):
        if name in probe_spans:
            out[key] = dur(probe_spans[name])
    out["sources.scan_tasks"] = log.layer_totals(
        jobs_under(probe_spans["sources"]["id"]))["scan_tasks"]
    return out


# ------------------------------------------------------------------ run
def run(args, work: str) -> tuple[dict, dict, list]:
    """Returns the run's facts, every metric it computed, and its reps."""
    import workloads

    host = spans.host_facts()
    cpus = host["nproc"]
    session = Session(cpus, os.environ["TMPDIR"])
    facts = {"cpus": cpus, "heap": os.environ["SPARK_DRIVER_MEM"],
             "mem_total_gb": round(host["mem_total_gb"], 1),
             "workload": args.workload, "seed": args.seed}
    try:
        setup = [session.start()]
        # a traced run reports the start of its traced session instead
        for _ in range(0 if args.trace else SETUPS - 1):
            session.stop()
            setup.append(session.start())
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        t0 = time.perf_counter()
        facts.update(wl.setup(session.spark), rows=wl.rows)
        gen_s = time.perf_counter() - t0
        facts.update(setup_s=[round(t, 2) for t in setup],
                     gen_s=round(gen_s, 2))

        phases = [measure(session, wl, Tracer(None, "untraced", False),
                          args.seconds)]
        obs = phases[0]["observed"]
        facts["self_check"] = obs is not None and wl.self_check(obs)
        values = {k: phases[0][k] for k in (
            "rows_per_s", "first_job_s", "peak_rss_mb", "cpu_s_per_krow")}
        values["setup_s"] = _median(setup)
        if args.trace:
            values = _traced(args, session, wl, work, phases, setup, gen_s,
                             cpus)
    finally:
        session.shutdown()
    reps = [r for p in phases for r in p["reps"]]
    values["fail_ratio"] = sum(not r["ok"] for r in reps) / len(reps)
    facts.update(rep_s=[round(r["wall_s"], 2) for r in reps],
                 rep_steal_s=[round(r["steal_s"], 2) for r in reps])
    return facts, values, reps


def _traced(args, session, wl, work, phases, setup, gen_s, cpus) -> dict:
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    # the traced phase gets a JVM of its own, as cold as the untraced
    # phase's, so trace.overhead does not count the JVM's warm-up
    session.shutdown()
    start_s = session.start({"spark.eventLog.enabled": "true",
                             "spark.eventLog.compress": "false",
                             "spark.eventLog.dir": log_dir})
    tracer = Tracer(session.spark.sparkContext, f"{wl.name}-s{args.seed}",
                    True)
    with traced_calls(tracer):
        phases.append(measure(session, wl, tracer, args.seconds))
        probe_spans = probes(session.spark, wl, tracer)
    session.stop()  # flushes the event log
    per_layer = layer_metrics(tracer, EventLog(log_dir), phases[1], wl,
                              cpus, probe_spans)
    per_layer.update({
        "host.peak_rss_mb": phases[1]["peak_rss_mb"],
        "session.start_s": start_s,
        "bench.gen_s": gen_s,
        "trace.overhead": 1 - phases[1]["rows_per_s"]
        / phases[0]["rows_per_s"],
    })
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}.json"),
              "w") as fh:
        json.dump({"spans": tracer.spans, "setup_s": setup,
                   "phases": [{k: v for k, v in p.items() if k != "observed"}
                              for p in phases],
                   "per_layer": per_layer}, fh, indent=1)
    return per_layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["filter", "dedup_rules"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import validatelite_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}",
              file=sys.stderr)
        return 2
    # Python workers import the package too, from wherever they start
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    mem_gb = spans.host_facts()["mem_total_gb"]
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, int(mem_gb / 4))}g"

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    # Spark's block manager and every temp file stay inside the checkout
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "local")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var])
    try:
        facts, values, reps = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    print(" ".join(f"{k}={v}" for k, v in facts.items()))
    for k, v in sorted(values.items()):
        print(f"{args.workload:8s} {k:40s} {v:.6g} {units.get(k, '')}")
    failed = sum(not r["ok"] for r in reps)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": failed == 0 and facts["self_check"],
        "attempted": len(reps), "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in wanted}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
