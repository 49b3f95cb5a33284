#!/usr/bin/env python3
"""Two-cluster-size scaling evidence (BASELINE.json north_rule).

No real cluster exists in this sandbox, so the N→4N executor criterion is
evidenced by running the IDENTICAL quality-filter job at local[N] and
local[4N] on the SAME input (the pages generator is partition-count
invariant: identical bytes at any parallelism) and reporting throughput
at both plus scaling efficiency = (docs_per_sec_4N / docs_per_sec_N) / 4.

Methodology notes (hard-won on this host):
- each parallelism level runs in a FRESH subprocess/JVM;
- one warmup run per level (JIT + codegen), then BEST of `repeats` timed
  runs — the host VM has bursty CPU steal (hundreds of stolen
  CPU-seconds in bad windows), so each run also reports its steal and
  the best run is the noise-free one;
- N=4, 4N=16 keeps JVM task threads + Python UDF workers (2 hot threads
  per task slot) within the box's 32 cores at BOTH levels — local[32]
  would oversubscribe and measure the scheduler, not the engine;
- default 1.6M docs amortizes the per-query fixed cost (planning +
  codegen ≈ 3 s) to <5% of the run.

Usage: python scripts/scaling_bench.py [n_docs] [N] [repeats] → one JSON line
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

#: repo root: the worker imports the package and bench.py's steal helper
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, sys, time
sys.path.insert(0, sys.argv[4])

from bench import _steal_sec, _steal_ticks
from validatelite_spark.session import get_spark
from validatelite_spark.pipeline import QualityPipeline, synthesize_pages

cpus = int(sys.argv[1]); n_docs = int(sys.argv[2]); repeats = int(sys.argv[3])
spark = get_spark("scaling-bench", cpus=cpus, shuffle_partitions=cpus)
pipe = QualityPipeline(spark)

def run_once(n):
    pages = synthesize_pages(spark, n, partitions=cpus * 4)
    s0, t0 = _steal_ticks(), time.time()
    pipe.run(pages)   # one fused scan: flags + keep + scrub + metrics
    return time.time() - t0, _steal_sec(s0)

run_once(max(n_docs // 20, 1000))          # warmup: JIT + codegen
runs = [run_once(n_docs) for _ in range(repeats)]
best = min(runs, key=lambda r: r[0])
print(json.dumps({"cpus": cpus, "n_docs": n_docs,
                  "elapsed_sec": round(best[0], 3),
                  "steal_sec_during_best": round(best[1], 1),
                  "all_runs_sec": [round(r[0], 2) for r in runs],
                  "docs_per_sec": round(n_docs / best[0], 1)}))
spark.stop()
"""


def run_level(cpus: int, n_docs: int, repeats: int = 3) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cpus), str(n_docs), str(repeats),
         ROOT],
        capture_output=True, text=True, timeout=3000)
    if out.returncode != 0:
        raise RuntimeError(f"worker failed: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_600_000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    r_n = run_level(n, n_docs, repeats)
    r_4n = run_level(4 * n, n_docs, repeats)
    eff = (r_4n["docs_per_sec"] / r_n["docs_per_sec"]) / 4.0
    print(json.dumps({
        "metric": f"scaling_efficiency_{n}_to_{4*n}",
        "value": round(eff, 3),
        "n_docs": n_docs,
        f"local{n}": r_n,
        f"local{4*n}": r_4n,
        "speedup": round(r_4n["docs_per_sec"] / r_n["docs_per_sec"], 2),
    }))


if __name__ == "__main__":
    main()
