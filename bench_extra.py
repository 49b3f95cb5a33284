#!/usr/bin/env python3
"""Per-query isolation bench (guide §1.4): times individual registry
queries on a fresh session with the noop sink (or .collect() to mirror
bench.py's methodology), records /proc/stat col-9 steal per segment,
and optionally dumps .explain("formatted") to plans/r06/.

Usage:
  python bench_extra.py [--sf-dir DIR] [--collect] [--repeat N]
      [--explain-dir plans/r06] [--suffix _before] query [query ...]

One JSON line per query on stdout. This file is NOT bench.py — the
driver's frozen harness is untouched; numbers here are for isolating
and adjudicating optimizations (OPTIMIZATION_r06.md cites them).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import _steal_sec, _steal_ticks  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--noop", action="store_true",
                    help="noop sink instead of bench.py's collect()")
    ap.add_argument("--keep-cache", action="store_true",
                    help="do NOT clearCache between repeats (default "
                         "clears: operator-internal persists otherwise "
                         "leak warm data into the next repeat — rule 7)")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--cpus",
                    type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from validatelite_spark.session import get_spark

    spark = get_spark("vlite-bench-extra", cpus=args.cpus)
    spark.range(1000).count()
    qs = entry_mod.queries()

    for name in args.queries:
        samples = []
        steals = []
        for i in range(args.repeat):
            if not args.keep_cache:
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            # construction is INSIDE the timed region: several queries do
            # eager work while building the frame (localCheckpoint CC
            # rounds, broadcast gate counts) and bench.py times that too
            t0, s0 = time.time(), _steal_ticks()
            df = qs[name](spark, args.sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            samples.append(round(time.time() - t0, 3))
            steals.append(_steal_sec(s0))
            spark.sparkContext.setJobDescription(None)
            if args.explain_dir and i == 0:
                os.makedirs(args.explain_dir, exist_ok=True)
                with open(os.path.join(args.explain_dir,
                                       f"{name}{args.suffix}.txt"),
                          "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
        print(json.dumps({"query": name, "sec": min(samples),
                          "samples": samples, "steal": steals,
                          "sf_dir": args.sf_dir}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
