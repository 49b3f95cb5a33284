"""vlite-spark CLI — the reference's ``vlite check`` / ``vlite schema``
commands on Spark (reference: cli/commands/check.py, cli/commands/schema.py;
same UX: per-rule ✓/✗ lines or a JSON payload, exit code 1 iff any rule
FAILED, 2 on usage error).

    python -m validatelite_spark.cli check data.parquet \
        --rule "not_null(text)" --rule "range(n_chars,100,10000)"
    python -m validatelite_spark.cli check data.csv --rules rules.json --json
    python -m validatelite_spark.cli schema data.parquet --schema decl.json
    python -m validatelite_spark.cli filter pages.parquet --output out/
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Optional

from validatelite_spark.core.results import ExecutionStatus, RuleResult


def format_report(
    results: list[RuleResult],
    source: str,
    execution_time: float = 0.0,
    verbose: bool = False,
    quiet: bool = False,
    max_samples: int = 20,
) -> str:
    """Reference-layout console report (reference:
    cli/core/output_formatter.py:138-366): header, per-rule ✓/✗/⚠ lines
    with failure rate, verbose sample echo ('  │ Row N: value'), and the
    'Summary: X passed, Y failed (Z% overall error rate)' trailer.
    ``quiet`` collapses to the one-line summary."""
    stats_total = max((r.total_records for r in results), default=0)
    n_pass = sum(r.status == ExecutionStatus.PASSED for r in results)
    n_fail = sum(r.status == ExecutionStatus.FAILED for r in results)
    total_failures = sum(r.failed_records for r in results
                         if r.status == ExecutionStatus.FAILED)
    err_rate = (total_failures / stats_total * 100) if stats_total else 0.0

    if quiet:
        sym = "✓" if n_fail == 0 else "✗"
        return (f"{sym} {n_pass} passed, {n_fail} failed "
                f"({err_rate:.2f}% error rate) - {execution_time:.2f}s")

    lines = [f"\n✓ Checking {source} ({stats_total:,} records)"]
    if verbose:
        lines.append(f"│ Rules: {len(results)} validation rules loaded")
        lines.append("")
    lines.append("Results:")
    for r in results:
        desc = r.rule_name
        if r.status == ExecutionStatus.PASSED:
            lines.append(f"✓ {desc}: PASSED (0 failures)")
            if verbose:
                lines.append(
                    f"  │ Checked {r.total_records:,} records, all valid")
                if r.execution_time:
                    lines.append(
                        f"  │ Performance: {r.execution_time:.2f}s")
        elif r.status == ExecutionStatus.FAILED:
            rate = (r.failed_records / r.total_records * 100
                    if r.total_records else 0.0)
            lines.append(f"✗ {desc}: FAILED ({r.failed_records} failures)")
            lines.append(f"  │ Failure rate: {rate:.2f}% "
                         f"({r.failed_records} out of {r.total_records:,})")
            if verbose and r.sample_data:
                shown = r.sample_data[:max_samples]
                lines.append(f"  │ Sample failures (showing first "
                             f"{len(shown)} of {len(r.sample_data)}):")
                for i, s in enumerate(shown, 1):
                    row = f"Row {s.get('row_number', i)}"
                    if "column_value" in s:
                        val = s["column_value"]
                        if val is None:
                            vs = "NULL"
                        elif isinstance(val, str) and len(val) > 50:
                            vs = f"'{val[:47]}...'"
                        else:
                            vs = f"'{val}'"
                        lines.append(f"  │   {row}: {vs}")
                    else:
                        lines.append(f"  │   {row}: {s}")
                if len(r.sample_data) > max_samples:
                    lines.append(f"  │   ... and "
                                 f"{len(r.sample_data) - max_samples} "
                                 "more failures")
            if verbose and r.execution_time:
                lines.append(f"  │ Performance: {r.execution_time:.2f}s")
        elif r.status == ExecutionStatus.SKIPPED:
            lines.append(f"- {desc}: SKIPPED")
        else:
            lines.append(f"⚠ {desc}: ERROR")
            lines.append(f"  │ Error: {r.error_message}")
    lines.append(f"\nSummary: {n_pass} passed, {n_fail} failed "
                 f"({err_rate:.2f}% overall error rate)")
    lines.append(f"{'Processing time' if verbose else 'Time'}: "
                 f"{execution_time:.2f}s")
    return "\n".join(lines)


def _fmt_table(results: list[RuleResult]) -> str:
    lines = []
    mark = {"PASSED": "✓", "FAILED": "✗", "ERROR": "!", "SKIPPED": "-"}
    for r in results:
        m = mark.get(r.status.value, "?")
        extra = (f" failed={r.failed_records}/{r.total_records}"
                 if r.status != ExecutionStatus.ERROR
                 else f" error={r.error_message}")
        lines.append(f" {m} {r.rule_name:32s} {r.status.value:7s}{extra}")
    n_fail = sum(1 for r in results if r.status == ExecutionStatus.FAILED)
    n_err = sum(1 for r in results if r.status == ExecutionStatus.ERROR)
    n_skip = sum(1 for r in results if r.status == ExecutionStatus.SKIPPED)
    lines.append(f"---\n{len(results)} rules: "
                 f"{len(results) - n_fail - n_err - n_skip} passed, "
                 f"{n_fail} failed, {n_err} errors, {n_skip} skipped")
    return "\n".join(lines)


def _emit(results: list[RuleResult], as_json: bool, source: str = "",
          elapsed: float = 0.0, verbose: bool = False,
          quiet: bool = False) -> int:
    if as_json:
        print(json.dumps({
            "summary": {
                "total_rules": len(results),
                "passed": sum(r.status == ExecutionStatus.PASSED
                              for r in results),
                "failed": sum(r.status == ExecutionStatus.FAILED
                              for r in results),
                "errors": sum(r.status == ExecutionStatus.ERROR
                              for r in results),
            },
            "results": [r.to_dict() for r in results],
        }, default=str))
    elif source:
        print(format_report(results, source, elapsed,
                            verbose=verbose, quiet=quiet))
    else:
        print(_fmt_table(results))
    return 1 if any(r.status == ExecutionStatus.FAILED for r in results) else 0


def main(argv: Optional[list[str]] = None) -> int:
    parser = argparse.ArgumentParser(prog="vlite-spark")
    parser.add_argument("--cpus", type=int, default=None)
    parser.add_argument("--config", default=None,
                        help="TOML engine config (merge/sample settings, "
                             "mirroring the reference's core.toml)")
    sub = parser.add_subparsers(dest="command", required=True)

    p_check = sub.add_parser("check", help="run inline/file rules")
    p_check.add_argument("source", nargs="?", default=None)
    p_check.add_argument("--conn", default=None,
                         help="source connection string / path (reference "
                              "`vlite check --conn` spelling; equivalent "
                              "to the positional source)")
    p_check.add_argument("--rule", action="append", default=[],
                         help="inline rule expression (repeatable)")
    p_check.add_argument("--rules", help="JSON rules file")
    p_check.add_argument("--table", default=None)
    p_check.add_argument("--json", action="store_true")
    p_check.add_argument("--verbose", "-v", action="store_true",
                         help="per-rule detail + failure sample echo")
    p_check.add_argument("--quiet", "-q", action="store_true",
                         help="one-line summary only")

    p_schema = sub.add_parser("schema", help="declared-schema validation")
    p_schema.add_argument("source")
    p_schema.add_argument("--schema", required=True,
                          help="JSON {column: type} declaration file")
    p_schema.add_argument("--strict", action="store_true")
    p_schema.add_argument("--case-insensitive", action="store_true")
    p_schema.add_argument("--json", action="store_true")

    p_filter = sub.add_parser("filter", help="run the quality pipeline")
    p_filter.add_argument("source")
    p_filter.add_argument("--output", required=True)
    p_filter.add_argument(
        "--langs", default="en",
        help=("comma-separated languages LANG_ID keeps (default: en); "
              "GOPHER's stopword gate is English, so a page in another "
              "language still fails it and is dropped"))
    p_filter.add_argument("--max-ppl", type=float, default=None)
    p_filter.add_argument("--checkpoint", action="store_true")
    p_filter.add_argument("--buckets", type=int, default=64)
    p_filter.add_argument("--json", action="store_true")

    args = parser.parse_args(argv)

    # parse rules BEFORE starting a session: usage errors exit 2 fast
    if args.command == "check":
        args.source = args.source or args.conn
        if not args.source:
            print("usage error: give a source path or --conn",
                  file=sys.stderr)
            return 2
        from validatelite_spark.core.rule_parser import (
            RuleParseError,
            load_rules_file,
            parse_rules,
        )
        try:
            rules = parse_rules(args.rule)
            if args.rules:
                rules += load_rules_file(args.rules)
        except (RuleParseError, OSError) as e:
            print(f"usage error: {e}", file=sys.stderr)
            return 2
        if not rules:
            print("usage error: no rules given (use --rule/--rules)",
                  file=sys.stderr)
            return 2

    from validatelite_spark.session import get_spark
    from validatelite_spark.sources.reader import SourceError, read_source

    spark = get_spark("vlite-spark-cli", cpus=args.cpus)
    try:
        def _read_main():
            # forward --table so a JDBC --conn source can actually read
            # (reader.py requires table=<name>); harmless for file
            # sources, whose readers ignore unknown options
            opts = {}
            if getattr(args, "table", None):
                opts["table"] = args.table
            try:
                return read_source(spark, args.source, **opts)
            except SourceError as e:
                print(f"source error: {e}", file=sys.stderr)
                return None

        # multi-table schema payloads read per-table below; everything
        # else reads the single source up front
        multi_schema = False
        if args.command == "schema":
            decl_probe = json.loads(open(args.schema).read())
            multi_schema = (isinstance(decl_probe, dict) and decl_probe
                            and "rules" not in decl_probe
                            and all(isinstance(v, dict) and "rules" in v
                                    for v in decl_probe.values()))
        df = None
        if not multi_schema:
            df = _read_main()
            if df is None:
                return 2

        if args.command == "check":
            from validatelite_spark.operators.engine import (
                EngineConfig,
                RuleEngine,
            )
            cfg = None
            if args.config:
                import tomllib
                with open(args.config, "rb") as fh:
                    payload = tomllib.load(fh)
                allowed = set(EngineConfig.__dataclass_fields__)
                cfg = EngineConfig(**{k: v for k, v in payload.items()
                                      if k in allowed})
            import time as _time
            t0 = _time.time()
            results = RuleEngine(spark, cfg).execute(
                df, rules, table_name=args.table or args.source)
            return _emit(results, args.json, source=args.source,
                         elapsed=_time.time() - t0,
                         verbose=args.verbose, quiet=args.quiet)

        if args.command == "schema":
            import time as _time

            from validatelite_spark.plans.schema_payload import (
                build_json_payload,
                run_two_phase_with_plans,
            )
            decl = json.loads(open(args.schema).read())
            t0 = _time.time()
            if isinstance(decl, dict) and decl and "rules" not in decl \
                    and all(isinstance(v, dict) and "rules" in v
                            for v in decl.values()):
                # multi-table payload {table: {rules: [...]}} — the
                # source is a directory of <table>.parquet files
                dfs = {}
                for table in decl:
                    try:
                        dfs[table] = read_source(
                            spark, f"{args.source.rstrip('/')}/{table}.parquet")
                    except Exception:
                        dfs[table] = None  # missing table → SKIPPED rules
                out, plans = run_two_phase_with_plans(spark, dfs, decl)
            else:
                # single-table: {rules: [...]} payload, or a bare
                # {column: type} map (normalized to payload form)
                if not (isinstance(decl, dict) and "rules" in decl):
                    decl = {"rules": [{"field": c, "type": t}
                                      for c, t in decl.items()]}
                table = args.source.rsplit("/", 1)[-1].split(".")[0]
                if args.strict:
                    decl["strict_mode"] = True
                if args.case_insensitive:
                    decl["case_insensitive"] = True
                out, plans = run_two_phase_with_plans(
                    spark, {table: df}, {table: decl})
            results = [r for rs in out.values() for r in rs]
            if args.json:
                # full reference-contract payload (per-field check matrix
                # + schema_extras), docs/schemas/schema_results.schema.json
                payload = build_json_payload(
                    args.source, args.schema, out, plans,
                    _time.time() - t0)
                print(json.dumps(payload, default=str))
                return 1 if any(r.status == ExecutionStatus.FAILED
                                for r in results) else 0
            return _emit(results, False)

        if args.command == "filter":
            from validatelite_spark.pipeline.quality import (
                QualityPipeline,
                default_rules,
            )
            rule_kwargs = {"allowed_langs": tuple(args.langs.split(","))}
            if args.max_ppl is not None:
                rule_kwargs["max_ppl"] = args.max_ppl
            pipe = QualityPipeline(spark,
                                   rules=default_rules(**rule_kwargs))
            if args.checkpoint:
                from validatelite_spark.pipeline.checkpoint import (
                    run_checkpointed,
                )
                run_checkpointed(df, pipe.annotate, args.output,
                                 n_buckets=args.buckets,
                                 progress=lambda m: print(m, file=sys.stderr))
                results = pipe.results(spark.read.parquet(args.output))
            else:
                _, results = pipe.run(df, output_path=args.output)
            return _emit(results, args.json)

        return 2
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
