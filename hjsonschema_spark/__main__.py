"""Command-line entry point: run a validation suite from config files.

The reference ships library entry points (fetchFilesystemAndValidate,
src/JSONSchema/Draft4.hs:101-129: load schema + referenced files from
disk, validate an instance); this CLI is the table-scale analogue —
load a suite (and any suites it Refs) from JSON files, run it against
a table, write violations/verdicts/stats tables, print one JSON
summary line. Designed for the north rule's deployment mode:

    spark-submit --py-files dist/hjsonschema_spark.zip \
        -m-style driver: a 3-line job.py calling main(), or locally:
    python -m hjsonschema_spark validate \
        --table /data/transcripts.parquet \
        --suite ./suites/transcripts.json \
        --vocab tools=/data/tool_vocab.parquet \
        --out /data/validation_out

Exit codes: 0 = suite passed, 1 = violations/failed checks, 2 = bad
config (ConfigInvalid — schema is validated before data, matching
checkSchema-before-validate, src/JSONSchema/Draft4.hs:134-148).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _get_spark(cores: int | None):
    """Honor spark-submit's master/conf when present; otherwise build a
    local session with engine defaults (get_spark)."""
    from pyspark import SparkConf

    from hjsonschema_spark.session import get_spark

    if SparkConf().contains("spark.master"):
        from pyspark.sql import SparkSession

        return SparkSession.builder.getOrCreate()
    return get_spark(app_name="hjsonschema_spark_cli", cores=cores)


def _load_registry_and_suite(args):
    from hjsonschema_spark.checks.ir import SuiteRegistry

    if getattr(args, "schema", None):
        # switch-over path: a raw draft-4 schema document instead of a
        # suite config. The schema is itself validated against the
        # embedded draft-4 meta-schema BEFORE any data is read
        # (checkSchema before validate, Draft4.hs:134-148).
        from hjsonschema_spark.checks.from_schema import suite_from_schema
        from hjsonschema_spark.checks.ir import ConfigInvalid
        from hjsonschema_spark.draft4 import Draft4Validator, SchemaInvalid

        if not args.key:
            raise SystemExit("--schema requires --key col1[,col2,...]")
        with open(args.schema) as f:
            doc = json.load(f)
        try:
            Draft4Validator(doc, check_schema=True)
        except SchemaInvalid as e:
            raise ConfigInvalid(f"schema file rejected by the draft-4 meta-schema: {e}")
        name = os.path.splitext(os.path.basename(args.schema))[0]
        suite = suite_from_schema(
            doc, name=name, key_columns=tuple(args.key.split(",")),
            unique_key=args.unique_key,
        )
        return SuiteRegistry(), suite
    if args.suites_dir:
        reg = SuiteRegistry.from_dir(args.suites_dir)
        name = args.suite_name or sorted(reg.suites)[0]
        if name not in reg.suites:
            raise SystemExit(f"suite {name!r} not found in {args.suites_dir}")
        return reg, reg.suites[name]
    with open(args.suite) as f:
        root_name = json.load(f)["name"]
    # loads the root suite plus any Ref'd suites living next to it,
    # walking Ref edges to fixpoint (Fetch.hs:119-158 analogue)
    reg = SuiteRegistry.from_files(args.suite)
    return reg, reg.suites[root_name]


def cmd_validate(args) -> int:
    from hjsonschema_spark.checks.engine import run_suite
    from hjsonschema_spark.checks.ir import ConfigInvalid
    from hjsonschema_spark.sources.tables import overwrite_table, read_table

    spark = _get_spark(args.cores)
    try:
        reg, suite = _load_registry_and_suite(args)
        df = read_table(spark, args.table, snapshot_id=args.snapshot_id)
        vocab = {}
        for spec in args.vocab or []:
            name, _, path = spec.partition("=")
            if not path:
                raise SystemExit(f"--vocab must be name=path, got {spec!r}")
            vocab[name] = read_table(spark, path)
        t0 = time.perf_counter()
        res = run_suite(
            df,
            suite,
            registry=reg,
            vocab_tables=vocab or None,
            include_stats=args.stats,
            persist=True,
            max_violations_per_check=args.max_violations_per_check,
        )
        out = args.out
        if out:
            os.makedirs(out, exist_ok=True)
            # violations first (fills the violation-union cache), verdicts second
            viol = res.violations_sample if res.violations_sample is not None else res.violations
            overwrite_table(viol, os.path.join(out, "violations"))
            overwrite_table(res.verdicts, os.path.join(out, "verdicts"))
            if res.stats is not None:
                overwrite_table(res.stats, os.path.join(out, "stats"))
            if args.quarantine:
                # validate-and-filter: clean rows keep the input schema;
                # quarantined rows carry their failure structs
                overwrite_table(res.clean_rows(), os.path.join(out, "clean"))
                overwrite_table(res.quarantine(), os.path.join(out, "quarantine"))
        summary = res.summary()
        ok = res.passed()
        res.unpersist()
        print(
            json.dumps(
                {
                    "suite": suite.name,
                    "table": args.table,
                    "passed": ok,
                    "n_violations": summary["n_violations"],
                    "by_check": summary["by_check"],
                    "wall_sec": round(time.perf_counter() - t0, 3),
                    "out": args.out,
                }
            )
        )
        return 0 if ok else 1
    except ConfigInvalid as e:
        print(json.dumps({"error": "config_invalid", "detail": str(e)}), file=sys.stderr)
        return 2
    finally:
        if not args.keep_session:
            spark.stop()


def cmd_stats(args) -> int:
    from hjsonschema_spark.checks.engine import column_stats
    from hjsonschema_spark.sources.tables import overwrite_table, read_table

    spark = _get_spark(args.cores)
    try:
        df = read_table(spark, args.table, snapshot_id=args.snapshot_id)
        stats = column_stats(df, columns=args.columns or None)
        if args.out:
            overwrite_table(stats, args.out)
        rows = [r.asDict() for r in stats.collect()]
        print(json.dumps({"table": args.table, "stats": rows}, default=str))
        return 0
    finally:
        if not args.keep_session:
            spark.stop()


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m hjsonschema_spark",
        description="Run table validation suites (see module docstring).",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="run a suite against a table")
    v.add_argument("--table", required=True, help="table name (Iceberg) or parquet path")
    g = v.add_mutually_exclusive_group(required=True)
    g.add_argument("--suite", help="root suite JSON file (Ref'd suites loaded from its dir)")
    g.add_argument("--suites-dir", help="directory of suite JSONs")
    g.add_argument("--schema", help="draft-4 JSON Schema document to compile into a suite")
    v.add_argument("--key", help="comma-separated key columns (required with --schema)")
    v.add_argument("--unique-key", action="store_true",
                   help="with --schema: also enforce table-wide uniqueness of --key")
    v.add_argument("--suite-name", help="suite to run when using --suites-dir")
    v.add_argument("--vocab", action="append", metavar="NAME=PATH",
                   help="vocab table for ref_integrity/drift checks (repeatable)")
    v.add_argument("--out", help="output directory (violations/, verdicts/, stats/)")
    v.add_argument("--stats", action="store_true", help="also compute column stats")
    v.add_argument("--quarantine", action="store_true",
                   help="with --out: also write clean/ (rows that passed, input "
                        "schema) and quarantine/ (failing rows + _failures structs)")
    v.add_argument("--max-violations-per-check", type=int, default=None,
                   help="bound the written violations per check (counts stay exact)")
    v.add_argument("--snapshot-id", type=int, default=None, help="Iceberg snapshot pin")
    v.add_argument("--cores", type=int, default=None, help="local[cores] when not under spark-submit")
    v.add_argument("--keep-session", action="store_true", help=argparse.SUPPRESS)
    v.set_defaults(fn=cmd_validate)

    s = sub.add_parser("stats", help="column stats only (one aggregation pass)")
    s.add_argument("--table", required=True)
    s.add_argument("--columns", nargs="*", default=None)
    s.add_argument("--out", help="output table/path for the stats frame")
    s.add_argument("--snapshot-id", type=int, default=None)
    s.add_argument("--cores", type=int, default=None)
    s.add_argument("--keep-session", action="store_true", help=argparse.SUPPRESS)
    s.set_defaults(fn=cmd_stats)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
