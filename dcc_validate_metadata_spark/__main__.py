"""Command-line entry point — the spark-submit user surface.

    spark-submit --py-files engine.zip -m dcc_validate_metadata_spark ...
    # or locally:
    python -m dcc_validate_metadata_spark validate --input T --out O

Subcommands
-----------
validate   : run the full validation pipeline (violations, verdicts,
             manifest; optional column stats + drift report); resumable.
stream     : availableNow streaming validation over a landing directory.
gen-table  : synthesize a deterministic image+caption table (executor-
             side generation; for tests/benchmarks).
annotate   : write the wide per-field issues overlay for a validated run.

Every subcommand exits 0 on success; ``validate`` exits 2 when any
partition FAILED validation (CI-friendly), 0 when all passed.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def _spark(app: str, master: str | None):
    from .session import get_spark

    return get_spark(app, master=master)


def cmd_validate(args) -> int:
    from .plans.pipeline import run_validation

    spark = _spark("dcc-validate", args.master)
    ontology = (
        spark.read.parquet(args.ontology) if args.ontology else None
    )
    gt = spark.read.parquet(args.ground_truth) if args.ground_truth else None
    drift_ref = json.loads(args.drift_reference) if args.drift_reference else None
    ruleset = None
    if getattr(args, "ruleset", None):
        from .rules.model import load_ruleset

        ruleset = load_ruleset(args.ruleset)
    r = run_validation(
        spark,
        args.input,
        args.out,
        ruleset=ruleset,
        ontology=ontology,
        gt=gt,
        resume=not args.no_resume,
        with_stats=args.stats,
        drift_reference=drift_ref,
        decode_rebalance=args.decode_rebalance,
    )
    verdicts = r.verdict_rows or []
    n_fail = sum(1 for v in verdicts if not v["pass"])
    print(
        json.dumps(
            {
                "rows_validated": r.n_rows,
                "skipped_partitions": r.skipped_partitions,
                "partitions": len(verdicts),
                "failed_partitions": n_fail,
                "elapsed_sec": round(r.elapsed_sec, 2),
                "out": args.out,
            }
        )
    )
    spark.stop()
    return 2 if n_fail else 0


def cmd_stream(args) -> int:
    from .streaming import stream_status_events, validate_stream

    spark = _spark("dcc-validate-stream", args.master)
    ontology = spark.read.parquet(args.ontology) if args.ontology else None
    validate_stream(spark, args.input, args.out, ontology=ontology)
    events = stream_status_events(args.out)
    print(json.dumps({"batches": len(events), "events": events[-3:]}))
    spark.stop()
    return 0


def cmd_gen_table(args) -> int:
    from .sources.image_table import generate_image_table_distributed

    spark = _spark("dcc-gen-table", args.master)
    generate_image_table_distributed(
        spark, args.out, n_rows=args.rows, seed=args.seed, hw=args.hw
    )
    print(json.dumps({"out": args.out, "rows": args.rows, "hw": args.hw}))
    spark.stop()
    return 0


def cmd_annotate(args) -> int:
    from .plans.pipeline import build_annotated
    from .sources.image_table import load_image_table

    spark = _spark("dcc-annotate", args.master)
    df = load_image_table(spark, args.input)
    violations = spark.read.parquet(f"{args.run_dir}/violations").select(
        "fmt", "bucket", "image_id", "field", "severity", "message"
    )
    out = f"{args.run_dir}/annotated"
    build_annotated(df, violations).write.mode("overwrite").parquet(out)
    print(json.dumps({"out": out}))
    spark.stop()
    return 0


def cmd_validate_workbook(args) -> int:
    """The reference's primary user flow (upload template → validate →
    colour-coded annotated template): xlsx in, violations parquet +
    annotated xlsx + submission status out. Exit 2 on 'Fix issues'."""
    import dataclasses

    from pyspark.sql import functions as F

    from .rules.faang_schema import (
        chipseq_ruleset,
        load_faang_ruleset,
        organism_ruleset,
    )
    from .sources.sheet_ingest import validate_workbook
    from .sources.xlsx import (
        read_workbook,
        workbook_to_dataframes,
        write_annotated_workbook,
    )

    spark = _spark("dcc-validate-workbook", args.master)
    if args.type_schema:
        rs, spec = load_faang_ruleset(
            args.type_schema,
            args.core_schema,
            table=args.sheet or None,
            module_paths=args.module_schema or None,
        )
    elif args.realm == "experiments":
        # vendored experiments realm: ChIP-seq type + experiments core
        # (the reference's ALLOWED_EXPERIMENTS_TYPES flow)
        rs, spec = chipseq_ruleset()
    else:
        rs, spec = organism_ruleset()
    # record-name column: experiments sheets key rows by the sample they
    # describe (sample_descriptor), samples sheets by sample_name
    name_field = args.name_field or (
        "sample_descriptor" if args.realm == "experiments" else "sample_name"
    )
    args.name_field = name_field
    spec = dataclasses.replace(
        spec, type_fields=spec.type_fields + (args.name_field,)
    )
    sheets_df = workbook_to_dataframes(spark, args.input)
    if args.sheet:
        sheets_df = {k: v for k, v in sheets_df.items() if k == args.sheet}
        if not sheets_df:
            print(json.dumps({"error": f"no sheet {args.sheet!r} in workbook"}))
            return 1
    ontologies = {}
    for item in args.ontology or ():
        onto_name, _, onto_path = item.partition("=")
        if not onto_path:
            print(json.dumps({"error": f"--ontology wants NAME=path, got {item!r}"}))
            return 1
        ontologies[onto_name] = spark.read.parquet(onto_path)
    specs = {}
    rulesets = {}
    for name in sheets_df:
        specs[name] = dataclasses.replace(spec, name=name)
        rulesets[name] = rs
    violations, status = validate_workbook(
        sheets_df,
        specs,
        rulesets,
        name_field=args.name_field,
        ontologies=ontologies or None,
    )
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    violations.write.mode("overwrite").parquet(str(out / "violations"))
    viol_disk = spark.read.parquet(str(out / "violations"))
    write_annotated_workbook(
        out / "annotated.xlsx",
        read_workbook(args.input),
        viol_disk,
        sheet_name_field=args.name_field,
    )
    counts = {
        r["severity"]: r["n"]
        for r in viol_disk.groupBy("severity")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(
        json.dumps(
            {
                "status": status,
                "n_errors": int(counts.get("error", 0)),
                "n_warnings": int(counts.get("warning", 0)),
                "out": str(out),
            }
        )
    )
    spark.stop()
    return 2 if status == "Fix issues" else 0


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dcc_validate_metadata_spark")
    p.add_argument("--master", default=None, help="Spark master override")
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="run the validation pipeline")
    v.add_argument("--input", required=True)
    v.add_argument("--out", required=True)
    v.add_argument("--ontology", default=None)
    v.add_argument("--ground-truth", default=None)
    v.add_argument(
        "--ruleset", default=None,
        help="declarative ruleset JSON (FIXTURES.md §2 shape); "
        "default: the built-in image ruleset",
    )
    v.add_argument("--no-resume", action="store_true")
    v.add_argument("--stats", action="store_true")
    v.add_argument(
        "--decode-rebalance", type=_positive_int, default=None, metavar="N",
        help="hash-repartition the decode branch into N tasks before the "
        "Arrow stage — spreads megapixel rows that cluster in "
        "size-sorted storage layouts (costs a shuffle of the image "
        "payload; unnecessary for randomly-laid-out tables)",
    )
    v.add_argument(
        "--drift-reference", default=None,
        help='JSON partition ref, e.g. {"fmt": "jpeg"}',
    )
    v.set_defaults(fn=cmd_validate)

    s = sub.add_parser("stream", help="availableNow streaming validation")
    s.add_argument("--input", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--ontology", default=None)
    s.set_defaults(fn=cmd_stream)

    g = sub.add_parser("gen-table", help="synthesize an image+caption table")
    g.add_argument("--out", required=True)
    g.add_argument("--rows", type=int, default=10_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--hw", type=int, default=32)
    g.set_defaults(fn=cmd_gen_table)

    a = sub.add_parser("annotate", help="write the wide issues overlay")
    a.add_argument("--input", required=True)
    a.add_argument("--run-dir", required=True)
    a.set_defaults(fn=cmd_annotate)

    w = sub.add_parser(
        "validate-workbook",
        help="validate an .xlsx template, write the annotated workbook",
    )
    w.add_argument("--input", required=True, help="path to the .xlsx template")
    w.add_argument("--out", required=True)
    w.add_argument(
        "--type-schema", default=None,
        help="FAANG metadata_rules.json path (default: vendored organism)",
    )
    w.add_argument("--core-schema", default=None)
    w.add_argument(
        "--module-schema", action="append", default=None,
        help="module metadata_rules.json (repeatable)",
    )
    w.add_argument(
        "--ontology", action="append", default=None, metavar="NAME=PARQUET",
        help="ontology snapshot for graph/label checks (repeatable, "
        "e.g. PATO=/data/pato.parquet)",
    )
    w.add_argument("--sheet", default=None, help="validate only this sheet")
    w.add_argument(
        "--realm", choices=("samples", "experiments"), default="samples",
        help="vendored ruleset realm when no --type-schema is given "
        "(experiments = ChIP-seq type + experiments core)",
    )
    w.add_argument(
        "--name-field", default=None,
        help="record-name column (default: sample_name, or "
        "sample_descriptor for --realm experiments)",
    )
    w.set_defaults(fn=cmd_validate_workbook)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
