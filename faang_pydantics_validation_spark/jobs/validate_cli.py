"""User-facing CLI: the spark-submit equivalent of the reference's
`python main.py` (E1 lifecycle, SURVEY.md §3) — read transcripts + dims,
run the fused rule suite with checkpoint/resume, write parquet sinks and
the JSON results file.

Usage:
    spark-submit --py-files engine.zip \
        faang_pydantics_validation_spark/jobs/validate_cli.py \
        --input DATA_DIR [--checkpoint CKPT_DIR] [--out OUT_DIR] \
        [--master local[8]] [--report]

DATA_DIR layout (what datagen.write_dataset produces / production tables):
    transcripts/  dim_roles/  dim_tools/  dim_conversations/
    allowed_transitions/
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..", "..")))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="validate a transcript dataset")
    ap.add_argument("--input", required=True)
    ap.add_argument("--checkpoint", default=None, help="enable resumable per-partition runs")
    ap.add_argument("--out", default=None, help="write violations/verdicts parquet + results.json")
    ap.add_argument("--master", default=None)
    ap.add_argument("--report", action="store_true", help="print the human report")
    ap.add_argument(
        "--allow-schema-drift",
        action="store_true",
        help="skip the P17 schema gate (unknown/missing/retyped columns)",
    )
    ap.add_argument(
        "--conv-dim-join",
        choices=["auto", "broadcast", "shuffle"],
        default="auto",
        help="J6 conversation-registry join strategy: auto (size-gated on "
        "Catalyst's estimate, default), broadcast (force pre-shuffle "
        "broadcast tag), shuffle (force post-exchange shuffled-hash tag "
        "for fact-scale registries)",
    )
    args = ap.parse_args(argv)

    from faang_pydantics_validation_spark.plans import checkpoint as CP
    from faang_pydantics_validation_spark.plans.fused import validate_transcripts_fused
    from faang_pydantics_validation_spark.plans.verdicts import (
        render_report,
        write_results_json,
    )
    from faang_pydantics_validation_spark.session import get_spark

    spark = get_spark(master=args.master)
    t0 = time.time()
    facts = spark.read.parquet(f"{args.input}/transcripts")

    # P17 gate: unknown/missing/retyped columns fail fast, the columnar
    # analog of the reference's pydantic extra='forbid' (every ruleset
    # Config, e.g. organism_ruleset.py:277-281). Metadata-only: no scan.
    if not args.allow_schema_drift:
        from faang_pydantics_validation_spark.operators.schema import (
            TRANSCRIPT_EXPECTED,
            schema_check,
        )

        schema_rows = schema_check(facts, TRANSCRIPT_EXPECTED).collect()
        if schema_rows:
            for r in schema_rows:
                print(f"schema violation: {r['rule_id']} {r['observed']}", file=sys.stderr)
            print(json.dumps({"schema_errors": len(schema_rows), "verdict": "fail"}))
            spark.stop()
            return 2

    dims = {}
    for name in ("dim_roles", "dim_tools", "dim_conversations", "allowed_transitions"):
        p = f"{args.input}/{name}"
        if os.path.isdir(p):
            dims[name] = spark.read.parquet(p)

    if args.checkpoint:
        try:
            status = CP.run_with_checkpoint(
                spark, facts, dims, args.checkpoint,
                enforce_schema=not args.allow_schema_drift,
            )
        except CP.SchemaDriftError as e:
            # resume-path P17 (belt and braces with the pre-gate above:
            # programmatic callers and --allow-schema-drift-free resumes
            # both fail fast here)
            for r in e.violations:
                print(f"schema violation: {r['rule_id']} {r['observed']}", file=sys.stderr)
            print(json.dumps({"schema_errors": len(e.violations), "verdict": "fail"}))
            spark.stop()
            return 2
        loaded = CP.load_results(spark, args.checkpoint)
        violations, verdicts_df = loaded["violations"], loaded["verdicts"]
        print(
            f"checkpoint: ran {len(status['ran'])} partitions, "
            f"skipped {len(status['skipped'])} (already complete)",
            file=sys.stderr,
        )
    else:
        conv_mode = {"auto": None, "broadcast": True, "shuffle": False}[args.conv_dim_join]
        res = validate_transcripts_fused(
            facts, dims, persist_violations=True, conv_dim_broadcast=conv_mode
        )
        violations, verdicts_df = res.violations, res.verdicts

    try:
        if args.out:
            os.makedirs(args.out, exist_ok=True)
            if not args.checkpoint:  # checkpoint mode already wrote parquet
                violations.write.mode("overwrite").parquet(f"{args.out}/violations")
                verdicts_df.write.mode("overwrite").parquet(f"{args.out}/verdicts")
            write_results_json(f"{args.out}/validation_results.json", verdicts_df, violations)

        rows = [r.asDict() for r in verdicts_df.collect()]
        n_vio = violations.count()
        if args.report:
            from pyspark.sql import functions as F

            rule_counts = [
                r.asDict()
                for r in violations.groupBy("rule_id", "severity")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ]
            print(render_report(rows, rule_counts))
        print(
            json.dumps(
                {
                    "partitions": len(rows),
                    "failed": sum(1 for r in rows if r["verdict"] == "fail"),
                    "violations": n_vio,
                    "wall_sec": round(time.time() - t0, 2),
                }
            )
        )
    finally:
        # the batch path persisted its violations for the sinks above
        violations.unpersist()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
