"""End-to-end validation pipeline: the Spark lifecycle from SURVEY.md §3.

    read -> prep projection -> scalar rule compiler (one wide select)
         -> relational rules (broadcast anti-joins, uniqueness, windows)
         -> union violations -> verdicts -> report/export

Shuffle budget at 100 TB (the thing that matters at 1000 executors):
  - scalar rules: ZERO shuffles (narrow projection + explode)
  - dim joins:    ZERO shuffles (all dims broadcast)
  - uniqueness:   one partial-agg shuffle on (conv_id, turn_idx) — fine
                  grained keys, no skew possible
  - window rules: one shuffle on conv_id (hash) — hot conversations are
                  bounded by turns/conv, and AQE skew handling is on
  - verdicts:     one tiny agg on ds

Every production surface (CLI batch and checkpoint runs, serving) runs
plans/fused.validate_transcripts_fused; this composable per-operator build
is the reference the fused plan is tested against.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datagen import ROLES
from ..operators import joins as RJ
from ..rules.compiler import compile_row_rules
from ..rules.spec import RuleSpec
from . import rulesets
from .verdicts import export_valid, verdicts

VIOLATION_COLS = ["conv_id", "turn_idx", "ds", "rule_id", "severity", "scope", "observed"]


@dataclass
class ValidationResult:
    violations: DataFrame
    verdicts: DataFrame
    facts: DataFrame

    def export(self) -> DataFrame:
        return export_valid(self.facts, self.violations)

    def canonical_violations(self) -> DataFrame:
        """Stable ordering for golden/byte-match comparison
        (north_star: stable turn ordering)."""
        return self.violations.select(*VIOLATION_COLS).orderBy(
            "conv_id", "turn_idx", "rule_id", "observed"
        )


def validate_transcripts(
    facts: DataFrame,
    dims: dict[str, DataFrame],
    scalar_rules: list[RuleSpec] | None = None,
    partition_col: str = "ds",
    persist_violations: bool = False,
    expected_schema: dict[str, str] | None = None,
) -> ValidationResult:
    """Run the full rule suite over a transcripts DataFrame.

    expected_schema (P17): declared column->type contract; unknown/missing/
    retyped columns emit scope='table' violations (driver-side metadata
    check, zero data read). Table-scope rows don't enter per-partition
    verdicts (they have no ds); the CLI gates on them before validating.

    persist_violations=True materializes the violation rows once so the
    verdict aggregation (and any later consumer) doesn't recompute the
    whole rule suite — the in-memory analog of the checkpoint writer's
    write-then-aggregate (plans/checkpoint.py)."""
    if scalar_rules is None:
        scalar_rules = rulesets.transcript_scalar_rules()

    scalar_v = compile_row_rules(
        facts, scalar_rules, key_cols=("conv_id", "turn_idx"), partition_col=partition_col
    )

    parts = [scalar_v.select(*VIOLATION_COLS)]

    if expected_schema is not None:
        from ..operators.schema import schema_check

        sv = schema_check(facts, expected_schema).withColumn(
            partition_col, F.lit(None).cast(facts.schema[partition_col].dataType)
        )
        parts.append(sv.select(*VIOLATION_COLS))

    if "dim_tools" in dims:
        parts.append(
            RJ.anti_join_rule(
                facts, dims["dim_tools"], "tool", "tool_id", "R_tool_exists",
                normalize_term=True,
            ).select(*VIOLATION_COLS)
        )
        parts.append(
            RJ.label_match_rule(
                facts,
                dims["dim_tools"],
                "tool",
                observed_col=F.get(F.split(F.col("text"), ":"), 2),
                dim_key="tool_id",
                dim_label="label",
                rule_id="R_tool_label",
            ).select(*VIOLATION_COLS)
        )
    if "dim_conversations" in dims:
        parts.append(
            RJ.conv_exists_rule(facts, dims["dim_conversations"]).select(*VIOLATION_COLS)
        )
    parts.append(RJ.uniqueness_rule(facts).select(*VIOLATION_COLS))
    parts.append(
        RJ.window_rules(
            facts,
            valid_roles=ROLES,
            allowed_transitions=dims.get("allowed_transitions"),
        ).select(*VIOLATION_COLS)
    )

    violations = parts[0]
    for p in parts[1:]:
        violations = violations.unionByName(p)
    if persist_violations:
        from pyspark import StorageLevel

        violations = violations.persist(StorageLevel.MEMORY_AND_DISK)

    v = verdicts(facts, violations, partition_col=partition_col)
    return ValidationResult(violations=violations, verdicts=v, facts=facts)
