"""Checkpoint/resume: manifest of per-partition lineage + metrics so a
killed run re-validates only incomplete partitions (north_rule).

Reference analog: the prefetch caches that skip already-fetched ids
(generic_validator_classes.py:163-167,346-349) — generalized to partition-
level lineage. The manifest records (partition, ruleset_hash, status,
metrics, wall_sec); a changed ruleset hash invalidates prior entries.

Layout under checkpoint_dir:
    manifest/part=<ds>.json        one tiny JSON per completed partition
    violations/ds=<ds>/*.parquet   per-partition violation rows
    verdicts/ds=<ds>/*.parquet     per-partition verdict row
    stats/ds=<ds>/*.parquet        sketch state (column profile)
    tails/ds=<ds>/*.parquet        boundary state: last turn per
                                   conversation in that partition

Partition-grained atomicity: a partition's manifest entry is written only
AFTER its outputs land, so a kill mid-partition leaves no entry and the
partition reruns cleanly (outputs are overwritten idempotently).

Cross-partition window semantics: partitions are validated in sorted ds
order, each on the same fused plan as the batch CLI
(plans/fused.validate_transcripts_fused), and each receives the LAST turn
per conversation from all earlier completed partitions (the `tails`
boundary state, one row per conversation per partition — metadata-sized
at any scale) as its window_context carry-in. A conversation spanning ds
values therefore gets the same R_ts_monotonic / R_turn_contiguous /
R_role_transition verdicts as the non-checkpoint fused run, provided
partition order respects turn order (late-arriving out-of-order turns are
flagged at the boundary, not silently re-sorted — the same contract as
the streaming path). Uniqueness stays partition-scoped here except for a
partition row re-using a carried tail key, which the carry-in's
whole-key count catches; a fully global uniqueness pass requires the
single fused run.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..rules.spec import RuleSpec, ruleset_hash


@dataclass
class PartitionStatus:
    partition: str
    ruleset_hash: str
    status: str
    total_turns: int
    n_violations: int
    verdict: str
    wall_sec: float
    schema_hash: str = ""  # P17: table-contract hash the partition passed


class SchemaDriftError(RuntimeError):
    """P17 on the resume path: the input table no longer conforms to the
    declared column contract (unknown/missing/retyped columns). Raised
    BEFORE any partition work so a resume over drifted data fails fast
    (CLI maps this to exit code 2, same as the batch-path gate)."""

    def __init__(self, violations: list):
        self.violations = violations
        super().__init__(
            "schema drift: "
            + "; ".join(f"{r['rule_id']} {r['observed']}" for r in violations)
        )


def schema_contract_hash(expected: dict[str, str]) -> str:
    import hashlib

    return hashlib.sha256(
        json.dumps(sorted(expected.items())).encode()
    ).hexdigest()[:16]


def _manifest_dir(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest")


def read_manifest(checkpoint_dir: str) -> dict[str, PartitionStatus]:
    mdir = _manifest_dir(checkpoint_dir)
    out: dict[str, PartitionStatus] = {}
    if not os.path.isdir(mdir):
        return out
    for fn in os.listdir(mdir):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                d = json.load(f)
            out[d["partition"]] = PartitionStatus(**d)
    return out


def _write_manifest_entry(checkpoint_dir: str, st: PartitionStatus) -> None:
    mdir = _manifest_dir(checkpoint_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".{st.partition}.tmp")
    with open(tmp, "w") as f:
        json.dump(st.__dict__, f)
    os.replace(tmp, os.path.join(mdir, f"{st.partition}.json"))  # atomic


def pending_partitions(
    facts: DataFrame,
    checkpoint_dir: str,
    rules: list[RuleSpec],
    partition_col: str = "ds",
) -> tuple[list[str], list[str]]:
    """(to_run, skipped): partitions without a completed manifest entry
    under the CURRENT ruleset hash. On a real deployment the partition
    list comes from the Iceberg manifest (metadata-only); here a distinct
    over the partition column of a partitioned parquet read is equally
    metadata-cheap."""
    rh = ruleset_hash(rules)
    done = {
        p
        for p, st in read_manifest(checkpoint_dir).items()
        if st.status == "complete" and st.ruleset_hash == rh
    }
    all_parts = sorted(
        str(r[0]) for r in facts.select(partition_col).distinct().collect()
    )
    return [p for p in all_parts if p not in done], [p for p in all_parts if p in done]


def run_with_checkpoint(
    spark: SparkSession,
    facts: DataFrame,
    dims: dict[str, DataFrame],
    checkpoint_dir: str,
    rules: list[RuleSpec] | None = None,
    partition_col: str = "ds",
    fail_after: int | None = None,
    expected_schema: dict[str, str] | None = None,
    enforce_schema: bool = True,
) -> dict:
    """Validate partition-by-partition, checkpointing each. `fail_after`
    kills the run after N partitions (for resume tests).

    P17 rides the resume path too: before ANY partition work the facts
    schema is asserted against `expected_schema` (default: the transcript
    input contract) — a resume over a drifted table raises
    SchemaDriftError instead of silently re-validating partitions under a
    different column set; the passing contract's hash is recorded in every
    manifest entry alongside the ruleset hash. Set enforce_schema=False
    (CLI --allow-schema-drift) to skip.

    Returns {"ran": [...], "skipped": [...], "manifest": {...}}.

    Note: per-partition looping is the correct grain here BECAUSE the
    checkpoint contract is per-partition lineage; each iteration's filter
    is partition-pruned at the parquet/Iceberg scan, so partition P's run
    reads only partition P's files."""
    from ..operators.schema import TRANSCRIPT_EXPECTED, schema_check
    from . import rulesets
    from .fused import validate_transcripts_fused

    declared = expected_schema if expected_schema is not None else TRANSCRIPT_EXPECTED
    sh = schema_contract_hash(declared) if enforce_schema else ""
    if enforce_schema:
        drift = [r.asDict() for r in schema_check(facts, declared).collect()]
        if drift:
            raise SchemaDriftError(drift)

    if rules is None:
        rules = rulesets.transcript_scalar_rules()
    rh = ruleset_hash(rules)
    to_run, skipped = pending_partitions(facts, checkpoint_dir, rules, partition_col)

    done: list[str] = list(skipped)  # completed = always a sorted prefix
    ran: list[str] = []
    for i, part in enumerate(to_run):
        if fail_after is not None and i >= fail_after:
            break
        t0 = time.time()
        part_facts = facts.where(F.col(partition_col).cast("string") == part)
        ctx = _load_tail_context(spark, checkpoint_dir, done, part, partition_col)
        res = validate_transcripts_fused(
            part_facts,
            dims,
            scalar_rules=rules,
            partition_col=partition_col,
            window_context=ctx,
        )
        vio_path = os.path.join(checkpoint_dir, "violations", f"ds={part}")
        ver_path = os.path.join(checkpoint_dir, "verdicts", f"ds={part}")
        res.canonical_violations().drop(partition_col).write.mode("overwrite").parquet(vio_path)
        res.verdicts.withColumn(partition_col, F.col(partition_col).cast("string")).write.mode(
            "overwrite"
        ).parquet(ver_path)
        # sketch state (north_rule): per-partition column profile — HLL++
        # distinct estimates + KLL-class quantiles — persisted alongside
        # the lineage entry so drift checks can compare snapshots without
        # re-scanning completed partitions
        from ..operators.stats import column_stats

        stats_path = os.path.join(checkpoint_dir, "stats", f"ds={part}")
        column_stats(part_facts, partition_col=partition_col).drop(
            partition_col
        ).write.mode("overwrite").parquet(stats_path)
        # boundary state: last turn per conversation (one tiny row each) —
        # the lag context later partitions stitch their windows onto
        from pyspark.sql import Window

        w_last = Window.partitionBy("conv_id").orderBy(F.desc("turn_idx"), F.desc("ts"))
        part_facts.select("conv_id", "turn_idx", partition_col, "role", "ts").withColumn(
            "__rn", F.row_number().over(w_last)
        ).where(F.col("__rn") == 1).drop("__rn").write.mode("overwrite").parquet(
            os.path.join(checkpoint_dir, "tails", f"ds={part}")
        )
        verdict_row = spark.read.parquet(ver_path).first()
        n_vio = spark.read.parquet(vio_path).count()
        _write_manifest_entry(
            checkpoint_dir,
            PartitionStatus(
                partition=part,
                ruleset_hash=rh,
                status="complete",
                total_turns=int(verdict_row["total_turns"]) if verdict_row else 0,
                n_violations=int(n_vio),
                verdict=str(verdict_row["verdict"]) if verdict_row else "pass",
                wall_sec=round(time.time() - t0, 3),
                schema_hash=sh,
            ),
        )
        ran.append(part)
        done.append(part)

    return {"ran": ran, "skipped": skipped, "manifest": read_manifest(checkpoint_dir)}


def _load_tail_context(
    spark: SparkSession,
    checkpoint_dir: str,
    done: list[str],
    part: str,
    partition_col: str,
) -> DataFrame | None:
    """Latest tail row per conversation across all completed partitions
    earlier than `part` — the carry-in lag rows for window stitching.
    Volume: one row per (conversation, partition); the reduction to one
    row per conversation is a tiny window over that."""
    from pyspark.sql import Window

    paths = [
        os.path.join(checkpoint_dir, "tails", f"ds={p}")
        for p in done
        if p < part and os.path.isdir(os.path.join(checkpoint_dir, "tails", f"ds={p}"))
    ]
    if not paths:
        return None
    tails = spark.read.parquet(*paths)
    w = Window.partitionBy("conv_id").orderBy(
        F.desc(partition_col), F.desc("turn_idx"), F.desc("ts")
    )
    return (
        tails.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def load_results(spark: SparkSession, checkpoint_dir: str) -> dict[str, DataFrame]:
    out = {
        "violations": spark.read.option("basePath", os.path.join(checkpoint_dir, "violations")).parquet(
            os.path.join(checkpoint_dir, "violations", "ds=*")
        ),
        "verdicts": spark.read.parquet(os.path.join(checkpoint_dir, "verdicts", "ds=*")),
    }
    stats_dir = os.path.join(checkpoint_dir, "stats")
    if os.path.isdir(stats_dir):
        out["stats"] = spark.read.option("basePath", stats_dir).parquet(
            os.path.join(stats_dir, "ds=*")
        )
    return out
