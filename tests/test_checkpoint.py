"""Resume test (SURVEY.md §5 item 5): kill after K of N partitions,
restart, assert only N-K are revalidated and results equal an
uninterrupted run."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from faang_pydantics_validation_spark.plans import checkpoint as CP
from faang_pydantics_validation_spark.plans.pipeline import validate_transcripts
from faang_pydantics_validation_spark.plans.rulesets import transcript_scalar_rules
from faang_pydantics_validation_spark.rules.spec import RuleSpec


def test_kill_resume_equivalence(spark, dataset, tmp_path):
    facts = dataset["transcripts"]
    ckpt = str(tmp_path / "ckpt")

    # killed run: 2 of 4 partitions complete
    r1 = CP.run_with_checkpoint(spark, facts, dataset, ckpt, fail_after=2)
    assert len(r1["ran"]) == 2 and len(r1["skipped"]) == 0
    assert len(glob.glob(f"{ckpt}/manifest/*.json")) == 2

    # resume: only the remaining 2 run
    r2 = CP.run_with_checkpoint(spark, facts, dataset, ckpt)
    assert sorted(r2["skipped"]) == sorted(r1["ran"])
    assert len(r2["ran"]) == 2
    assert set(r1["ran"]) | set(r2["ran"]) == {
        str(x[0]) for x in facts.select("ds").distinct().collect()
    }

    # third run: everything skipped
    r3 = CP.run_with_checkpoint(spark, facts, dataset, ckpt)
    assert r3["ran"] == [] and len(r3["skipped"]) == 4

    # checkpointed results == uninterrupted in-memory run
    loaded = CP.load_results(spark, ckpt)
    direct = validate_transcripts(facts, dataset)
    cmp_cols = ["conv_id", "turn_idx", "rule_id", "severity", "scope", "observed"]
    assert (
        loaded["violations"].select(*cmp_cols).exceptAll(direct.violations.select(*cmp_cols)).count()
        == 0
    )
    assert (
        direct.violations.select(*cmp_cols).exceptAll(loaded["violations"].select(*cmp_cols)).count()
        == 0
    )
    dv = {str(r["ds"]): r for r in direct.verdicts.collect()}
    for r in loaded["verdicts"].collect():
        d = dv[str(r["ds"])]
        assert (r["total_turns"], r["error_turns"], r["verdict"]) == (
            d["total_turns"],
            d["error_turns"],
            d["verdict"],
        )

    # manifest carries lineage + metrics
    for st in r3["manifest"].values():
        assert st.status == "complete" and st.wall_sec >= 0 and st.total_turns > 0

    # sketch state persisted per partition (HLL++ distinct + quantiles)
    stats = loaded["stats"]
    srows = stats.collect()
    assert {str(r["ds"]) for r in srows} == set(r1["ran"]) | set(r2["ran"])
    a_turn = next(r for r in srows if r["column"] == "turn_idx")
    assert a_turn["approx_distinct"] > 0 and a_turn["quantiles"] is not None


def test_ruleset_change_invalidates_checkpoint(spark, dataset, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    facts = dataset["transcripts"].where(F.col("ds") == F.lit("2026-01-01").cast("date"))
    CP.run_with_checkpoint(spark, facts, dataset, ckpt)
    r = CP.run_with_checkpoint(spark, facts, dataset, ckpt)
    assert r["ran"] == []  # same rules -> skip

    changed = transcript_scalar_rules() + [
        RuleSpec("R_extra", "required", ("tool",), severity="warning")
    ]
    r2 = CP.run_with_checkpoint(spark, facts, dataset, ckpt, rules=changed)
    assert len(r2["ran"]) == 1  # hash changed -> rerun


def test_resume_after_schema_drift_fails_fast(spark, dataset, tmp_path):
    """P17 on the resume path: a checkpointed run whose input table later
    drifts (here: an extra column) must raise SchemaDriftError BEFORE any
    partition work — and the CLI maps it to rc 2."""
    import pytest

    facts = dataset["transcripts"]
    ckpt = str(tmp_path / "ckpt_drift")
    r1 = CP.run_with_checkpoint(spark, facts, dataset, ckpt, fail_after=1)
    assert len(r1["ran"]) == 1
    # every manifest entry records the schema-contract hash it passed
    st = next(iter(r1["manifest"].values()))
    assert st.schema_hash != ""

    drifted = facts.withColumn("typo_col", F.lit(1))
    with pytest.raises(CP.SchemaDriftError, match="R_unknown_column"):
        CP.run_with_checkpoint(spark, drifted, dataset, ckpt)
    # nothing beyond the first partition ran
    assert len(CP.read_manifest(ckpt)) == 1

    # explicit opt-out resumes anyway (the --allow-schema-drift analog)
    r2 = CP.run_with_checkpoint(spark, drifted, dataset, ckpt, enforce_schema=False)
    assert len(r2["skipped"]) == 1 and len(r2["ran"]) >= 1


def test_cli_checkpoint_schema_drift_rc2(spark, dataset, tmp_path, monkeypatch):
    from pyspark.sql import SparkSession

    from faang_pydantics_validation_spark.jobs import validate_cli

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    data_dir = str(tmp_path / "data_drift")
    dataset["transcripts"].withColumn("typo_col", F.lit(1)).write.mode(
        "overwrite"
    ).parquet(f"{data_dir}/transcripts")
    rc = validate_cli.main(
        ["--input", data_dir, "--checkpoint", str(tmp_path / "ckpt_cli_drift")]
    )
    assert rc == 2


def test_cli_conv_dim_join_shuffle(spark, dataset, tmp_path, monkeypatch):
    """--conv-dim-join shuffle forces the post-exchange J6 tag through the
    CLI and the run still completes with the same verdict totals."""
    from pyspark.sql import SparkSession

    from faang_pydantics_validation_spark.jobs import validate_cli

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    data_dir = str(tmp_path / "data_shuffle")
    dataset["transcripts"].write.mode("overwrite").parquet(f"{data_dir}/transcripts")
    for n in ("dim_roles", "dim_tools", "dim_conversations", "allowed_transitions"):
        dataset[n].write.mode("overwrite").parquet(f"{data_dir}/{n}")
    rc = validate_cli.main(["--input", data_dir, "--conv-dim-join", "shuffle"])
    assert rc == 0


def test_cli_batch_leaves_no_persisted_rdd(spark, dataset, tmp_path, monkeypatch):
    """The batch CLI persists its violations for the parquet sinks, the
    results JSON and the report; main() must release them before it
    returns (a long-lived session would otherwise keep one cached
    violation set per run)."""
    from pyspark.sql import SparkSession

    from faang_pydantics_validation_spark.jobs import validate_cli

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    data_dir = str(tmp_path / "data_unpersist")
    dataset["transcripts"].write.mode("overwrite").parquet(f"{data_dir}/transcripts")
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = persisted()
    rc = validate_cli.main(
        ["--input", data_dir, "--out", str(tmp_path / "out_unpersist"), "--report"]
    )
    assert rc == 0
    assert persisted() - before == set()


# Spark jobs one run_with_checkpoint over the conftest dataset (4 ds
# partitions) may launch; measured at local[4] with 4 shuffle partitions
CHECKPOINT_JOB_BUDGET = 136


def test_checkpoint_job_budget(spark, dataset, tmp_path):
    for df in dataset.values():  # materialize the cached fixture outside the group
        df.count()
    sc = spark.sparkContext
    group = "test_checkpoint_job_budget"
    sc.setJobGroup(group, "job budget of a 4-partition checkpointed run")
    try:
        res = CP.run_with_checkpoint(spark, dataset["transcripts"], dataset, str(tmp_path / "ck"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(res["ran"]) == 4
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= CHECKPOINT_JOB_BUDGET, n_jobs
