"""Streaming == batch equivalence for the incremental validation layer."""

from __future__ import annotations

from pyspark.sql import functions as F

from faang_pydantics_validation_spark.datagen import (
    ALLOWED_TRANSITIONS,
    ROLES,
    write_dataset,
)
from faang_pydantics_validation_spark.operators.joins import (
    uniqueness_rule,
    window_rules,
)
from faang_pydantics_validation_spark.plans.rulesets import transcript_scalar_rules
from faang_pydantics_validation_spark.rules.compiler import compile_row_rules
from faang_pydantics_validation_spark.streaming import incremental as S

CMP = ["conv_id", "turn_idx", "rule_id", "severity", "scope", "observed"]


def _setup(spark, tmp_path):
    data_dir = str(tmp_path / "stream_data")
    write_dataset(spark, data_dir, n_convs=80, base_turns=12, hot_mult=5, seed=9)
    return data_dir


def test_stream_scalar_equals_batch(spark, tmp_path):
    data_dir = _setup(spark, tmp_path)
    rules = transcript_scalar_rules()
    stream = S.read_transcript_stream(spark, data_dir)
    out = str(tmp_path / "out_scalar")
    S.run_available_now(
        S.stream_scalar_violations(stream, rules), str(tmp_path / "ck1"), out
    )
    got = spark.read.parquet(out).select(*CMP)
    batch = spark.read.parquet(f"{data_dir}/transcripts")
    want = compile_row_rules(batch, rules).select(*CMP)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert want.count() > 0


def test_stateful_ordering_equals_batch_window_rules(spark, tmp_path):
    data_dir = _setup(spark, tmp_path)
    # plant one cross-file THREE-copy duplicate key (this seed generates
    # none): each appended copy lands in its own parquet file, so with
    # max_files_per_trigger=3 the copies typically arrive in LATER
    # micro-batches than the original — the cross-batch duplicate shape
    # only the carried state can see, at n>2 copies so the running-count
    # refinement ('2' then '3') is exercised, not just the 2-copy shape
    base = spark.read.parquet(f"{data_dir}/transcripts")
    planted = base.orderBy("conv_id", F.desc("turn_idx"), F.desc("ts")).limit(1)
    for _ in range(2):
        planted.write.mode("append").partitionBy("ds").parquet(
            f"{data_dir}/transcripts"
        )
    stream = S.read_transcript_stream(spark, data_dir, max_files_per_trigger=3)
    out = str(tmp_path / "out_state")
    S.run_available_now(
        S.stream_ordering_violations(stream, ALLOWED_TRANSITIONS, ROLES),
        str(tmp_path / "ck2"),
        out,
    )
    raw = spark.read.parquet(out)
    # R_turn_unique is a monotone refinement in append mode: an n-copy key
    # emits n-1 rows with the running count ('2'..'n'); the max-observed
    # row per key is the batch row. Everything else compares row-for-row.
    uniq = (
        raw.where(F.col("rule_id") == "R_turn_unique")
        .groupBy("conv_id", "turn_idx", "rule_id", "severity", "scope")
        .agg(F.max(F.col("observed").cast("int")).cast("string").alias("observed"))
    )
    got = (
        raw.where(F.col("rule_id") != "R_turn_unique")
        .select(*CMP)
        .unionByName(uniq.select(*CMP))
    )
    batch = spark.read.parquet(f"{data_dir}/transcripts")
    allowed = spark.createDataFrame(ALLOWED_TRANSITIONS, "prev_role string, role string")
    # the stateful stream covers the window lag rules AND J10 duplicates
    # (copies of a key are adjacent under the per-batch (turn_idx, ts)
    # sort or hit the carried last-turn state across batches)
    want = (
        window_rules(batch, ROLES, allowed, ds=False).select(*CMP)
        .unionByName(uniqueness_rule(batch, ds=False).select(*CMP))
    )
    # the 3-copy planted key must surface with the TRUE count
    assert (
        uniq.orderBy(F.col("observed").cast("int").desc()).first()["observed"] == "3"
    )
    assert got.exceptAll(want).count() == 0, "stream emitted extra violations"
    assert want.exceptAll(got).count() == 0, "stream missed violations"
    assert want.count() > 0
    assert want.where(F.col("rule_id") == "R_turn_unique").count() > 0


def test_windowed_verdicts_stream(spark, tmp_path):
    data_dir = _setup(spark, tmp_path)
    rules = transcript_scalar_rules()
    stream = S.read_transcript_stream(spark, data_dir)
    S.run_available_now_memory(
        S.stream_windowed_verdicts(stream, rules, window="1 hour", watermark="2 hours"),
        "verdict_stream",
        mode="update",
    )
    got = spark.table("verdict_stream")
    batch = spark.read.parquet(f"{data_dir}/transcripts")
    total_stream = got.agg(F.sum("total_turns")).first()[0]
    assert total_stream == batch.count()
    per_ds_stream = {
        str(r["ds"]): r["errs"]
        for r in got.groupBy("ds").agg(F.sum("error_turns").alias("errs")).collect()
    }
    arr_errors = compile_row_rules(batch, rules).where(F.col("severity") == "error")
    per_ds_batch = {
        str(r["ds"]): r["errs"]
        for r in arr_errors.groupBy("ds")
        .agg(F.countDistinct("conv_id", "turn_idx").alias("errs"))
        .collect()
    }
    for ds, n in per_ds_batch.items():
        assert per_ds_stream.get(ds, 0) == n, (ds, per_ds_stream.get(ds), n)

    # warning-only turns: a warning violation and no error on the turn
    warn_stream = {
        str(r["ds"]): r["warns"]
        for r in got.groupBy("ds").agg(F.sum("warning_turns").alias("warns")).collect()
    }
    per_turn = compile_row_rules(batch, rules).groupBy("ds", "conv_id", "turn_idx").agg(
        F.max((F.col("severity") == "error").cast("int")).alias("e"),
        F.max((F.col("severity") == "warning").cast("int")).alias("w"),
    )
    warn_batch = {
        str(r["ds"]): r["warns"]
        for r in per_turn.where((F.col("w") == 1) & (F.col("e") == 0))
        .groupBy("ds")
        .agg(F.count(F.lit(1)).alias("warns"))
        .collect()
    }
    assert sum(warn_batch.values()) > 0
    for ds in set(warn_stream) | set(warn_batch):
        assert warn_stream.get(ds, 0) == warn_batch.get(ds, 0), (
            ds, warn_stream.get(ds), warn_batch.get(ds)
        )


def test_stream_source_schema_drift_fails_fast(spark, dataset, tmp_path):
    """P17 on the streaming surface: a drifted landing directory raises
    before the stream is wired (the explicit readStream schema would
    otherwise silently drop the unknown column)."""
    import pytest
    from pyspark.sql import functions as F

    from faang_pydantics_validation_spark.plans.checkpoint import SchemaDriftError
    from faang_pydantics_validation_spark.streaming.incremental import (
        read_transcript_stream,
    )

    root = str(tmp_path / "stream_drift")
    dataset["transcripts"].withColumn("typo_col", F.lit(1)).write.mode(
        "overwrite"
    ).parquet(f"{root}/transcripts")
    with pytest.raises(SchemaDriftError, match="R_unknown_column"):
        read_transcript_stream(spark, root)
    # opt-out still wires the (narrowed) stream
    assert read_transcript_stream(spark, root, enforce_schema=False).isStreaming
