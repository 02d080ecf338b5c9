"""Structured Streaming incremental validation.

The reference is strictly batch (SURVEY.md §2.6: no streaming operators);
this is the engine's forward extension for continuously-landing transcript
data, built on the standard Spark streaming surfaces:

- stateless rule evaluation: the SAME compiled rule projection as batch
  (rules.compiler) applied to a readStream — violations stream out per
  micro-batch; scalar semantics are identical to batch by construction.
- windowed verdict aggregation: event-time window on ts + watermark for
  late data -> per (window, ds) error/warning counts (update mode).
- stateful cross-turn rules: per-conversation ordering invariants
  (turn contiguity, ts monotonicity, J10 duplicate keys) need memory of
  the last seen turn across micro-batches -> applyInPandasWithState with
  per-conv_id GroupState {last_turn_idx, last_ts, seen_keys_hash...}.

Batch/stream equivalence is asserted in tests: one availableNow pass over
the dataset must produce exactly the batch pipeline's violations.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..rules.compiler import compile_row_rules
from ..rules.spec import RuleSpec

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ds", T.DateType()),
    ]
)


def read_transcript_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    enforce_schema: bool = True,
) -> DataFrame:
    """readStream with the declared transcript schema. A readStream with an
    explicit StructType silently DROPS unknown columns (operators/schema.py
    docstring), so P17 rides here as a one-time batch METADATA check of the
    source directory before the stream is wired — a drifted landing zone
    raises SchemaDriftError instead of quietly validating a narrower table.
    enforce_schema=False opts out (the --allow-schema-drift analog)."""
    if enforce_schema:
        from ..operators.schema import TRANSCRIPT_EXPECTED, schema_check
        from ..plans.checkpoint import SchemaDriftError

        current = spark.read.parquet(f"{path}/transcripts")
        drift = [r.asDict() for r in schema_check(current, TRANSCRIPT_EXPECTED).collect()]
        if drift:
            raise SchemaDriftError(drift)
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(f"{path}/transcripts")


def stream_scalar_violations(stream: DataFrame, rules: list[RuleSpec]) -> DataFrame:
    """Stateless: identical projection to the batch compiler."""
    return compile_row_rules(stream, rules)


def stream_windowed_verdicts(
    stream: DataFrame,
    rules: list[RuleSpec],
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed error/warning counts with a watermark for late
    data. Output (append mode after watermark close): one row per
    (ds, time window)."""
    from ..rules.compiler import rules_flags

    he, hw = rules_flags(rules)
    flags = stream.withWatermark("ts", watermark).select(
        "ds", "ts", he.alias("has_error"), hw.alias("has_warning")
    )
    return flags.groupBy("ds", F.window("ts", window).alias("w")).agg(
        F.count(F.lit(1)).alias("total_turns"),
        F.sum(F.col("has_error").cast("long")).alias("error_turns"),
        F.sum((F.col("has_warning") & ~F.col("has_error")).cast("long")).alias(
            "warning_turns"
        ),
    )


_STATE_SCHEMA = "last_turn_idx int, last_ts long, last_role string, dup_count int"
_OUT_SCHEMA = (
    "conv_id string, turn_idx int, rule_id string, severity string, "
    "scope string, observed string"
)


def _ordering_rules_state_fn(allowed_transitions: set[str], valid_roles: set[str]):
    """Stateful per-conversation ordering invariants: gap (warning),
    non-monotonic ts (error), bad role transition (error). State carries
    the last (turn_idx, ts, role) so invariants hold ACROSS micro-batches."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        if state.exists:
            vals = tuple(state.get)
            if len(vals) == 3:
                # pre-dup_count checkpoint state (schema grew by one
                # field): default the counter rather than die unpacking.
                # NOTE Spark validates state schema compatibility against
                # the checkpoint and normally rejects the widened schema
                # before user code runs — restarting an old stream on the
                # new engine needs a fresh --checkpoint dir; this guard
                # covers stores that skip/relax that validation.
                last_idx, last_ts, last_role = vals
                dup_count = 0
            else:
                last_idx, last_ts, last_role, dup_count = vals
        else:
            last_idx, last_ts, last_role, dup_count = None, None, None, 0
        out: list[dict[str, Any]] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["turn_idx", "ts"])
            for r in pdf.itertuples(index=False):
                idx = int(r.turn_idx)
                ts_us = int(pd.Timestamp(r.ts).value // 1000)
                role = r.role
                if last_idx is not None:
                    if idx == last_idx:
                        # J10 across micro-batches: the stream replays the
                        # key the state already recorded — the same
                        # one-tail duplicate semantic the checkpoint
                        # boundary semi-join implements (a duplicate of an
                        # OLDER turn is indistinguishable from a late
                        # arrival with last-turn state and surfaces via
                        # R_ts_monotonic instead, as in batch). observed
                        # carries the RUNNING copy count from the carried
                        # state: an n-copy key emits n-1 rows ('2'..'n'),
                        # each superseding the last — append mode cannot
                        # retract, so the refinement is monotone and the
                        # FINAL row per key equals the batch
                        # uniqueness_rule row (observed = total count).
                        # Aggregating consumers take max(observed) per key.
                        dup_count += 1
                        out.append(
                            dict(
                                conv_id=conv_id, turn_idx=idx,
                                rule_id="R_turn_unique", severity="error",
                                scope="turn", observed=str(dup_count),
                            )
                        )
                    if idx > last_idx + 1:
                        out.append(
                            dict(
                                conv_id=conv_id, turn_idx=idx,
                                rule_id="R_turn_contiguous", severity="warning",
                                scope="turn", observed=f"{last_idx}->{idx}",
                            )
                        )
                    if last_ts is not None and ts_us < last_ts:
                        out.append(
                            dict(
                                conv_id=conv_id, turn_idx=idx,
                                rule_id="R_ts_monotonic", severity="error",
                                scope="turn",
                                observed=str(pd.Timestamp(ts_us * 1000)),
                            )
                        )
                    if (
                        idx == last_idx + 1
                        and role in valid_roles
                        and last_role in valid_roles
                        and f"{last_role}->{role}" not in allowed_transitions
                    ):
                        out.append(
                            dict(
                                conv_id=conv_id, turn_idx=idx,
                                rule_id="R_role_transition", severity="error",
                                scope="turn", observed=f"{last_role}->{role}",
                            )
                        )
                if idx != last_idx:
                    dup_count = 1  # first sighting of this key
                last_idx, last_ts, last_role = idx, ts_us, role
        state.update((last_idx, last_ts, last_role, dup_count))
        yield pd.DataFrame(
            out,
            columns=[
                "conv_id", "turn_idx", "rule_id", "severity", "scope", "observed",
            ],
        )

    return fn


def stream_ordering_violations(
    stream: DataFrame,
    allowed_transitions: list[tuple[str, str]],
    valid_roles: list[str],
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): the
    streaming twin of operators.joins.window_rules. Arrow-batched; the
    per-row Python here is bounded by NEW rows per conversation per
    micro-batch, not corpus size."""
    fn = _ordering_rules_state_fn(
        {f"{a}->{b}" for a, b in allowed_transitions}, set(valid_roles)
    )
    return (
        stream.select("conv_id", "turn_idx", "role", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_available_now_memory(
    stream_df: DataFrame, name: str, mode: str = "update"
) -> None:
    """Drain to an in-memory table (update mode: open windows included —
    a parquet sink in append mode would hold back windows the watermark
    hasn't closed yet, which is correct for production but not for
    whole-dataset equivalence checks)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(stream_df: DataFrame, checkpoint: str, out_path: str) -> None:
    """Drain everything currently in the source (Trigger.AvailableNow) to a
    parquet sink — the batch-equivalence harness used by tests."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
