"""Fused validation pipeline: the whole rule suite in ONE pass over the
fact table with ONE fact-sized shuffle.

Plan shape (what .explain shows):
    scan -> broadcast joins (dim_tools x2 + dim_conversations tag)
         -> ONE wide projection: every scalar/dim rule -> struct-or-null,
            packed array                                  [pre-shuffle]
         -> exchange hashpartitioning(conv_id)
         -> ONE sort(conv_id, turn_idx, ts, ds)
         -> window lags (prev_idx/prev_ts/prev_role) + row_number
         -> window count over (conv_id, turn_idx)       [uniqueness — same
            exchange AND sort: HashPartitioning(conv_id) satisfies the
            (conv_id, turn_idx) clustering; the frame is unordered]
         -> violations: filter size>0 + explode        (no further shuffle)
         -> verdicts:   per-row flags -> groupBy(ds)   (partial-agg shuffle
                        of a few KB per task)
Conversation-existence (J6) rides the same pass: rows are tagged
__conv_known pre-shuffle (broadcast left join) and the violation is
emitted on the conversation's first window row (row_number()==1, free
under the shared sort) — J6 adds no scan, no exchange, no distinct.

This is the only production transcript plan: the batch CLI, serving and
every checkpointed partition (plans/checkpoint.py, with its window_context
carry-in) run it. Versus plans.pipeline (the composable per-operator
build, kept as the test reference): same outputs (asserted equal in
tests/test_fused.py and tests/test_cross_partition.py), ~6x fewer
jobs/stages. At 10^12 turns this is the difference between one shuffle
of the fact table and three.

The window partition key is conv_id, so a hot conversation lands on one
task; turns/conversation is bounded (~10^4) while partitions hold ~10^7
rows, so the imbalance is capped at per-task granularity, and AQE
skew-split handles pathological file layouts. The verdict aggregation
keys on ds with map-side partial aggregation — hot partitions cost no
extra shuffle volume (the built-in equivalent of key salting for
algebraic aggregates; see operators/stats.salted_agg for the explicit
two-phase pattern where holistic state is involved).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..rules.compiler import rule_to_struct, rules_flags, _VIOLATION_STRUCT
from ..rules.library import norm_term_colon
from ..rules.spec import RuleSpec, SENTINELS
from . import rulesets
from .pipeline import VIOLATION_COLS, ValidationResult
from .verdicts import verdicts


def _vstruct(rule_id: str, severity: str, observed: Column) -> Column:
    return F.struct(
        F.lit(rule_id).alias("rule_id"),
        F.lit(severity).alias("severity"),
        observed.cast("string").alias("observed"),
    )


def _parse_size_bytes(v: str) -> int:
    s = str(v).strip().lower().rstrip("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    return int(float(s)) * mult


def _fits_broadcast(dim: DataFrame) -> bool:
    """Metadata-only size gate: Catalyst's own plan-size estimate vs the
    session broadcast threshold. No Spark job — reads optimizedPlan stats.
    When the estimate is UNAVAILABLE the gate errs on the SHUFFLE side:
    at real registry scale (multi-GB conv dim) a blind broadcast OOMs the
    driver/executors exactly when the gate matters most, while a spurious
    shuffle of a small dim merely costs one slim exchange."""
    import logging

    try:
        # py4j returns BigInteger for huge estimates and a plain int for
        # small ones — str() round-trip handles both
        size = int(str(dim._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        thr = _parse_size_bytes(
            dim.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        )
        return thr > 0 and size <= thr
    except Exception as e:  # py4j/attribute errors on exotic plans
        logging.getLogger(__name__).warning(
            "broadcast size estimate unavailable (%s); defaulting conv-dim "
            "join to shuffled-hash (safe side)",
            e,
        )
        return False


def validate_transcripts_fused(
    facts: DataFrame,
    dims: dict[str, DataFrame],
    scalar_rules: list[RuleSpec] | None = None,
    partition_col: str = "ds",
    valid_roles: list[str] | None = None,
    persist_violations: bool = False,
    expected_schema: dict[str, str] | None = None,
    fast_verdicts: bool = False,
    conv_dim_broadcast: bool | None = None,
    window_context: DataFrame | None = None,
) -> ValidationResult:
    """fast_verdicts=True computes the verdict table in ONE action straight
    off the pre-explode wide frame (per-row error/warning flags -> one
    map-side-combined groupBy(ds)), instead of aggregating the exploded
    violations: collecting .verdicts then runs the whole suite exactly once
    with zero persist step — the bench/scaling configuration. ONE delta vs
    the classic path: n_conversations is HLL++ approximate
    (approx_count_distinct; exact distinct is a holistic agg and the main
    serial residue at small scale). Error/warning counting is key-grain,
    identical to the classic per_turn aggregation even when both copies of
    a duplicated key violate (asserted in test_fused). Violation rows are
    still available on the result for consumers that want them.

    conv_dim_broadcast gates the J6 registry join: True forces the
    pre-shuffle broadcast tag, False the post-exchange shuffled-hash tag,
    None (default) auto-picks from Catalyst's size estimate vs
    spark.sql.autoBroadcastJoinThreshold.

    window_context: carry-in lag rows for per-partition runs
    (plans/checkpoint.py) — at most one row per conversation, the LAST
    turn of that conversation from earlier partitions, with (conv_id,
    turn_idx, <partition_col>, role, ts). Context rows ride the same
    exchange and lead their conversation's sort (__ctx desc), so a late
    row whose (turn_idx, ts) sorts before the carried tail still pairs
    against it. They act only as lag and key providers: no violation is
    emitted FOR them, and they never take the conversation's first-row
    R_conv_known emission or a key's first-of-key R_turn_unique emission
    from a partition row. A partition row re-using a carried key is a
    duplicate through the whole-key count, not through lag adjacency, so
    it is caught even when a late lower-turn row sorts between the two.
    Needs the classic verdict path (fast_verdicts=False)."""
    if window_context is not None and fast_verdicts:
        raise ValueError("window_context needs fast_verdicts=False")
    if scalar_rules is None:
        scalar_rules = rulesets.transcript_scalar_rules()
    if valid_roles is None:
        from ..datagen import ROLES

        valid_roles = ROLES

    # ---- pre-shuffle phase: everything per-row happens on the scan side -
    # scalar rules, the broadcast dim joins (J1/J3), and the label payload
    # are all row-local, so they are evaluated BEFORE the exchange and only
    # the packed violation array crosses the wire. The shuffle then carries
    # (conv_id, turn_idx, ds, role, ts, array) — the fat text/tool columns
    # never leave the scan stage. At 100 TB this is the difference between
    # shuffling the corpus and shuffling ~1/4 of it.
    pre_structs: list[Column] = [rule_to_struct(r) for r in scalar_rules]
    # boolean severity flags for the SAME rules — the fast-verdict path
    # reads these two bits instead of the packed struct array, so the
    # verdict action never materializes rule_id/observed strings and the
    # whole pre-shuffle projection stays inside whole-stage codegen
    # (measured ~2.5x cheaper than pack + higher-order NULL-filter).
    # Each consumer's column pruning keeps only its own representation:
    # the violations plan computes __pv (never the flags), the fast
    # verdict plan computes the flags (never __pv).
    pre_he, pre_hw = rules_flags(scalar_rules)

    tool_norm = norm_term_colon(F.col("tool").cast("string"))
    joinable = F.col("tool").isNotNull() & ~F.col("tool").cast("string").isin(SENTINELS)
    pre = facts.withColumn("__tool_k", F.when(joinable, tool_norm))
    if "dim_tools" in dims:
        dim_tools = F.broadcast(
            dims["dim_tools"].select(
                F.col("tool_id").alias("__tool_k"),
                F.col("label").alias("__tool_label"),
                F.lit(True).alias("__tool_known"),
            )
        )
        pre = pre.join(dim_tools, on="__tool_k", how="left")
        # J1 tool existence: left-join miss == anti-join hit
        tool_missing = F.col("__tool_k").isNotNull() & F.col("__tool_known").isNull()
        pre_structs.append(
            F.when(tool_missing, _vstruct("R_tool_exists", "error", F.col("tool")))
        )
        pre_he = pre_he | F.coalesce(tool_missing, F.lit(False))
        # J3 label match (warning): payload = 3rd ':'-segment of text
        payload = F.get(F.split(F.col("text"), ":"), 2)
        label_mismatch = (
            F.col("__tool_label").isNotNull()
            & payload.isNotNull()
            & (F.lower(payload) != F.lower(F.col("__tool_label")))
        )
        pre_structs.append(
            F.when(label_mismatch, _vstruct("R_tool_label", "warning", payload))
        )
        pre_hw = pre_hw | F.coalesce(label_mismatch, F.lit(False))
    # J6 conversation existence: when the registry dim is broadcast-sized
    # (dim_tools-like), rows are tagged pre-shuffle (broadcast left join ->
    # one boolean over the wire). BUT dim_conversations scales with the
    # corpus (~10^8-10^9 conv_ids at 10^12 turns, multi-GB — the BioSamples
    # registry analog, generic_validator_classes.py:306-370), so a
    # size gate (Catalyst plan stats vs autoBroadcastJoinThreshold, or the
    # explicit conv_dim_broadcast flag) falls back to tagging AFTER the
    # conv_id exchange via a shuffled-hash join: the fact side already
    # satisfies HashPartitioning(conv_id), so the plan keeps exactly ONE
    # fact-sized exchange either way — only the (slim) dim side shuffles.
    # The single emission per unknown conversation happens on its first
    # window row below, so J6 costs no extra scan or distinct in either
    # mode.
    slim_cols = ["conv_id", "turn_idx", partition_col, "role", "ts"]
    conv_dim = None
    if "dim_conversations" in dims:
        conv_dim = (
            dims["dim_conversations"]
            .select("conv_id")
            .distinct()
            .withColumn("__conv_known", F.lit(True))
        )
        if conv_dim_broadcast is None:
            conv_dim_broadcast = _fits_broadcast(conv_dim)
        if conv_dim_broadcast:
            pre = pre.join(F.broadcast(conv_dim), on="conv_id", how="left")
            slim_cols.append("__conv_known")
    pre_packed = F.filter(
        F.array(*[s.cast(_VIOLATION_STRUCT) for s in pre_structs]), lambda x: x.isNotNull()
    )
    slim = pre.select(
        *slim_cols,
        pre_packed.alias("__pv"),
        pre_he.alias("__pre_he"),
        pre_hw.alias("__pre_hw"),
    )
    if window_context is not None:
        ctx = window_context.select(
            *(
                F.col(c)
                if c in window_context.columns
                else F.lit(None).cast(slim.schema[c].dataType).alias(c)
                for c in slim.columns
            )
        )
        slim = slim.withColumn("__ctx", F.lit(False)).unionByName(
            ctx.withColumn("__ctx", F.lit(True))
        )

    # ---- one fact-sized exchange on conv_id; HashPartitioning(conv_id)
    # satisfies the ClusteredDistribution of every window spec below, AND
    # all window specs share ONE sort: the lag windows order by
    # (turn_idx, ts, ds) — ds as a deterministic tiebreak — and the
    # uniqueness count is an unordered frame over (conv_id, turn_idx), so
    # the planner emits a single SortExec. (A row_number() per key, the
    # obvious alternative for pick-one-row-per-duplicate, would force a
    # SECOND full sort of the fact stream — measured at ~2x the window
    # stage's wall at 57M rows.)
    ctx_first = [F.desc("__ctx")] if window_context is not None else []
    w = Window.partitionBy("conv_id").orderBy(*ctx_first, "turn_idx", "ts", partition_col)
    # uniqueness key is GLOBAL (conv_id, turn_idx) — no ds — matching
    # operators/joins.uniqueness_rule; the emission row is the key's first
    # row in (ts, ds) order (first-of-key ⇔ the lag row belongs to a
    # different key, free off the existing lag), so the violation's ds is
    # the first occurrence's partition — identical to the composable
    # path's min_by.
    w_key = Window.partitionBy("conv_id", "turn_idx")
    exchanged = slim.repartition("conv_id")
    if conv_dim is not None and not conv_dim_broadcast:
        # post-exchange J6 tag: SHUFFLE_HASH keeps the fact side streamed
        # (no sort, no re-exchange — HashPartitioning(conv_id) is already
        # satisfied); only the deduplicated conv dim shuffles.
        exchanged = exchanged.join(conv_dim.hint("shuffle_hash"), on="conv_id", how="left")
    anno = exchanged.select(
        "conv_id",
        "turn_idx",
        partition_col,
        "role",
        "ts",
        "__pv",
        "__pre_he",
        "__pre_hw",
        *(["__conv_known"] if "dim_conversations" in dims else []),
        F.lag("turn_idx").over(w).alias("__prev_idx"),
        F.lag("ts").over(w).alias("__prev_ts"),
        F.lag("role").over(w).alias("__prev_role"),
        # lead shares w's Window operator (same spec); __key_cnt needs a
        # SECOND Window pass (unordered whole-key frame). The fast-verdict
        # plan detects duplicate keys from neighbors alone (rows of one
        # key are adjacent under the sort), so pruning drops the __key_cnt
        # pass there; the violations plan still computes it (the
        # R_turn_unique observed value is the total copy count).
        F.lead("turn_idx").over(w).alias("__next_idx"),
        F.lead(F.lit(1)).over(w).isNotNull().alias("__has_next"),
        F.count(F.lit(1)).over(w_key).alias("__key_cnt"),
        F.row_number().over(w).alias("__rn"),
        *(
            # the conversation's first PARTITION row: nothing or a context
            # row before it
            [F.col("__ctx"), F.lag("__ctx", 1, True).over(w).alias("__first")]
            if window_context is not None
            else []
        ),
    )
    if window_context is None:
        first_row = F.col("__rn") == 1
    else:
        anno = anno.where(~F.col("__ctx"))
        first_row = F.col("__first")

    # post-window rule CONDITIONS, named so the fast-verdict branch can
    # read them as plain booleans (no struct round-trip, no array exists)
    structs: list[Column] = []
    conv_unknown = None
    if "dim_conversations" in dims:
        # J6: one violation per unknown conversation, emitted on its first
        # window row (row_number shares the existing sort — zero extra cost)
        conv_unknown = first_row & F.col("__conv_known").isNull()
        structs.append(
            F.when(conv_unknown, _vstruct("R_conv_known", "error", F.col("conv_id")))
        )
    # J10 uniqueness: emitted once per duplicated key, on its first row
    # (rows of one key are adjacent under the shared sort, so "first" ⇔
    # no lagged row at all (__rn==1) or the lagged row is a different key).
    # eqNullSafe keeps NULL turn_idx keys (which w_key groups together, and
    # which the composable groupBy path emits ONCE for) from emitting per
    # row: lag(turn_idx) is NULL within such a group, and a plain isNull
    # test would read every row as first-of-key.
    first_of_key = first_row | ~F.col("__prev_idx").eqNullSafe(F.col("turn_idx"))
    dup_first = (F.col("__key_cnt") > 1) & first_of_key
    structs.append(
        F.when(dup_first, _vstruct("R_turn_unique", "error", F.col("__key_cnt")))
    )
    # fast-path R_turn_unique flag: a row belongs to a duplicated key iff
    # an ADJACENT row carries the same key (rows of one key are adjacent
    # under the shared sort) — reads only the w-window lag/lead columns,
    # so the verdict plan prunes the __key_cnt window pass entirely. The
    # __rn/__has_next guards keep a lone NULL-turn_idx row (lag/lead NULL
    # because the neighbor row doesn't EXIST) from eqNullSafe-matching its
    # own NULL key. The error flag lands on the group's FIRST row only
    # (next_same & ~prev_same) — copies of one key can span ds partitions,
    # and the classic path charges the error to the first occurrence's ds.
    prev_same = (F.col("__rn") > 1) & F.col("__prev_idx").eqNullSafe(F.col("turn_idx"))
    next_same = F.col("__has_next") & F.col("__next_idx").eqNullSafe(F.col("turn_idx"))
    is_dup_row = prev_same | next_same
    dup_first_fast = next_same & ~prev_same
    post_he = F.lit(False)
    # window rules: contiguity gap (warning), ts monotonic (error)
    gap = F.col("__prev_idx").isNotNull() & (F.col("turn_idx") > F.col("__prev_idx") + 1)
    structs.append(
        F.when(
            gap,
            _vstruct(
                "R_turn_contiguous",
                "warning",
                F.concat(
                    F.col("__prev_idx").cast("string"), F.lit("->"), F.col("turn_idx").cast("string")
                ),
            ),
        )
    )
    post_hw = F.coalesce(gap, F.lit(False))
    ts_back = F.col("__prev_ts").isNotNull() & (F.col("ts") < F.col("__prev_ts"))
    structs.append(
        F.when(ts_back, _vstruct("R_ts_monotonic", "error", F.col("ts")))
    )
    post_he = post_he | F.coalesce(ts_back, F.lit(False))
    # role transitions against the (tiny, plan-time-collected) allowed dim
    if "allowed_transitions" in dims:
        allowed = [
            f"{r['prev_role']}->{r['role']}" for r in dims["allowed_transitions"].collect()
        ]
        trans = F.concat(F.col("__prev_role"), F.lit("->"), F.col("role"))
        contiguous = F.col("turn_idx") == F.col("__prev_idx") + 1
        known = F.col("role").isin(valid_roles) & F.col("__prev_role").isin(valid_roles)
        bad_trans = contiguous & known & ~trans.isin(allowed)
        structs.append(
            F.when(bad_trans, _vstruct("R_role_transition", "error", trans))
        )
        post_he = post_he | F.coalesce(bad_trans, F.lit(False))

    post_packed = F.filter(
        F.array(*[s.cast(_VIOLATION_STRUCT) for s in structs]), lambda x: x.isNotNull()
    )
    wide = anno.select(
        "conv_id",
        "turn_idx",
        partition_col,
        F.concat(F.col("__pv"), post_packed).alias("__v"),
    )

    # conversation-scope rows (R_conv_known) ride the same packed array;
    # their scope/turn_idx are rewritten at explode time, so the whole
    # violation set — scalar + dim + window + uniqueness + J6 — is one
    # scan, one exchange, one sort, one window pass.
    is_conv = F.col("v.rule_id") == "R_conv_known"
    # (no size>0 pre-filter: explode drops empty arrays itself, and a
    # Filter over the packed array triggers exponential constraint
    # inference on big rulesets — see rules/compiler.py)
    turn_violations = (
        wide.select("conv_id", "turn_idx", partition_col, F.explode("__v").alias("v"))
        .select(
            "conv_id",
            F.when(is_conv, F.lit(None).cast("int"))
            .otherwise(F.col("turn_idx").cast("int"))
            .alias("turn_idx"),
            partition_col,
            F.col("v.rule_id").alias("rule_id"),
            F.col("v.severity").alias("severity"),
            F.when(is_conv, F.lit("conv")).otherwise(F.lit("turn")).alias("scope"),
            F.col("v.observed").alias("observed"),
        )
    )

    violations = turn_violations.select(*VIOLATION_COLS)
    if expected_schema is not None:
        # P17: table-grain schema contract (driver-side metadata, no scan)
        from ..operators.schema import schema_check

        sv = schema_check(facts, expected_schema).withColumn(
            partition_col, F.lit(None).cast(facts.schema[partition_col].dataType)
        )
        violations = violations.unionByName(sv.select(*VIOLATION_COLS))

    if persist_violations:
        from pyspark import StorageLevel

        violations = violations.persist(StorageLevel.MEMORY_AND_DISK)

    if fast_verdicts:
        # conv-scope structs don't make a TURN invalid (classic verdicts
        # filter scope), so they're excluded from the error flag and
        # counted separately. Error/warning counting is KEY grain exactly
        # like the classic per_turn aggregation — duplicated keys whose
        # copies BOTH violate count once per (ds, key) — but WITHOUT a
        # fact-sized (ds, conv, turn) hash aggregate: unique keys (the
        # overwhelming majority; is_dup_row reads only the shared
        # window's lag/lead neighbors) are exact at ROW grain, so they collapse per
        # conversation with sum semantics, while only rows of DUPLICATED
        # keys group at key grain with max semantics. Aggregation state is
        # therefore ~one entry per conversation (+ per actual duplicate
        # key), not per turn — a 57M-turn run at local[2] holds ~2M
        # entries instead of 28M per task (the latter spilled for
        # minutes). No exchange: conv_id is in the grouping key, so the
        # window stage's HashPartitioning is reused; the final groupBy(ds)
        # is map-side combined to ~one row per (task, ds).
        #
        # Flags read the named boolean CONDITIONS (__pre_he/__pre_hw from
        # the scan-side projection, post_he/post_hw/conv_unknown off the
        # window columns) — never the packed struct array, so column
        # pruning drops __pv from this whole plan: the verdict action
        # neither builds violation structs nor runs the CodegenFallback
        # higher-order filter/exists chain (measured ~2.5x on the scan
        # stage; the violations OUTPUT still carries the full structs).
        flags = anno.select(
            partition_col,
            "conv_id",
            is_dup_row.alias("__is_dup"),
            # dup keys group by their turn_idx; unique rows collapse into
            # the conversation's (__is_dup=false, NULL) bucket. A NULL
            # turn_idx dup group keeps __is_dup=true, staying distinct
            # from the unique bucket.
            F.when(is_dup_row, F.col("turn_idx")).alias("__dup_turn"),
            (F.col("__pre_he") | post_he | dup_first_fast).cast("int").alias("__he"),
            (F.col("__pre_hw") | post_hw).cast("int").alias("__hw"),
            (
                F.coalesce(conv_unknown, F.lit(False))
                if conv_unknown is not None
                else F.lit(False)
            )
            .cast("long")
            .alias("__cv"),
        )
        keyed = flags.groupBy(partition_col, "conv_id", "__is_dup", "__dup_turn").agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__he").alias("__sum_he"),
            F.sum(((F.col("__hw") == 1) & (F.col("__he") == 0)).cast("int")).alias(
                "__sum_wo"
            ),
            F.max("__he").alias("__max_he"),
            F.max("__hw").alias("__max_hw"),
            F.sum("__cv").alias("__cv"),
        )
        dup = F.col("__is_dup")
        turn_verd = keyed.groupBy(partition_col).agg(
            F.sum("__n").alias("total_turns"),
            F.approx_count_distinct("conv_id", rsd=0.01).alias("n_conversations"),
            F.sum(F.when(dup, F.col("__max_he")).otherwise(F.col("__sum_he"))).alias(
                "error_turns"
            ),
            F.sum(
                F.when(
                    dup,
                    ((F.col("__max_hw") == 1) & (F.col("__max_he") == 0)).cast("int"),
                ).otherwise(F.col("__sum_wo"))
            ).alias("warning_only_turns"),
            F.sum("__cv").alias("relationship_errors"),
        )
        verdict_df = turn_verd.select(
            partition_col,
            "total_turns",
            "n_conversations",
            (F.col("total_turns") - F.col("error_turns")).alias("valid_turns"),
            "error_turns",
            "warning_only_turns",
            "relationship_errors",
            F.when(
                (F.col("error_turns") > 0) | (F.col("relationship_errors") > 0),
                F.lit("fail"),
            )
            .when(F.col("warning_only_turns") > 0, F.lit("pass_with_warnings"))
            .otherwise(F.lit("pass"))
            .alias("verdict"),
        )
        return ValidationResult(violations=violations, verdicts=verdict_df, facts=facts)

    # verdicts aggregate the (small) violations + a plain facts scan —
    # the window pass is never executed twice
    verdict_df = verdicts(facts, violations, partition_col=partition_col)
    return ValidationResult(violations=violations, verdicts=verdict_df, facts=facts)
