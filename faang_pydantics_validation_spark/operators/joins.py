"""Relational validation rules: the Spark re-expression of the reference's
lookup caches and relationship passes (SURVEY.md §2.5, J1-J10).

Every dimension lookup the reference does via in-memory dict caches
(generic_validator_classes.py:70,306) becomes a BROADCAST join here, so at
100 TB fact scale there is no shuffle for any of these rules — the dims are
a few MB and ship to every executor once. Window rules shuffle once on
conv_id (hash-partition by conversation), which is the minimal possible
distribution for per-conversation ordering invariants.

All emitters return the canonical violation schema:
    (conv_id, turn_idx:int?, ds?, rule_id, severity, scope, observed)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..rules.library import norm_term_colon
from ..rules.spec import SENTINELS


def _emit(df: DataFrame, rule_id: str, severity: str, scope, observed, ds: bool):
    cols = [
        F.col("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
    ]
    if ds:
        cols.append(F.col("ds"))
    return df.select(
        *cols,
        F.lit(rule_id).alias("rule_id"),
        F.lit(severity).alias("severity"),
        F.lit(scope).alias("scope"),
        observed.cast("string").alias("observed"),
    )


def anti_join_rule(
    facts: DataFrame,
    dim: DataFrame,
    fact_col: str,
    dim_col: str,
    rule_id: str,
    severity: str = "error",
    normalize_term: bool = False,
    skip_sentinels: bool = True,
    ds: bool = True,
) -> DataFrame:
    """J1/J6: fact value must exist in dim (broadcast LEFT ANTI join).

    Reference: ontology term existence (generic_validator_classes.py:82-86),
    referential existence (generic_validator_classes.py:610-624)."""
    v = F.col(fact_col).cast("string")
    if normalize_term:
        v = norm_term_colon(v)
    probe = facts.where(F.col(fact_col).isNotNull())
    if skip_sentinels:
        probe = probe.where(~F.col(fact_col).cast("string").isin(SENTINELS))
    probe = probe.withColumn("__k", v)
    missing = probe.join(
        F.broadcast(dim.select(F.col(dim_col).alias("__k")).distinct()),
        on="__k",
        how="left_anti",
    )
    return _emit(missing, rule_id, severity, "turn", F.col(fact_col), ds)


def conv_exists_rule(
    facts: DataFrame,
    dim_conversations: DataFrame,
    rule_id: str = "R_conv_known",
    severity: str = "error",
    ds: bool = True,
) -> DataFrame:
    """J6 conversation-scope: conv_id must be registered
    (BioSamples registry analog, generic_validator_classes.py:306-370).
    Per-conversation aggregate first (tiny, map-side combined), then
    broadcast anti-join — emits ONE violation per unknown conversation
    (not one per turn, and not one per (conversation, ds)); the emitted ds
    is the conversation's first row's in stable turn order, matching the
    fused path's first-window-row emission."""
    if ds:
        convs = facts.groupBy("conv_id").agg(
            F.min_by("ds", F.struct("turn_idx", "ts", "ds")).alias("ds")
        )
    else:
        convs = facts.select("conv_id").distinct()
    missing = convs.join(
        F.broadcast(dim_conversations.select("conv_id").distinct()),
        on="conv_id",
        how="left_anti",
    )
    cols = [F.col("conv_id"), F.lit(None).cast("int").alias("turn_idx")]
    if ds:
        cols.append(F.col("ds"))
    return missing.select(
        *cols,
        F.lit(rule_id).alias("rule_id"),
        F.lit(severity).alias("severity"),
        F.lit("conv").alias("scope"),
        F.col("conv_id").cast("string").alias("observed"),
    )


def label_match_rule(
    facts: DataFrame,
    dim: DataFrame,
    fact_col: str,
    observed_col,
    dim_key: str,
    dim_label: str,
    rule_id: str,
    severity: str = "warning",
    normalize_term: bool = True,
    ds: bool = True,
) -> DataFrame:
    """J3: provided text must equal the dim label for the term
    (case-insensitive) — a WARNING, never an error
    (generic_validator_classes.py:88-121). Unmatched terms are J1's
    problem and are skipped here (inner join)."""
    v = F.col(fact_col).cast("string")
    if normalize_term:
        v = norm_term_colon(v)
    probe = (
        facts.where(
            F.col(fact_col).isNotNull()
            & ~F.col(fact_col).cast("string").isin(SENTINELS)
        )
        .withColumn("__k", v)
        .withColumn("__obs", observed_col)
    )
    joined = probe.join(
        F.broadcast(dim.select(F.col(dim_key).alias("__k"), F.col(dim_label).alias("__label"))),
        on="__k",
        how="inner",
    ).where(F.lower(F.col("__obs")) != F.lower(F.col("__label")))
    return _emit(joined, rule_id, severity, "turn", F.col("__obs"), ds)


def allowed_pairs_rule(
    facts: DataFrame,
    allowed: DataFrame,
    fact_cols: tuple[str, str],
    allowed_cols: tuple[str, str],
    rule_id: str,
    severity: str = "error",
    ds: bool = True,
) -> DataFrame:
    """J5/J7: (a, b) must appear in an allowed-pairs dim
    (ALLOWED_RELATIONSHIPS, constants.py:139-154; SPECIES_BREED_LINKS,
    constants.py:230-238). Broadcast LEFT ANTI on the pair."""
    a, b = fact_cols
    probe = facts.where(F.col(a).isNotNull() & F.col(b).isNotNull())
    dim = F.broadcast(
        allowed.select(
            F.col(allowed_cols[0]).alias(a), F.col(allowed_cols[1]).alias(b)
        ).distinct()
    )
    bad = probe.join(dim, on=[a, b], how="left_anti")
    obs = F.concat(F.col(a), F.lit("|"), F.col(b))
    return _emit(bad, rule_id, severity, "turn", obs, ds)


def uniqueness_rule(
    facts: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    rule_id: str = "R_turn_unique",
    severity: str = "error",
    ds: bool = True,
) -> DataFrame:
    """J10: key uniqueness via hash-aggregate dedup counts — the analog of
    the reference's {sample_name: record} identity map
    (generic_validator_classes.py:446,584-597). Map-side partial counts
    make this skew-safe: a hot conversation fans out across cores before
    the final merge.

    The key is GLOBAL (ds is NOT part of it): a duplicated (conv_id,
    turn_idx) is a duplicate even when its copies land in different ds
    partitions (north_star: 'uniqueness of (conv_id, turn_idx)'). The
    emitted ds is the key's first occurrence in (ts, ds) order — the same
    row the fused path emits on (its first row under the shared window
    sort), kept deterministic by the ds tiebreak."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    if ds:
        aggs.append(F.min_by("ds", F.struct("ts", "ds")).alias("ds"))
    dups = facts.groupBy(*key_cols).agg(*aggs).where(F.col("__n") > 1)
    return _emit(dups, rule_id, severity, "turn", F.col("__n"), ds)


def window_rules(
    facts: DataFrame,
    valid_roles: list[str],
    allowed_transitions: DataFrame | None = None,
    ds: bool = True,
) -> DataFrame:
    """Stable-turn-ordering invariants (north_star): one shuffle on
    conv_id, one window pass, three rules.

    - contiguity: turn_idx > lag(turn_idx)+1  -> warning (gap)
    - monotonic ts: ts < lag(ts)              -> error
    - role transition: consecutive (lag_role, role) must be in the
      allowed-transitions dim (J7/J8 relationship analog); only evaluated
      between contiguous turns whose roles are both known.

    The cross-partition carry-in of checkpointed runs lives in the fused
    plan (plans/fused.validate_transcripts_fused)."""
    keys = ["conv_id", "turn_idx"] + (["ds"] if ds else [])
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    anno = facts.select(
        *keys,
        "role",
        "ts",
        F.lag("turn_idx").over(w).alias("__prev_idx"),
        F.lag("ts").over(w).alias("__prev_ts"),
        F.lag("role").over(w).alias("__prev_role"),
    )
    return _window_rule_emitters(anno, valid_roles, allowed_transitions, ds)


def window_rules_salted(
    facts: DataFrame,
    valid_roles: list[str],
    allowed_transitions: DataFrame | None = None,
    ds: bool = True,
    chunk: int = 1024,
) -> DataFrame:
    """Skew-proof variant of window_rules (north_rule: 'skew in hot
    conversations handled by key salting').

    The lag-based ordering rules only ever look ONE row back, so a
    conversation can be split into contiguous turn-ranges
    (salt = turn_idx div chunk) and each range evaluated independently
    after shuffling on (conv_id, salt) — a 10^6-turn hot conversation
    spreads over turns/chunk tasks instead of one. Rows on chunk
    boundaries miss their lag; a second pass evaluates ONLY the boundary
    pairs (2 rows per chunk per conversation — metadata-sized), stitched
    in with exactly the same expressions. Result is row-identical to the
    unsalted window (asserted in tests).
    """
    salt = F.floor(F.col("turn_idx") / chunk).alias("__salt")
    w = Window.partitionBy("conv_id", "__salt").orderBy("turn_idx", "ts")
    keys = ["conv_id", "turn_idx"] + (["ds"] if ds else [])
    salted = facts.withColumn("__salt", salt)
    anno = salted.select(
        *keys,
        "role",
        "ts",
        "__salt",
        F.lag("turn_idx").over(w).alias("__prev_idx"),
        F.lag("ts").over(w).alias("__prev_ts"),
        F.lag("role").over(w).alias("__prev_role"),
        F.row_number().over(w).alias("__rn"),
    )

    # boundary stitching: each chunk's first row needs the last row of the
    # PREVIOUS NON-EMPTY chunk (a gap can swallow whole chunks). Build the
    # per-chunk summary (one row per (conv, chunk) — metadata-sized), lag
    # it over chunk order, and join back to the chunk-first rows.
    w_desc = Window.partitionBy("conv_id", "__salt").orderBy(
        F.desc("turn_idx"), F.desc("ts")
    )
    w_chunks = Window.partitionBy("conv_id").orderBy("__salt")
    lasts = (
        salted.withColumn("__rnd", F.row_number().over(w_desc))
        .where(F.col("__rnd") == 1)
        .select(
            "conv_id",
            "__salt",
            F.lag("turn_idx").over(w_chunks).alias("__b_prev_idx"),
            F.lag("ts").over(w_chunks).alias("__b_prev_ts"),
            F.lag("role").over(w_chunks).alias("__b_prev_role"),
        )
        .where(F.col("__b_prev_idx").isNotNull())
    )
    firsts = anno.where(F.col("__rn") == 1).join(lasts, on=["conv_id", "__salt"], how="inner")
    boundary = firsts.select(
        *keys,
        "role",
        "ts",
        F.col("__b_prev_idx").alias("__prev_idx"),
        F.col("__b_prev_ts").alias("__prev_ts"),
        F.col("__b_prev_role").alias("__prev_role"),
    )
    full = anno.drop("__salt", "__rn").unionByName(boundary)
    return _window_rule_emitters(full, valid_roles, allowed_transitions, ds)


def _window_rule_emitters(
    anno: DataFrame,
    valid_roles: list[str],
    allowed_transitions: DataFrame | None,
    ds: bool,
) -> DataFrame:
    """Shared rule expressions over an annotated (prev_idx/prev_ts/
    prev_role) frame — used by both the plain and salted window paths."""
    contiguous = F.col("turn_idx") == F.col("__prev_idx") + 1
    gaps = _emit(
        anno.where(
            F.col("__prev_idx").isNotNull() & (F.col("turn_idx") > F.col("__prev_idx") + 1)
        ),
        "R_turn_contiguous",
        "warning",
        "turn",
        F.concat(F.col("__prev_idx").cast("string"), F.lit("->"), F.col("turn_idx").cast("string")),
        ds,
    )
    nonmono = _emit(
        anno.where(F.col("__prev_ts").isNotNull() & (F.col("ts") < F.col("__prev_ts"))),
        "R_ts_monotonic",
        "error",
        "turn",
        F.col("ts"),
        ds,
    )
    out = gaps.unionByName(nonmono)
    if allowed_transitions is not None:
        known = F.col("role").isin(valid_roles) & F.col("__prev_role").isin(valid_roles)
        cand = anno.where(contiguous & known).withColumn("__prev_role2", F.col("__prev_role"))
        bad = cand.join(
            F.broadcast(
                allowed_transitions.select(
                    F.col("prev_role").alias("__prev_role2"), F.col("role")
                )
            ),
            on=["__prev_role2", "role"],
            how="left_anti",
        )
        trans = _emit(
            bad,
            "R_role_transition",
            "error",
            "turn",
            F.concat(F.col("__prev_role2"), F.lit("->"), F.col("role")),
            ds,
        )
        out = out.unionByName(trans)
    return out


def self_join_parent_match(
    entities: DataFrame,
    id_col: str,
    parent_col: str,
    attr_col: str,
    rule_id: str,
    severity: str = "error",
) -> DataFrame:
    """J8: child attribute must equal parent attribute across a self-join
    (parent-child species match, generic_validator_classes.py:539-550).
    Generic over any entity table with a parent reference column."""
    child = entities.select(
        F.col(id_col).alias("__id"),
        F.col(parent_col).alias("__pid"),
        F.col(attr_col).alias("__attr"),
    ).where(F.col(parent_col).isNotNull())
    parent = entities.select(
        F.col(id_col).alias("__pid"), F.col(attr_col).alias("__pattr")
    )
    bad = child.join(parent, on="__pid", how="inner").where(
        F.col("__attr") != F.col("__pattr")
    )
    return bad.select(
        F.col("__id").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.lit(rule_id).alias("rule_id"),
        F.lit(severity).alias("severity"),
        F.lit("conv").alias("scope"),
        F.concat(F.col("__attr"), F.lit("!="), F.col("__pattr")).cast("string").alias("observed"),
    )


def circular_reference_rule(
    entities: DataFrame,
    id_col: str,
    parents_col: str,
    rule_id: str,
    severity: str = "error",
) -> DataFrame:
    """J9: 1-hop circularity — A lists B as parent while B lists A
    (generic_validator_classes.py:561-574). Kept 1-hop by design, matching
    the reference (SURVEY.md §7 'hard parts')."""
    edges = entities.select(
        F.col(id_col).alias("__child"), F.explode(F.col(parents_col)).alias("__parent")
    )
    rev = edges.select(
        F.col("__parent").alias("__child"), F.col("__child").alias("__parent")
    )
    cyc = edges.join(rev, on=["__child", "__parent"], how="inner").distinct()
    return cyc.select(
        F.col("__child").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.lit(rule_id).alias("rule_id"),
        F.lit(severity).alias("severity"),
        F.lit("conv").alias("scope"),
        F.concat(F.col("__child"), F.lit("<->"), F.col("__parent")).cast("string").alias("observed"),
    )
