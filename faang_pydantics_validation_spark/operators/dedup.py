"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design (the point of each algorithm at 100 TB):
- exact:      one hash-aggregate on a content digest. Partial aggregation
              makes the popular-dup skew free.
- ngram:      inverted index (explode shingles -> equi-join on shingle)
              with a document-frequency cap to drop stop-shingles — NEVER
              an O(n^2) cross join. Pair scoring is one groupBy.
- minhash:    per-doc signature via num_hashes min-aggregations over the
              exploded shingle stream (one shuffle), banded into LSH
              buckets, candidate pairs only within buckets, then exact
              Jaccard verification of candidates.
- simhash:    per-token hash bit votes aggregated per doc (one shuffle),
              Hamming-ball candidates via band blocking.
- embedding:  random-hyperplane LSH buckets, cosine verified in-bucket.

All hashing is xxhash64/crc32 (Spark-native, JVM-side).

Cache lifetime: the operators persist reused intermediates (the one-scan
(id, digest, shingles/tokens) base frames of the banded operators, the
ngram shingle table, banded signatures, the collapse member map) with
MEMORY_AND_DISK and do NOT unpersist them — the returned DataFrames are
lazy and still reference those caches. Spark's cache manager dedupes
repeated calls by canonicalized plan, so re-running the same operator on
the same input reuses (not duplicates) the cache. Every internal persist
is additionally recorded in a module registry: a LONG-LIVED driver running
dedup over many DIFFERENT corpora should bracket each corpus job with
`mark = cache_mark()` / `release_caches(mark)` (what
`jobs/dedup_cli.run_dedup_pipeline`'s `cleanup()` handle does) — that
unpersists exactly this job's intermediates without touching unrelated
session caches the way a blanket `spark.catalog.clearCache()` would.

Pipeline order at corpus scale: running `exact_duplicates` FIRST and
feeding only the `keep_id` survivors to the near-dup passes is still the
cheap 10-100x win (web corpora are dominated by byte-identical copies),
but it is no longer load-bearing: `minhash_lsh_pairs` and
`simhash_near_pairs` now collapse normalization-identical documents to one
representative INTERNALLY (_text_members, the same recipe
embedding_cosine_dups uses via exact_dup_canon) before computing
signatures, and re-expand the pair set afterwards — identical documents
have identical signatures, so the emitted pairs are value-identical to the
uncollapsed run while the banded self-joins see one row per distinct text
instead of one per copy. Hot (band, bucket) groups from NEAR-identical
documents are additionally bounded by `max_bucket` (the banded-join twin
of ngram's max_df stop-shingle cap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


# ---- operator-internal cache registry --------------------------------------
# Every DataFrame persisted inside this module is appended here so callers
# can release exactly the caches THEIR pipeline created (cache_mark before,
# release_caches(mark) after) instead of nuking the whole session with
# spark.catalog.clearCache().
#
# Marks and cache entries share one monotonically increasing sequence, so
# releasing mark M unpersists only entries registered in [M, next live
# mark) — a pipeline whose scope is still open keeps its caches even when
# an OLDER overlapping scope releases first, and its own later release
# still works (marks are identities, not positions that shift).

import threading as _threading

_REG_LOCK = _threading.Lock()
_REG_SEQ = [0]  # next sequence id, shared by marks and cache entries
_CACHES: list[tuple[int, DataFrame]] = []  # (seq, df)
_LIVE_MARKS: list[int] = []


def cache_mark() -> int:
    """Open a release scope: returns a mark identifying every operator
    cache registered from now until the scope's release_caches(mark).
    Scopes may overlap; entries registered after a LATER still-open mark
    belong to that later scope. Allocation and registration happen in ONE
    critical section: a mark that existed-but-wasn't-live would let a
    concurrent release_caches on an older mark compute its upper bound
    without seeing this scope and free caches that belong to it."""
    with _REG_LOCK:
        _REG_SEQ[0] += 1
        m = _REG_SEQ[0]
        _LIVE_MARKS.append(m)
    return m


def release_caches(mark: int = 0) -> None:
    """Unpersist the operator-internal caches registered in this mark's
    scope — from `mark` up to the next still-open mark (default 0: every
    cache not claimed by an open scope) — and drop them from the
    registry. Call AFTER consuming the operator's output — the returned
    DataFrames lazily reference these caches."""
    with _REG_LOCK:
        later = [m for m in _LIVE_MARKS if m > mark]
        bound = min(later) if later else float("inf")
        drop = [(s, df) for s, df in _CACHES if mark <= s < bound]
        _CACHES[:] = [e for e in _CACHES if not (mark <= e[0] < bound)]
        _LIVE_MARKS[:] = [m for m in _LIVE_MARKS if m != mark]
    for _, df in drop:
        df.unpersist()


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical (after whitespace/case normalization)
    documents: (content_md5, n_docs, keep_id) — keep_id is the smallest id,
    the canonical survivor."""
    return (
        df.select(F.md5(normalized_text(F.col(text_col))).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text.

    Built with ONE regexp_extract_all pass: a zero-width lookahead
    anchored to word starts (`(?:^|(?<= ))`) captures every overlapping
    n-gram without leaving whole-stage codegen. The equivalent
    transform(sequence(...), concat_ws(slice(...))) construction is a
    CodegenFallback higher-order function measured ~8x slower on the
    sf0.1 documents corpus (3.5s vs 0.45s for the shingle scan) — and
    the shingle scan is the dominant cost of every near-dup operator at
    scale. Token semantics are identical: normalized_text collapses only
    ASCII whitespace to single spaces, and both `\\S+` here and the old
    split-on-" " treat anything else (including unicode spaces) as word
    characters. Value parity with the HOF construction is pinned by
    test_word_shingles_matches_hof_construction.
    """
    # NULL text behaves like "" — one empty shingle — matching the HOF
    # construction exactly (greatest() there skips the NULL size, so a
    # NULL doc also produced [""], never NULL)
    nt = F.coalesce(normalized_text(text), F.lit(""))
    # n-1 whole words + spaces, then a final word, captured via lookahead
    # so the scan advances one word at a time (overlapping grams)
    pat = r"(?:^|(?<= ))(?=((?:\S+ ){%d}\S+))" % (n - 1)
    grams = F.array_distinct(F.regexp_extract_all(nt, F.lit(pat), 1))
    # a doc shorter than n words has no match: its full normalized text
    # is the one shingle
    return F.when(F.size(grams) == 0, F.array(nt)).otherwise(grams)


def _shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int, persist: bool = False
) -> DataFrame:
    """Exploded (id, shingle) table. persist=True materializes it once —
    the self-join and signature passes otherwise recompute the tokenize+
    explode lineage per reuse (at cluster scale this would be a checkpoint
    to a scratch table; MEMORY_AND_DISK is the local analog)."""
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), n)).alias("sh")
    )
    if persist:
        sh = _persisted(sh)
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard >= threshold, via an
    inverted index: explode shingles, self-equi-join on shingle with
    id_a < id_b, count common shingles, Jaccard = c/(|A|+|B|-c).

    max_df drops shingles appearing in more than max_df docs (stop-shingle
    pruning): at corpus scale the hot shingles would otherwise create
    quadratic candidate blowup; any pair sharing ONLY stop-shingles is not
    a near-dup anyway. Defaults ON (1000) — pass None to disable only for
    corpora known to have no hot shingles. Note shingle-set sizes are
    computed AFTER the cap, so Jaccard is over the rare-shingle sets.
    Output: (id_a, id_b, jaccard rounded 6dp).

    Plan shape (optimization round 6, measured at sf1.0 / 32 cores):
    - the df cap is a broadcast ANTI-join on the HOT set (df > max_df,
      tiny by definition — the _bucket_cap recipe) rather than an inner
      join against the vocabulary-sized rare set, whose broadcast build
      side scales with the vocabulary;
    - the capped (id, sh) stream is persisted so the hot-count subtree,
      the sizes aggregation and both self-join sides read one cache
      (the r5 plan re-ran the df-count subtree four times);
    - the quadratic pair stream aggregates the count ONLY (two-long rows):
      an A/B that carried per-doc sizes through the aggregation (count +
      2 max()s, five-long rows) cost +3s on the 127M-row pair stream vs
      +1s for re-attaching sizes to the AGGREGATED stream afterwards —
      the planner broadcasts the (doc, sz) table when its estimate fits
      spark.sql.autoBroadcastJoinThreshold (no re-shuffle of the pair
      stream; at corpus scale where sizes outgrows the threshold it
      degrades to a shuffle join of the already-reduced pair stream).
    The pair aggregation needs ~1.8M hash entries per task at sf1.0 —
    size executor/driver memory so it does not spill (session.py note:
    8g spilled ~13.5 GB per stage, 24g runs it spill-free)."""
    sh = _shingle_table(df, id_col, text_col, n, persist=True)
    if max_df is not None:
        hot = (
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("sh")
        )
        sh = _persisted(sh.join(F.broadcast(hot), on="sh", how="left_anti"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), on="sh", how="inner")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _persisted(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _REG_LOCK:
        _REG_SEQ[0] += 1
        _CACHES.append((_REG_SEQ[0], df))
    return df


def _members_from_slim(slim: DataFrame, min_quadratic: int = 0) -> DataFrame | None:
    """(rep, id), persisted, from a slim (id, __dig) frame: rep = min(id)
    over normalization-identical documents — only the slim pairs shuffle
    (one map-side-combined groupBy + one equi-join). Persisted because it
    feeds the representative semi-join AND the intra/inter pair
    re-expansion joins.

    ADAPTIVE SHORT-CIRCUIT: returns None when the corpus's exact-duplicate
    PAIR MASS — q = sum over digest groups of n*(n-1), the number of
    intra-duplicate ordered pairs the banded self-join would otherwise
    see — is <= min_quadratic. The collapse exists purely to bound that
    quadratic hazard; when q is negligible (a duplicate-free or
    nearly-duplicate-free corpus, the common case after an upstream exact
    stage), the banded join absorbs the few duplicate copies more cheaply
    than the collapse machinery (representative semi-join + two
    re-expansion joins) costs. The decision is ONE metadata-sized
    aggregate over the already-shuffled slim (digest, id) pairs; callers
    treat None exactly like collapse_exact=False (output is
    value-identical either way — the collapse is a plan optimization;
    this holds under a finite max_bucket too because _bucket_cap counts
    DISTINCT digest variants, not raw copies, so duplicate mass cannot
    push a bucket over the cap only on the uncollapsed path).
    min_quadratic=0 engages the collapse whenever ANY duplicate exists.

    The eager q-check action is how the banded operators get their ONE
    text scan: they pass a projection of the persisted (id, digest,
    shingles/tokens) base frame, so the q job MATERIALIZES the base and
    the main action reads tokenization off the cache instead of
    re-scanning the corpus."""
    groups = _persisted(
        slim.groupBy("__dig").agg(
            F.min("id").alias("rep"), F.count(F.lit(1)).alias("__n")
        )
    )
    n = F.col("__n")
    q = (
        groups.where(n > 1)
        .agg(F.sum(n * (n - 1)).alias("q"))
        .first()["q"]
    ) or 0
    if q <= min_quadratic:
        groups.unpersist()
        with _REG_LOCK:
            _CACHES[:] = [e for e in _CACHES if e[1] is not groups]
        return None
    return _persisted(slim.join(groups, "__dig").select("rep", "id"))


def _text_members(
    df: DataFrame, id_col: str, text_col: str, min_quadratic: int = 0
) -> DataFrame | None:
    """_members_from_slim over a fresh map-side digest of the text column
    (the text itself never shuffles)."""
    return _members_from_slim(
        df.select(
            F.col(id_col).alias("id"),
            F.md5(normalized_text(F.col(text_col))).alias("__dig"),
        ),
        min_quadratic,
    )


def _expand_member_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    score_col: str | None,
    intra_score,
) -> DataFrame:
    """Fan representative-level near-dup pairs back out to member level
    and add the intra-duplicate-group pairs (identical documents, scored
    at the exact-duplicate value: jaccard 1.0 / hamming 0). Identical
    documents have identical signatures AND identical shingle/token sets,
    so the re-expanded pair set is value-identical to running the operator
    without the collapse. `members` is (rep, id)."""
    intra = (
        members.alias("a")
        .join(members.alias("b"), on="rep")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    inter = (
        rep_pairs.join(
            members.select(F.col("rep").alias("id_a"), F.col("id").alias("__ma")), "id_a"
        )
        .join(members.select(F.col("rep").alias("id_b"), F.col("id").alias("__mb")), "id_b")
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            *([score_col] if score_col else []),
        )
    )
    if score_col:
        intra = intra.withColumn(score_col, F.lit(intra_score))
    return intra.unionByName(inter)


def _group_form_output(
    rep_pairs: DataFrame,
    members: DataFrame | None,
    score_col: str | None,
    intra_score,
) -> DataFrame:
    """(rep_id, member_id[, score]) — the LINEAR-cardinality alternative to
    the exploded pair output, for dedup consumers that only need a drop
    set: `member_id` is every document that duplicates a smaller-id
    document, `rep_id` its surviving twin. Edges are

    - intra: (group rep, member) for every non-rep member of an
      exact-duplicate group — O(cluster) rows where the pair form fans a
      10^6-copy cluster into ~5x10^11 pairs; scored at the
      exact-duplicate value (jaccard 1.0 / hamming 0 / cosine 1.0);
    - inter: qualifying representative near-dup pairs, verbatim (cluster
      members need no fan-out: non-rep members are already dropped by
      their intra edge, and the partner group's rep by this edge).

    The DISTINCT member_id set equals the pair form's id_b set exactly
    (greedy keep-lowest-id dedup reads the same survivors off either),
    proven by test_group_form_drop_set_matches_pair_form. members=None
    (collapse off or short-circuited on a duplicate-free corpus): the
    rep-level pairs ARE the edges — pure rename."""
    score = [score_col] if score_col else []
    inter = rep_pairs.select(
        F.col("id_a").alias("rep_id"), F.col("id_b").alias("member_id"), *score
    )
    if members is None:
        return inter
    intra = members.where(F.col("id") != F.col("rep")).select(
        F.col("rep").alias("rep_id"), F.col("id").alias("member_id")
    )
    if score_col:
        intra = intra.withColumn(score_col, F.lit(intra_score))
    return intra.unionByName(inter)


def _bucket_cap(
    banded: DataFrame,
    keys: list[str],
    max_bucket: int | None,
    occupancy_col: str | None = None,
) -> DataFrame:
    """Drop (band, bucket) groups holding more than max_bucket documents
    before the banded self-join — the banded-join analog of ngram's
    max_df stop-shingle cap, bounding candidate blowup from NEAR-identical
    document floods (exact duplicates are already collapsed upstream).
    Recall trade: a true near-dup pair is lost only if EVERY band it
    collides on is hot; with the default cap (1000) that requires a
    >1000-document near-identical flood, which a dedup pipeline should
    handle via the exact/collapse path anyway. Implemented as a map-side-
    combined count of hot buckets (a FEW rows by definition — anything
    over the cap) broadcast anti-joined back: no window sort of the banded
    stream, no extra fact-sized shuffle.

    occupancy_col (a digest-hash column on `banded`): occupancy is
    count(DISTINCT occupancy_col) — distinct normalized-text variants —
    instead of raw rows. PRECONDITION when the caller disables the
    exact-dup collapse (collapse_exact=False) on input that still
    contains heavy exact duplication: distinct-variant occupancy no
    longer bounds RAW rows, so a bucket with few variants but millions
    of identical copies passes the cap and the banded self-join goes
    quadratic — collapse_exact=False is only for PRE-COLLAPSED input
    (e.g. survivors of an upstream exact stage); the adaptive default
    path bounds the hazard by construction (q <= collapse_min_pairs
    short-circuit). Identical documents share identical signatures,
    hence identical bucket memberships, so this makes the cap decision
    INVARIANT to whether the exact-dup collapse upstream engaged or
    short-circuited: without it, a bucket sitting just under the cap in
    representatives could cross it on raw duplicate copies and flip the
    output pair set with duplicate mass. Spark plans the distinct count
    as a partial aggregation on (keys, digest) — still map-side combined,
    no extra fact shuffle."""
    if max_bucket is None:
        return banded
    occ = (
        F.count_distinct(F.col(occupancy_col))
        if occupancy_col
        else F.count(F.lit(1))
    )
    hot = (
        banded.groupBy(*keys)
        .agg(occ.alias("__bn"))
        .where(F.col("__bn") > max_bucket)
        .select(*keys)
    )
    return banded.join(F.broadcast(hot), on=keys, how="left_anti")


def _sigs_from_shingles(
    sh: DataFrame, num_hashes: int, carry: tuple = ()
) -> DataFrame:
    """MinHash signatures off a prebuilt (id, sh) shingle stream. `carry`
    names extra id-functional columns (e.g. the text-digest hash) to ride
    the groupBy key — free, since id determines them and the partial-agg
    rows just widen by their width."""
    mins = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"__h{i}") for i in range(num_hashes)
    ]
    wide = sh.groupBy("id", *carry).agg(*mins)
    return wide.select(
        "id", *carry, F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    verify: bool = True,
    collapse_exact: bool = True,
    max_bucket: int | None = 1000,
    group_form: bool = False,
    collapse_min_pairs: int = 10000,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band the signature, bucket-join on
    (band_idx, band_hash), optionally verify candidates with exact
    Jaccard (removes LSH false positives; false negatives are the usual
    LSH probabilistic tradeoff, tuned by bands/rows).

    group_form=True returns (rep_id, member_id[, jaccard]) instead of
    exploded pairs — LINEAR in duplicate-cluster size where the pair form
    is quadratic (a 10^6-copy cluster emits 10^6-1 rows, not ~5x10^11),
    with the identical distinct drop set (member_id == the pair form's
    id_b set). The scale-safe choice for dedup consumers, which only ever
    need the drop set; see _group_form_output.

    collapse_exact (default ON): normalization-identical documents are
    collapsed to one representative per text digest (_text_members — a
    slim (digest, id) groupBy, the text column never shuffles) and only
    representatives enter the banded self-join; the pair set is
    re-expanded after — intra-group pairs at jaccard exactly 1.0,
    representative pairs fanned out to all member combinations at the
    representative jaccard. Identical text means identical signatures and
    identical shingle sets, so the output is value-identical to the
    uncollapsed run while duplicate clusters cost O(cluster) instead of
    O(cluster^2) in the banded self-join. The collapse is ADAPTIVE
    (collapse_min_pairs): it engages only when the corpus's exact-
    duplicate pair mass q = sum n*(n-1) over digest groups exceeds the
    threshold — below it (duplicate-free or nearly so, e.g. after an
    upstream exact stage) _text_members short-circuits after one
    metadata-sized agg and the plan degenerates to the plain banded path,
    whose few duplicate candidate pairs cost less than the collapse
    machinery would. 0 forces the collapse on any duplicate. max_bucket
    then bounds the residual hazard of NEAR-identical floods; its
    occupancy counts DISTINCT text digests (see _bucket_cap), so the
    cap's keep/drop decision — and therefore the output pair set — is
    identical whether the collapse engaged or short-circuited.

    Output: (id_a, id_b[, jaccard]) distinct.

    The operator reads the text column EXACTLY ONCE: a persisted base
    frame carries (id, digest, shingle array) out of one scan; the
    adaptive q-check action materializes it, and the signature groupBy
    and Jaccard-verify joins both re-explode the cached shingle arrays
    instead of re-scanning and re-tokenizing the corpus (at 100 TB the
    text scan IS the dominant cost — it must not run once per consumer)."""
    base = _persisted(
        df.select(
            F.col(id_col).alias("id"),
            F.md5(normalized_text(F.col(text_col))).alias("__dig"),
            word_shingles(F.col(text_col), shingle_n).alias("__shs"),
        )
    )
    members = (
        _members_from_slim(base.select("id", "__dig"), collapse_min_pairs)
        if collapse_exact
        else None
    )
    sh = base.select(
        "id", F.xxhash64("__dig").alias("__dg"), F.explode("__shs").alias("sh")
    )
    rows_per_band = num_hashes // bands
    # signatures are computed for ALL documents (duplicate copies combine
    # map-side in the shingle groupBy — linear work, and the fat text
    # column never shuffles for the collapse); only REPRESENTATIVES enter
    # the banded join via a slim semi-join on id. The 8-byte digest hash
    # __dg rides the groupBy key into the banded frame so the hot-bucket
    # cap can count DISTINCT text variants — occupancy then reads the
    # same whether the collapse engaged or short-circuited.
    sigs = _sigs_from_shingles(sh, num_hashes, carry=("__dg",))
    if members is not None:
        sigs = sigs.join(
            members.where(F.col("id") == F.col("rep")).select("id"), "id", "leftsemi"
        )
    banded = sigs.select(
        "id",
        "__dg",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "__dg", "bb.band", "bb.bh")
    # slim, consumed by the hot-bucket count and both self-join sides
    banded = _persisted(banded)
    banded = _bucket_cap(banded, ["band", "bh"], max_bucket, occupancy_col="__dg")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bh"], how="inner")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if verify:
        # shingle-set size read straight off the cached base array — the
        # exploded stream is a flatten of __shs (already distinct), so
        # size(__shs) == the groupBy(id).count() it replaces, minus one
        # aggregation + exchange over the exploded stream (r6)
        sizes = base.select("id", F.size("__shs").alias("sz"))
        common = (
            cand.join(sh.alias("sa"), cand["id_a"] == F.col("sa.id"))
            .join(
                sh.alias("sb"),
                (cand["id_b"] == F.col("sb.id")) & (F.col("sa.sh") == F.col("sb.sh")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
        out = (
            common.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
    else:
        out = cand
    score_col = "jaccard" if verify else None
    if group_form:
        # intra edges score exactly 1.0 — they qualify iff threshold <= 1.0
        gm = members if (not verify or float(threshold) <= 1.0) else None
        return _group_form_output(out, gm, score_col, 1.0)
    if members is None:
        return out
    expanded = _expand_member_pairs(out, members, score_col, 1.0)
    if verify:
        # intra pairs score exactly 1.0, so they qualify iff threshold <=
        # 1.0 (constant-folded; inter pairs are threshold-filtered above)
        expanded = expanded.where(F.lit(float(threshold)) <= 1.0)
    return expanded


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """(id, simhash: bigint) — per-token xxhash64 bit votes. Implemented as
    one explode + one groupBy with `bits` signed sums (algebraic), then a
    single bit-assembly expression."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("tok"),
    )
    return _simhash_from_tokens(toks, bits)


def _simhash_from_tokens(
    toks: DataFrame, bits: int = 64, carry: tuple = ()
) -> DataFrame:
    """SimHash off a prebuilt (id, tok) token stream. `carry` as in
    _sigs_from_shingles."""
    toks = toks.withColumn("th", F.xxhash64("tok"))
    votes = toks.groupBy("id", *carry).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__b{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"__b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseOR(term)
    return votes.select("id", *carry, sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    collapse_exact: bool = True,
    max_bucket: int | None = 1000,
    group_form: bool = False,
    collapse_min_pairs: int = 10000,
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming, via band blocking: split
    the 64-bit hash into n_bands chunks; any pair within the Hamming ball
    shares at least one exact chunk (pigeonhole, needs n_bands > max_hamming
    for guarantee). Candidates verified with bit_count.

    collapse_exact (default ON): normalization-identical documents collapse
    to one representative per text digest (_text_members; only
    representatives enter the chunk self-join) and the pair set re-expands
    after — intra-group pairs at hamming exactly 0, representative pairs
    fanned out at the representative hamming. Identical text means
    identical token streams and identical simhash, so the output is
    value-identical to the uncollapsed run while duplicate clusters cost
    O(cluster) instead of O(cluster^2) in the chunk self-join (adaptive:
    a corpus whose duplicate pair mass is <= collapse_min_pairs
    short-circuits the collapse entirely — _text_members returns None;
    see minhash_lsh_pairs). max_bucket bounds the residual
    near-identical-flood hazard (see _bucket_cap).

    group_form=True returns (rep_id, member_id, hamming) — linear in
    duplicate-cluster size with the identical distinct drop set; see
    minhash_lsh_pairs/_group_form_output.

    Like minhash_lsh_pairs, the text column is read EXACTLY ONCE: a
    persisted (id, digest, token array) base comes out of one scan; the
    q-check action materializes it and the simhash vote groupBy explodes
    the cached token arrays."""
    base = _persisted(
        df.select(
            F.col(id_col).alias("id"),
            F.md5(normalized_text(F.col(text_col))).alias("__dig"),
            F.split(normalized_text(F.col(text_col)), " ").alias("__toks"),
        )
    )
    members = (
        _members_from_slim(base.select("id", "__dig"), collapse_min_pairs)
        if collapse_exact
        else None
    )
    # __dg rides the vote groupBy into the banded frame — see
    # minhash_lsh_pairs: the hot-bucket cap counts distinct text variants.
    sigs = _simhash_from_tokens(
        base.select(
            "id", F.xxhash64("__dig").alias("__dg"), F.explode("__toks").alias("tok")
        ),
        carry=("__dg",),
    )
    if members is not None:
        sigs = sigs.join(
            members.where(F.col("id") == F.col("rep")).select("id"), "id", "leftsemi"
        )
    width = 64 // n_bands
    banded = sigs.select(
        "id",
        "__dg",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "__dg", "simhash", "bb.band", "bb.chunk")
    banded = _persisted(banded)
    banded = _bucket_cap(banded, ["band", "chunk"], max_bucket, occupancy_col="__dg")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "chunk"], how="inner")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out = cand.select("id_a", "id_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
    # intra pairs are hamming 0, which always satisfies max_hamming >= 0
    if group_form:
        return _group_form_output(out, members, "hamming", 0)
    if members is None:
        return out
    return _expand_member_pairs(out, members, "hamming", 0)


def exact_dup_canon(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, v, rep): rep = min id among rows carrying an IDENTICAL vector —
    the exact-duplicate collapse that keeps duplicate clusters out of the
    quadratic in-bucket passes. One shuffle keyed on the vector value
    itself (no hash-collision caveat); web-scale embedding corpora are
    full of byte-identical vectors, which would otherwise all land in one
    LSH bucket and cost O(cluster^2) pairs.

    Zero-norm vectors are INTENTIONALLY EXCLUDED from the output (and so
    from every downstream consumer — embedding_cosine_dups emits no pair
    involving them, cosine_topk_lsh never ranks them): their cosine is
    0/0 = NaN, and since Spark orders NaN above every number, earlier code
    that let them through emitted NaN-cosine pairs and ranked them FIRST
    under desc ordering. Dropping them is the deliberate behavior change
    (pinned by test_zero_norm_vectors_excluded)."""
    from pyspark.sql import Window

    nonzero = F.exists(F.col(vec_col), lambda x: x != 0)
    return (
        df.where(nonzero)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("rep", F.min("id").over(Window.partitionBy("v")))
    )


def embedding_cosine_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    dim: int | None = None,
    group_form: bool = False,
) -> DataFrame:
    """Embedding near-duplicates: collapse exact-duplicate vectors to one
    representative (exact_dup_canon), random-hyperplane LSH bucket the
    representatives (n_planes sign bits), exact cosine within buckets,
    then re-expand duplicate groups: intra-group pairs score cosine 1.0
    (identical vectors) and every representative pair fans out to its
    members. In-bucket work is O(n_unique^2 / 2^n_planes) instead of
    O(n_total^2 / 2^n_planes) — the output pair set is unchanged (and
    still quadratic in cluster size, as the true near-dup relation is),
    EXCEPT that zero-norm vectors are intentionally excluded via
    exact_dup_canon: their cosine is NaN, which Spark orders above every
    number, so earlier code emitted NaN-cosine pairs for them (pinned by
    test_zero_norm_vectors_excluded).

    Deterministic planes from a seeded RNG broadcast as literals. Pass
    `dim` (embedding width) to keep construction fully lazy; omitted, it
    is sniffed with a one-row scan. Output (id_a, id_b, cosine 6dp).

    group_form=True returns (rep_id, member_id, cosine) — linear in
    duplicate-cluster size with the identical distinct drop set; see
    minhash_lsh_pairs/_group_form_output."""
    import numpy as np

    canon = exact_dup_canon(df, id_col, vec_col)
    if dim is None:
        dim = int(canon.select(F.size("v").alias("d")).first()["d"])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    def dot_with(plane) -> Column:
        lit = F.array(*[F.lit(float(x)) for x in plane])
        return F.aggregate(
            F.zip_with(F.col("v"), lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sig = None
    for i in range(n_planes):
        bit = F.when(dot_with(planes[i]) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)

    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    members = canon.select("rep", "id")
    reps = canon.where(F.col("id") == F.col("rep")).select(
        "id", "v", sig.alias("bucket"), norm.alias("nrm")
    )
    cos = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (F.col("a.nrm") * F.col("b.nrm"))
    rep_pairs = (
        reps.alias("a")
        .join(reps.alias("b"), on="bucket", how="inner")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("rep_a"),
            F.col("b.id").alias("rep_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    if group_form:
        # intra edges score cosine exactly 1.0 — qualify iff threshold <= 1
        gm = members if float(threshold) <= 1.0 else None
        return _group_form_output(
            rep_pairs.select(
                F.col("rep_a").alias("id_a"), F.col("rep_b").alias("id_b"), "cosine"
            ),
            gm,
            "cosine",
            1.0,
        )
    # intra-group: identical vectors — cosine is exactly 1.0 at 6dp
    # (dot(v,v)/(sqrt*sqrt) rounds to 1.0 within one ulp)
    intra = (
        members.alias("a")
        .join(members.alias("b"), on="rep")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.lit(1.0).alias("cosine"),
        )
        .where(F.lit(float(threshold)) <= 1.0)
    )
    # inter-group: each qualifying representative pair fans out to all
    # (member of A) x (member of B) combinations at the reps' cosine
    inter = (
        rep_pairs.join(
            members.select(F.col("rep").alias("rep_a"), F.col("id").alias("__ma")), "rep_a"
        )
        .join(members.select(F.col("rep").alias("rep_b"), F.col("id").alias("__mb")), "rep_b")
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            "cosine",
        )
    )
    return intra.unionByName(inter)
