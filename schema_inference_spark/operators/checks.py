"""Constraint checks D10-D12: uniqueness, referential integrity, ordering.

Each check emits violation rows in the reference failure-object shape
(FIXTURES.md F5; ref util.clj:153-155):

    (snapshot_id, partition_id, check_id, mgu_failure, schema_1, schema_2,
     conv_id, turn_idx, payload)

``validate()``'s shuffle path runs D10-D12 together through
``check_rowlevel_fused``: the native split reader's rows, one exchange on
conv_id, the clustered path's Arrow kernel. The per-check declarative
plans below are its oracles in tests. Their scale design (SURVEY.md
§4.3):
- uniqueness (D10): salted two-phase aggregation — partial counts on
  (key, salt) absorb hot keys before the global shuffle; a single hot
  conv_id (agent loop) cannot pin one reducer. AQE skew handling stays on
  as backstop, but the salt is explicit per north_rule.
- referential (D11): broadcast LEFT ANTI join against the (tiny) vocab —
  no shuffle of the fact table at all.
- ordering (D12): one window shuffle on conv_id covers gap, duplicate and
  ts-regression checks in a single pass (shared Exchange+Sort).

Checks never raise on data errors; violations are rows (reference
invariant: by-value failure propagation, algo_w.clj:9-11).
"""

from __future__ import annotations

import json
from typing import Iterable, List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.frames import local_frame
from .clustered import _OUT_DDL, _segment_checker, _with_meta

VIOLATION_COLS = [
    "snapshot_id", "partition_id", "check_id", "mgu_failure",
    "schema_1", "schema_2", "conv_id", "turn_idx", "payload",
]

VIOLATION_DDL = ("snapshot_id string, partition_id int, check_id string, "
                 "mgu_failure string, schema_1 string, schema_2 string, "
                 "conv_id string, turn_idx bigint, payload string")


def _shape(df: DataFrame, snapshot_id: str, check_id: str,
           payload_col, mgu_failure: str | None = None,
           schema_1=None, schema_2=None) -> DataFrame:
    """Project any check output into the canonical violation schema."""
    return df.select(
        F.lit(snapshot_id).alias("snapshot_id"),
        F.col("partition_id").cast("int").alias("partition_id"),
        F.lit(check_id).alias("check_id"),
        F.lit(mgu_failure).cast("string").alias("mgu_failure"),
        (schema_1 if schema_1 is not None else F.lit(None)).cast("string").alias("schema_1"),
        (schema_2 if schema_2 is not None else F.lit(None)).cast("string").alias("schema_2"),
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("bigint").alias("turn_idx"),
        payload_col.cast("string").alias("payload"),
    )


_ORDER_COLS = ("snapshot_id", "partition_id", "check_id", "conv_id",
               "turn_idx", "payload")
_ORDER_IX = tuple(VIOLATION_COLS.index(c) for c in _ORDER_COLS)


def empty_violations(spark) -> DataFrame:
    return local_frame(spark, [], VIOLATION_DDL)


def stable_order(v: DataFrame) -> DataFrame:
    """Canonical violation ordering for byte-for-byte comparability
    (FIXTURES.md F5; north_rule)."""
    return v.orderBy(*_ORDER_COLS)


def stable_key(row: tuple) -> tuple:
    """``stable_order`` as a Python sort key over violation tuples:
    ascending, nulls first."""
    return tuple((row[i] is not None, row[i]) for i in _ORDER_IX)


# ---------------------------------------------------------------------------
# D10 — uniqueness of (conv_id, turn_idx), salted two-phase
# ---------------------------------------------------------------------------

def check_unique_key(df: DataFrame, snapshot_id: str,
                     keys: Iterable[str] = ("conv_id", "turn_idx"),
                     n_salts: int = 16,
                     partition_col: str = "bucket") -> DataFrame:
    """Duplicate-key detection as salted partial counts + final aggregate.

    Phase 1 groups on (keys..., salt) — map-side partial aggregation plus
    the salt split any hot key across ``n_salts`` reducers. Phase 2
    re-aggregates the (tiny) per-salt counts on the bare key. Only keys
    with total count > 1 survive; violation rows carry the count.

    Perf note: for COMBINABLE aggs (count/min), map-side partial
    aggregation already bounds each reducer's input at one row per mapper
    per key, so the explicit salt is belt-and-braces rather than
    load-bearing — and the extra phase costs a second shuffle (~2x at
    9.5M turns measured). The fused path (``check_rowlevel_fused``, the
    engine default) detects duplicates by sort adjacency instead; this
    salted form is kept as the standalone/escape-hatch shape the
    north_rule names explicitly.
    """
    keys = list(keys)
    salted = (df
              .select(partition_col, *keys,
                      F.pmod(F.crc32(F.concat_ws("", *keys)),
                             F.lit(n_salts)).alias("_salt"))
              .groupBy(*keys, "_salt")
              .agg(F.count(F.lit(1)).alias("_cnt"),
                   F.min(partition_col).alias("_pid")))
    dups = (salted
            .groupBy(*keys)
            .agg(F.sum("_cnt").alias("n_copies"), F.min("_pid").alias("_pid"))
            .filter(F.col("n_copies") > 1))
    return _shape(
        dups.withColumnRenamed("_pid", "partition_id"),
        snapshot_id, "unique_key",
        payload_col=F.to_json(F.struct(F.col("n_copies"))),
    )


# ---------------------------------------------------------------------------
# D11 — referential integrity of vocab columns, broadcast anti-join
# ---------------------------------------------------------------------------

def check_referential(df: DataFrame, snapshot_id: str, column: str,
                      vocab: List[str], check_id: str,
                      partition_col: str = "bucket",
                      nullable: bool = False) -> DataFrame:
    """Rows whose ``column`` value is outside ``vocab`` — the data-level
    enum-subset rule (README.md:273-279) as a broadcast LEFT ANTI join.

    The violation carries the reference's failure-object fields: schema_1
    is the offending singleton enum, schema_2 the vocabulary enum.
    """
    vocab_df = local_frame(df.sparkSession, [(v,) for v in vocab],
                           f"{column} string")
    base = df.select(partition_col, "conv_id", "turn_idx", column)
    if nullable:
        base = base.filter(F.col(column).isNotNull())
    bad = base.join(F.broadcast(vocab_df), on=column, how="left_anti")
    vocab_json = json.dumps({"type": "enum", "values": sorted(vocab)},
                            sort_keys=True, separators=(",", ":"))
    return _shape(
        bad.withColumnRenamed(partition_col, "partition_id"),
        snapshot_id, check_id,
        payload_col=F.to_json(F.struct(F.col(column).alias("value"))),
        mgu_failure="non_equal",
        # to_json, not string concat: an out-of-vocab value containing a
        # quote or backslash must still yield parseable canonical JSON
        schema_1=F.to_json(F.struct(
            F.lit("enum").alias("type"),
            F.array(F.col(column)).alias("values"))),
        schema_2=F.lit(vocab_json),
    )


def check_conv_completeness(df: DataFrame, snapshot_id: str,
                            expected_start: int = 0,
                            partition_col: str = "bucket") -> DataFrame:
    """Violation-store form of ``conversations.conv_completeness``: one
    row per incomplete conversation — check_id ``conv_head_truncated``
    (min turn above ``expected_start``; invisible to the D12 lag-window
    pass) or ``conv_gap`` (interior holes, the per-conv TOTAL the
    row-level ``turn_gap`` findings sum to). ``turn_idx`` carries the
    conversation's min turn; payload carries the full measurement.

    One groupBy on (bucket, conv) with map-side partials — a
    conversation lives in exactly one bucket (the catalog hash-buckets
    by conv_id), so the partition attribution is exact, not a vote.
    """
    from .conversations import conv_completeness
    cc = conv_completeness(
        df.select(partition_col, "conv_id", "turn_idx"),
        expected_start=expected_start,
        extra_group_cols=[partition_col])
    bad = (cc.filter(F.col("verdict") != "ok")
           .withColumnRenamed(partition_col, "partition_id")
           .withColumn("turn_idx", F.col("min_turn")))
    payload = F.to_json(F.struct(
        F.col("n_turns"), F.col("min_turn"), F.col("max_turn"),
        F.col("head_missing"), F.col("n_missing")))
    head = _shape(bad.filter(F.col("verdict") == "head_truncated"),
                  snapshot_id, "conv_head_truncated", payload_col=payload)
    gap = _shape(bad.filter(F.col("verdict") == "gapped"),
                 snapshot_id, "conv_gap", payload_col=payload)
    return head.unionByName(gap)


def check_conv_dup(df: DataFrame, snapshot_id: str,
                   partition_col: str = "bucket") -> DataFrame:
    """Violation-store form of ``conversations.conv_dup_groups``: one
    row per NON-CANONICAL member of a whole-conversation duplicate
    group ("the same transcript ingested twice under two conv_ids") —
    check_id ``conv_dup``, ``turn_idx`` carries the conversation's turn
    count, payload carries the canonical conv_id, group size and the
    shared signature. Duplicate content is (role, text) per turn under
    the stable (ts, turn_idx) ordering.

    Plan: ONE fold exchange on the conversation key (turn content
    md5-digested map-side — the exchange carries 32-char digests, see
    conv_sigs), then a signature-keyed self-join over the
    one-row-per-conversation frame. A conversation lives in exactly one
    bucket, so ``partition_col`` rides the fold as a
    functionally-dependent group column — exact partition attribution.
    The canonical (first-ingested = min conv_id) member never reports,
    so re-validating after dropping the flagged members converges."""
    from .conversations import conv_sigs
    content = F.concat(
        F.coalesce(F.col("role"), F.lit("\x00")), F.lit("\x1e"),
        F.coalesce(F.col("text"), F.lit("\x00")))
    sigs = conv_sigs(
        df.select(partition_col, "conv_id", "turn_idx", "ts",
                  content.alias("_content")),
        key_col="conv_id", ts_col="ts", text_col="_content",
        tiebreak_col="turn_idx", extra_group_cols=[partition_col])
    groups = (sigs.groupBy("conv_sig")
              .agg(F.min("conv_id").alias("_canonical"),
                   F.count(F.lit(1)).alias("_n_convs"))
              .filter(F.col("_n_convs") > 1))
    dups = (sigs.join(groups, "conv_sig")
            .filter(F.col("conv_id") != F.col("_canonical"))
            .withColumnRenamed(partition_col, "partition_id")
            .withColumn("turn_idx", F.col("_n_turns")))
    payload = F.to_json(F.struct(
        F.col("_canonical").alias("canonical_id"),
        F.col("_n_convs").alias("n_convs"),
        F.col("conv_sig")))
    return _shape(dups, snapshot_id, "conv_dup", payload_col=payload)


# default prefix cap for conversation near-dup comparison — the ONE
# definition the pipeline check and the deployment flag share (the
# recall numbers of `git show 3abe443:BENCH/stress_conv_near_dup.py`
# are measured at this value). A capped deployment must use the same
# value in its index artifacts (enforced by the mh_params tag).
CONV_NEAR_DUP_MAX_TURNS = 1024


def check_conv_near_dup(df: DataFrame, snapshot_id: str,
                        partition_col: str = "bucket",
                        threshold: float = 0.5,
                        max_turns: Optional[int] =
                        CONV_NEAR_DUP_MAX_TURNS) -> DataFrame:
    """Violation-store form of conversation-level NEAR-dup (the
    re-rollout pathology ``conv_dup`` misses: same seed conversation,
    divergent tail): one row per conversation whose assembled
    transcript exact-Jaccard-matches an EARLIER conversation at >=
    ``threshold`` — check_id ``conv_near_dup``, ``turn_idx`` carries
    the turn count, payload the earliest counterpart, the best match's
    jaccard, and the pair count. The earliest member of a near-dup
    cluster never reports, so re-validating after dropping the flagged
    members converges (same canonical contract as conv_dup).

    Plan: the conversation fold here is the ONE fold in the engine that
    must carry raw text on its exchange — shingling is content-
    dependent, so no digest trick applies. Downstream is the standard
    capped machinery (dedup.lsh_candidate_pairs banding with
    bucket_cap, exact-Jaccard verify on the candidate pairs only). At
    the warehouse this runs as the scheduled corpus near-dedup pass;
    the per-ingest form (conv_dup_against_index's MinHash analog via
    near_dup_candidates_from_sigs) exists so this full-corpus pass is
    NOT on any ingest path.

    MEMORY CONTRACT (measured, not guessed): what gets persisted for
    the three shingle consumers (banding + both verify sides) is the
    ASSEMBLED frame — one text row per conversation — and each
    consumer recomputes shingles from it (narrow, JVM-side, no extra
    shuffle). Caching the shingled frame instead OOMs at corpus scale:
    the distinct word-k-shingle arrays are ~k× the text in per-string
    JVM objects, and materializing them into storage blocks blew a
    32 GB heap at 19.1M turns (`git show
    3abe443:BENCH/stress_conv_near_dup.py`) while
    the assembled-text cache fits comfortably. Session-scoped cache
    note as ``dedup.jaccard_pairs``. ``partition_col`` rides the fold
    as a functionally-dependent group column (a conversation lives in
    exactly one partition — same contract as ``conv_sigs``).

    WHALE GUARD: transcripts are compared on their first ``max_turns``
    turns. Without the cap one pathological conversation dominates
    everything row-wise — the 19.1M-turn scaling corpus plants a
    1.9M-turn / 360 MB conversation, and its assembled row's shingle
    array (~54M strings built by per-row higher-order expressions)
    is multi-GB in one task: the measured outcome is heap exhaustion
    or a never-finishing stage, at ANY cluster size, because a single
    row cannot be split across tasks. Prefix comparison is also
    semantically aligned with the pathology this check hunts: a
    re-rollout shares the seed HEAD and diverges at the tail, so two
    conversations identical through the cap report as near-dups —
    the documented prefix semantics (a megaturn conversation is
    itself pathological and surfaces via check_stuck_loops /
    context_budget). The cap is a MAP-SIDE filter on the turn ordinal
    (``turn_idx < max_turns``), not a post-fold slice: it bounds the
    fold's exchange bytes AND its per-group aggregation buffer before
    any shuffle, which a slice after ``collect_list`` cannot (the
    whale's 360 MB would still materialize in one group's state).
    ``max_turns=None`` disables the cap; ``turn_idx`` always carries
    the turn count of the COMPARED prefix."""
    from .conversations import assemble_conversations
    from .dedup import lsh_candidate_pairs, verify_candidates, with_shingles
    capped = (df if max_turns is None
              else df.filter(F.col("turn_idx") < int(max_turns)))
    assembled = (assemble_conversations(
        capped, key_col="conv_id", ts_col="ts", seq_col="text",
        tiebreak_col="turn_idx", sep=" ",
        extra_group_cols=[partition_col])
        .select(F.col("conv_id").alias("doc_id"),
                F.col(partition_col).alias("_part"),
                F.col("n_turns").alias("_n_turns"),
                F.col("seq").alias("text"))
        .persist())
    shingled = with_shingles(assembled)
    pairs = verify_candidates(lsh_candidate_pairs(shingled, sort=False),
                              shingled, threshold=threshold)
    # best counterpart per reporting (later-id) member: min over
    # (-jaccard, earlier id) = highest jaccard, ties to the earliest
    best = (pairs.groupBy(F.col("d2").alias("conv_id"))
            .agg(F.min(F.struct((-F.col("jaccard")).alias("nj"),
                                F.col("d1").alias("m"))).alias("_b"),
                 F.count(F.lit(1)).alias("_n_pairs")))
    dups = (best.join(assembled.select(F.col("doc_id").alias("conv_id"),
                                       "_part", "_n_turns"), "conv_id")
            .withColumnRenamed("_part", "partition_id")
            .withColumn("turn_idx", F.col("_n_turns")))
    payload = F.to_json(F.struct(
        F.col("_b.m").alias("matched_id"),
        F.round(-F.col("_b.nj"), 6).alias("jaccard"),
        F.col("_n_pairs").alias("n_pairs")))
    return _shape(dups, snapshot_id, "conv_near_dup", payload_col=payload)


def check_stuck_loops(df: DataFrame, snapshot_id: str,
                      min_run: int = 3, seq_col: str = "role",
                      partition_col: str = "bucket") -> DataFrame:
    """Violation-store form of ``conversations.repeated_runs``: one row
    per maximal run of >= ``min_run`` consecutive identical ``seq_col``
    values inside a conversation — check_id ``stuck_loop``, the agent
    retry-loop/echo pathology that D12's gap/order checks never see (a
    stuck loop has perfectly consecutive turn_idx). ``turn_idx``
    carries the run's 1-based start index; payload carries the repeated
    value and run extent.

    A conversation lives in exactly one bucket (the catalog hash-buckets
    by conv_id), so ``partition_col`` rides the run fold as a
    functionally-dependent group column — exact partition attribution,
    zero extra shuffle (one window Exchange on (conv, bucket), the fold
    reuses its clustering)."""
    from .conversations import repeated_runs
    runs = repeated_runs(
        df.select(partition_col, "conv_id", "turn_idx", seq_col, "ts"),
        key_col="conv_id", ts_col="ts", seq_col=seq_col,
        tiebreak_col="turn_idx", min_run=min_run,
        extra_group_cols=[partition_col])
    payload = F.to_json(F.struct(
        F.col("value"), F.col("run_len"),
        F.col("start_idx"), F.col("end_idx")))
    return _shape(
        runs.withColumnRenamed(partition_col, "partition_id")
            .withColumn("turn_idx", F.col("start_idx")),
        snapshot_id, "stuck_loop", payload_col=payload)


def check_context_overflow(df: DataFrame, snapshot_id: str,
                           budget: int, cost_col: str = "text",
                           partition_col: str = "bucket") -> DataFrame:
    """Violation-store form of ``conversations.context_overflow``: one
    row per conversation whose running text cost (char length —
    deterministic, integer-exact; swap in a token count upstream if the
    tokenizer is pinned) crosses ``budget`` — check_id
    ``context_overflow``, ``turn_idx`` = the 1-based crossing turn,
    payload = totals + overflow extent. Same single-Exchange shape and
    bucket attribution as check_stuck_loops."""
    from .conversations import context_overflow
    over = context_overflow(
        df.select(partition_col, "conv_id", "turn_idx", cost_col, "ts"),
        key_col="conv_id", ts_col="ts", tiebreak_col="turn_idx",
        cost=F.coalesce(F.length(cost_col), F.lit(0)),
        budget=budget, extra_group_cols=[partition_col])
    payload = F.to_json(F.struct(
        F.col("n_turns"), F.col("total_cost"),
        F.col("n_over"), F.col("first_over_idx"), F.lit(budget).alias("budget")))
    return _shape(
        over.withColumnRenamed(partition_col, "partition_id")
            .withColumn("turn_idx", F.col("first_over_idx")),
        snapshot_id, "context_overflow", payload_col=payload)


# ---------------------------------------------------------------------------
# D12 — turn ordering: gaps, duplicates, ts regressions in ONE window pass
# ---------------------------------------------------------------------------

def check_ordering(df: DataFrame, snapshot_id: str,
                   partition_col: str = "bucket") -> DataFrame:
    """Window over (conv_id ORDER BY turn_idx, ts): a single shuffle on
    conv_id serves three checks —

    - turn_gap: turn_idx > lag(turn_idx) + 1
    - turn_dup: turn_idx == lag(turn_idx)   (window-level double check of D10)
    - ts_order: ts < lag(ts)                (stable turn ordering invariant)

    Scale note: a conversation's turns must be co-resident for the window;
    per-conv turn counts are bounded in practice (agent loops are the skew
    risk and they are *row* skew, not per-key cardinality beyond memory).
    The prod escape hatch for pathological convs is range-partitioning with
    boundary-turn exchange (SURVEY.md §7.3-4).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    base = (df.select(partition_col, "conv_id", "turn_idx", "ts")
            .withColumn("_prev_idx", F.lag("turn_idx").over(w))
            .withColumn("_prev_ts", F.lag("ts").over(w)))

    gap = (base.filter(F.col("_prev_idx").isNotNull()
                       & (F.col("turn_idx") > F.col("_prev_idx") + 1)))
    gap_v = _shape(
        gap.withColumnRenamed(partition_col, "partition_id"),
        snapshot_id, "turn_gap",
        payload_col=F.to_json(F.struct(
            F.col("_prev_idx").cast("bigint").alias("prev_idx"),
            (F.col("turn_idx") - F.col("_prev_idx") - 1).cast("bigint").alias("missing"))),
    )

    dup = base.filter(F.col("_prev_idx").isNotNull()
                      & (F.col("turn_idx") == F.col("_prev_idx")))
    dup_v = _shape(
        dup.withColumnRenamed(partition_col, "partition_id"),
        snapshot_id, "turn_dup",
        payload_col=F.to_json(F.struct(
            F.col("_prev_idx").cast("bigint").alias("prev_idx"))),
    )

    ts_bad = base.filter(F.col("_prev_ts").isNotNull()
                         & (F.col("ts") < F.col("_prev_ts")))
    ts_v = _shape(
        ts_bad.withColumnRenamed(partition_col, "partition_id"),
        snapshot_id, "ts_order",
        payload_col=F.to_json(F.struct(
            F.date_format("_prev_ts", "yyyy-MM-dd'T'HH:mm:ssXXX").alias("prev_ts"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ssXXX").alias("ts"))),
    )

    return gap_v.unionByName(dup_v).unionByName(ts_v)


# ---------------------------------------------------------------------------
# Conversation-protocol check: role-transition matrix (opt-in)
# ---------------------------------------------------------------------------

def check_role_protocol(df: DataFrame, snapshot_id: str,
                        allowed, partition_col: str = "bucket"
                        ) -> DataFrame:
    """Violation rows for turns whose (prev_role -> role) transition is
    outside the ``allowed`` protocol matrix — the conversation-protocol
    analog of the D11 vocabulary check, at transition granularity.

    ``allowed`` is a set of (prev, cur) string pairs (roles x roles —
    tiny), compiled into a literal array tested per row inside
    whole-stage codegen: no second join, no broadcast table. The window
    is the (conv_id ORDER BY turn_idx, ts) ordering the D12 checks use
    (the stable-turn-ordering invariant), with its own exchange. A
    conversation's first turn has no predecessor
    and never violates (start-state validation is a vocabulary check).
    A NULL role on either side of a transition is left to the D11
    referential check — protocol rows require both roles present.

    Ties on (turn_idx, ts) — e.g. duplicated turns — are broken by the
    role string itself, so the transition sequence (and therefore the
    violation set) is deterministic regardless of physical row
    order."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", "role")
    base = (df.select(partition_col, "conv_id", "turn_idx", "ts", "role")
            .withColumn("_prev_role", F.lag("role").over(w)))
    pairs = F.array(*[F.lit(f"{a}\x1f{b}") for a, b in sorted(allowed)])
    bad = base.filter(
        F.col("_prev_role").isNotNull() & F.col("role").isNotNull()
        & ~F.array_contains(
            pairs, F.concat_ws("\x1f", F.col("_prev_role"), F.col("role"))))
    return _shape(
        bad.withColumnRenamed(partition_col, "partition_id"),
        snapshot_id, "role_protocol",
        payload_col=F.to_json(F.struct(
            F.col("_prev_role").alias("prev"),
            F.col("role").alias("cur"))),
    )


# ---------------------------------------------------------------------------
# Row-level checks on the shuffle path: D10 + D11 (x2) + D12 in one kernel
# ---------------------------------------------------------------------------

def check_rowlevel_fused(df: DataFrame, snapshot_id: str,
                         role_vocab: List[str], tool_vocab: List[str],
                         partition_col: str = "bucket") -> DataFrame:
    """Every row-level check in one lazy plan over any row source. On
    rows with non-null keys it is row-identical to the union of
    ``check_unique_key`` + ``check_referential`` (role, tool) +
    ``check_ordering``; null keys follow the turn-blocked window plan it
    replaced (both asserted in tests):

      rows -> project the six check columns -> Exchange(conv_id) ->
      Sort(conv_id, turn_idx, ts) -> mapInArrow(clustered kernel)

    ``validate()`` feeds it the native split reader's rows
    (``clustered.native_rows``); tests also feed it the JVM read plan.
    The kernel is the clustered path's ``_segment_checker`` in its
    sorted-input mode: each conversation is whole in one task, so the
    lag checks and duplicate runs need no carrier rows, seam stitch or
    second branch, and collecting the plan runs one scan and one
    exchange. AQE sizes the exchange. The kernel emits violation rows
    only, a duplicate key as one ``unique_key`` row (its copy count, the
    min bucket of its copies). The reader's metadata rows (a ``meta``
    column) ride the same exchange, pass the kernel by and come out as
    ``clustered.META_CHECK`` rows: partition_id and the meta JSON in
    ``payload``.

    Skew: a conversation's turns go to one task, unblocked. With a
    1M-turn conversation added to a 120k-turn unclustered snapshot, a
    warm ``validate()`` took 8.4 s against 8.9 s with the turn-blocked
    window plan this replaced, at a 4.7 % higher peak RSS than that plan
    without heap pre-touch (4 cores, 3g driver heap).
    """
    meta = (F.col("meta") if "meta" in df.columns
            else F.lit(None).cast("string").alias("meta"))
    return (df.select(F.col(partition_col).cast("int").alias("bucket"),
                      F.col("conv_id").cast("string").alias("conv_id"),
                      F.col("turn_idx").cast("bigint").alias("turn_idx"),
                      "ts", F.col("role").cast("string").alias("role"),
                      F.col("tool").cast("string").alias("tool"), meta)
            .repartition("conv_id")
            .sortWithinPartitions("conv_id", "turn_idx", "ts")
            .mapInArrow(_with_meta(_segment_checker(role_vocab, tool_vocab)),
                        _OUT_DDL)
            .select(F.lit(snapshot_id).alias("snapshot_id"),
                    *VIOLATION_COLS[1:]))


# ---------------------------------------------------------------------------
# D16 — vocabulary diff (set ops): observed-distinct minus baseline
# ---------------------------------------------------------------------------

def vocab_diff(df: DataFrame, column: str, vocab: List[str]) -> DataFrame:
    """Distinct out-of-vocab values (enum-subset check at the schema level,
    README.md:273-279) — exceptAll over pre-aggregated distincts."""
    vocab_df = local_frame(df.sparkSession, [(v,) for v in vocab],
                           f"{column} string")
    return (df.select(column).filter(F.col(column).isNotNull())
            .distinct().exceptAll(vocab_df))


# ---------------------------------------------------------------------------
# run-over-run violation regression diff (the CI-gate shape)
# ---------------------------------------------------------------------------

def violations_diff(cur: DataFrame, prev: DataFrame,
                    keys: List[str]) -> DataFrame:
    """Diff two violation sets by ``keys``: one row per key with
    ``status`` in {'new', 'resolved', 'persisting'} — "did this ingest
    (or this repair) introduce or fix violations?" as a relational
    check rather than an eyeball over two audit tables. The CI gate
    consumes ``status = 'new'``; the repair queue drains on
    ``'resolved'``.

    Inputs are any two frames sharing the key columns (two snapshots'
    violation stores read back via catalog.read_violations, or two
    in-session check outputs). Duplicate keys within one side collapse
    to one row (a key either violates or doesn't — multiplicity diffs
    are a count check, not a set diff). Plan: two distinct aggregates +
    ONE full-outer sort-merge join on the key — violation stores are
    orders of magnitude smaller than the corpus, so this never touches
    corpus rows."""
    c = cur.select(*keys).distinct().withColumn("_c", F.lit(1))
    p = prev.select(*keys).distinct().withColumn("_p", F.lit(1))
    joined = c.join(p, on=keys, how="full_outer")
    return joined.select(
        *keys,
        F.when(F.col("_p").isNull(), F.lit("new"))
         .when(F.col("_c").isNull(), F.lit("resolved"))
         .otherwise(F.lit("persisting")).alias("status"))


# ---------------------------------------------------------------------------
# replica comparison: per-turn text equality (validate_replica)
# ---------------------------------------------------------------------------

def turn_text_diff(left: DataFrame, right: DataFrame,
                   keys: List[str], text_col: str = "text") -> DataFrame:
    """Per-turn text-equality check between two copies of a transcripts
    table — the north rule's per-row invariant ("per-turn text equality
    under stable turn ordering") materialized as violation rows rather
    than a boolean. One row per key where the invariant FAILS, with
    ``status`` in {'missing_right', 'missing_left', 'text_mismatch'}
    and each side's text digest for triage.

    It localizes a divergence to the exact (conv_id, turn_idx) turns;
    at 100 TB, run it on a partition-pruned slice.

    Scale shape: each side is reduced to (keys, md5, is_null) BEFORE
    the join, so the full-outer exchange carries 16-byte digests and a
    boolean per turn — never the text. Both sides hash-partition on the
    same keys; with both copies bucketed by conv_id the join is
    shuffle-free. NULL text on both sides is EQUAL (the invariant is
    byte equality of the value including its absence); NULL vs non-NULL
    is a mismatch. Keys are assumed unique per side (run the D10
    uniqueness check first — duplicate keys would produce join
    multiplicity, not wrong verdicts)."""
    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *keys,
            F.md5(F.col(text_col)).alias(f"{tag}_md5"),
            F.col(text_col).isNull().alias(f"_{tag}_null"),
            F.lit(1).alias(f"_{tag}"))

    j = side(left, "left").join(side(right, "right"),
                                on=list(keys), how="full_outer")
    status = (
        F.when(F.col("_right").isNull(), F.lit("missing_right"))
         .when(F.col("_left").isNull(), F.lit("missing_left"))
         .when((F.col("_left_null") != F.col("_right_null"))
               | (~F.col("_left_null")
                  & (F.col("left_md5") != F.col("right_md5"))),
               F.lit("text_mismatch")))
    return (j.withColumn("status", status)
             .filter(F.col("status").isNotNull())
             .select(*keys, "status", "left_md5", "right_md5"))
