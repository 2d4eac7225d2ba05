"""Conversation-level operators over turn-per-row transcript tables.

The north-rule input is turn-per-row (conv_id, turn_idx, role, text,
tool, ts); conversation-level QA needs the per-conversation view. The
checks in ``checks.py`` and the drift check in ``drift.py`` build on:

- ``assemble_conversations``: fold each conversation's turns into ONE
  row (ordered value sequence, turn count, time span) — the transcript
  the near-dup check shingles. One shuffle on the conversation key; the
  per-group state is a single conversation, so ``collect_list`` here is
  per-key bounded, not a driver collect.
- ``transition_counts``: the (prev -> cur) role-transition matrix, the
  input of the ``transition_drift`` snapshot check.
- ``repeated_runs`` / ``context_overflow`` / ``conv_completeness``:
  stuck loops, context-budget overflow and truncated or gapped
  conversations, one row per finding.
- ``conv_sigs``: one ordered-content digest per conversation, the key
  of the exact-duplicate check.

``invalid_transitions``, ``turn_latency``, ``conv_dup_groups`` and
the persisted signature index (``build_conv_sig_index`` /
``conv_dup_against_index``) are exercised by tests only.

All are built-in-function plans (window + groupBy; no Python in the hot
path).
"""

from __future__ import annotations

from typing import Optional, Sequence, Set, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assemble_conversations(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    tiebreak_col: str,
    sep: str = ">",
    max_turns: Optional[int] = None,
    extra_group_cols: Sequence[str] = (),
) -> DataFrame:
    """One row per key: ``n_turns``, ``seq`` (ordered ``seq_col`` values
    joined by ``sep``), ``first_us``/``last_us`` (epoch microseconds of
    the span). Ordering is (ts, tiebreak, value) — stable under the
    per-turn text-equality invariant's "stable turn ordering" clause.
    ``extra_group_cols`` ride the fold as functionally-dependent group
    columns (e.g. the catalog bucket — a conversation lives in exactly
    one), same contract as ``conv_sigs``. This is THE assembled-
    transcript fold: conversation-granularity consumers (the near-dup
    check's shingling) go through it so the ordering semantics live in
    one place."""
    ts = F.col(ts_col).cast("timestamp")
    turn = F.struct(
        F.unix_micros(ts).alias("us"),
        F.col(tiebreak_col).alias("tb"),
        F.col(seq_col).alias("v"))
    turns = F.array_sort(F.collect_list(turn))
    if max_turns is not None:
        turns = F.slice(turns, 1, int(max_turns))
    return (df
            .groupBy(key_col, *[F.col(c) for c in extra_group_cols])
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.array_join(
                     F.transform(turns, lambda x: x["v"]), sep).alias("seq"),
                 F.unix_micros(F.min(ts)).alias("first_us"),
                 F.unix_micros(F.max(ts)).alias("last_us")))


def _with_prev(df: DataFrame, key_col: str, ts_col: str,
               seq_col: str, tiebreak_col: str) -> Tuple[DataFrame, str]:
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).cast("timestamp"), F.col(tiebreak_col))
    return df.withColumn("prev_" + seq_col,
                         F.lag(seq_col).over(w)), "prev_" + seq_col


def transition_counts(df: DataFrame, key_col: str, ts_col: str,
                      seq_col: str, tiebreak_col: str) -> DataFrame:
    """(prev, cur, n) transition matrix across all keys. The first turn
    of each key has no predecessor and is excluded (count it separately
    as the start-distribution if needed)."""
    lagged, prev = _with_prev(df, key_col, ts_col, seq_col, tiebreak_col)
    return (lagged
            .filter(F.col(prev).isNotNull())
            .groupBy(F.col(prev).alias("prev"), F.col(seq_col).alias("cur"))
            .agg(F.count(F.lit(1)).alias("n")))


def turn_latency(df: DataFrame, key_col: str, ts_col: str,
                 seq_col: str, tiebreak_col: str) -> DataFrame:
    """Inter-turn latency statistics per (prev -> cur) transition: for
    every adjacent turn pair within a key, the gap in exact epoch
    microseconds, aggregated to (prev, cur, n, sum_gap_us, min_gap_us,
    max_gap_us). Exact integers end to end — mean is the consumer's
    sum/n division, so no float crosses the engine boundary.

    The operational QA this feeds: a spike in user->assistant gap is a
    serving regression; assistant->tool near-zero gaps with huge
    tool->assistant gaps localize latency to the tool, not the model.
    Plan: the same single lag window the other transition operators
    share (one Exchange on the key) + one tiny |roles|^2 aggregate."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy("_k").orderBy(F.col("_us"), F.col("_tb"))
    lagged = (df.select(F.col(seq_col).alias("cur"), us.alias("_us"),
                        F.col(key_col).alias("_k"),
                        F.col(tiebreak_col).alias("_tb"))
              .withColumn("prev", F.lag("cur").over(w))
              .withColumn("gap_us", F.col("_us") - F.lag("_us").over(w)))
    return (lagged.filter(F.col("prev").isNotNull())
            .groupBy("prev", "cur")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("gap_us").alias("sum_gap_us"),
                 F.min("gap_us").alias("min_gap_us"),
                 F.max("gap_us").alias("max_gap_us")))


def invalid_transitions(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    tiebreak_col: str,
    allowed: Set[Tuple[str, str]],
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Violation rows: every turn whose (prev -> cur) transition is not
    in ``allowed``. The allowed set is a protocol matrix (small — roles
    x roles), broadcast as a literal array; the scan stays one window +
    one filter, no second join. First turns (no predecessor) are never
    violations — start-state validation is a separate vocabulary check."""
    lagged, prev = _with_prev(df, key_col, ts_col, seq_col, tiebreak_col)
    pairs = F.array(*[F.lit(f"{a}\x1f{b}") for a, b in sorted(allowed)])
    edge = F.concat_ws("\x1f", F.col(prev), F.col(seq_col))
    return (lagged
            .filter(F.col(prev).isNotNull()
                    & ~F.array_contains(pairs, edge))
            .select(key_col, ts_col,
                    F.col(prev).alias("prev"),
                    F.col(seq_col).alias("cur"),
                    *extra_cols))


def repeated_runs(df: DataFrame, key_col: str, ts_col: str,
                  seq_col: str, tiebreak_col: str,
                  min_run: int = 3,
                  extra_group_cols: Sequence[str] = ()) -> DataFrame:
    """Stuck-loop detection: maximal runs of CONSECUTIVE identical
    ``seq_col`` values within a key, of length >= ``min_run`` — the
    agent-transcript retry-loop pathology (an assistant re-emitting the
    same turn, a tool erroring in a tight loop). Output one row per
    run: (key, value, run_len, start_idx, end_idx) with 1-based turn
    indexes in the (ts, tiebreak) stable order.

    Gaps-and-islands with ONE window Exchange: a null-safe
    change-detection flag (``eqNullSafe`` against the lag — consecutive
    nulls therefore DO form a run, matching SQL's IS NOT DISTINCT FROM)
    and its running sum assign a run id; row_number, lag and the
    running sum all share one (key) partitioning + (ts, tiebreak) sort,
    so they compile into a single WindowExec. The run fold is then a
    groupBy on (key, run_id) — map-side partial count/min/max, never a
    per-key sort. At 100 TB runs are bounded by conversation length, so
    no aggregate state exceeds a scalar per run.

    ``extra_group_cols`` ride along for columns functionally dependent
    on the key (e.g. the storage bucket a conversation lives in, for
    violation-row partition attribution) — they join the window
    partitioning and the fold, so semantics are unchanged."""
    extras = list(extra_group_cols)
    w = Window.partitionBy("_k", *extras).orderBy(
        F.col("_ts"), F.col("_tb"))
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    base = df.select(F.col(key_col).alias("_k"),
                     *[F.col(c) for c in extras],
                     F.col(ts_col).cast("timestamp").alias("_ts"),
                     F.col(tiebreak_col).alias("_tb"),
                     F.col(seq_col).alias("_v"))
    chg = F.when(F.lag("_v").over(w).eqNullSafe(F.col("_v")), 0).otherwise(1)
    ranked = (base.withColumn("_rn", F.row_number().over(w))
              .withColumn("_run", F.sum(chg).over(cum)))
    return (ranked.groupBy("_k", "_run", *extras)
            .agg(F.min("_v").alias("value"),
                 F.count(F.lit(1)).alias("run_len"),
                 F.min("_rn").alias("start_idx"),
                 F.max("_rn").alias("end_idx"))
            .filter(F.col("run_len") >= int(min_run))
            .select(F.col("_k").alias(key_col), *extras, "value",
                    F.col("run_len").cast("bigint").alias("run_len"),
                    F.col("start_idx").cast("bigint").alias("start_idx"),
                    F.col("end_idx").cast("bigint").alias("end_idx")))


def context_overflow(df: DataFrame, key_col: str, ts_col: str,
                     tiebreak_col: str, cost, budget: int,
                     extra_group_cols: Sequence[str] = ()) -> DataFrame:
    """Context-window overflow verdicts: running-total ``cost`` per key
    in stable (ts, tiebreak) turn order, flagging every conversation
    whose cumulative cost crosses ``budget`` — with WHERE it crossed
    (``first_over_idx``, 1-based) and how many turns ran past it
    (``n_over``). The validation twin of packing_plan: instead of
    packing documents INTO a budget it audits conversations that
    outgrew one (a serving context limit, an export row cap).

    ``cost`` is a Column of exact integers (e.g. ``F.length`` or a
    token count) so the running sum is integer-exact on every engine —
    no float summation-order hazard. Plan shape: one window Exchange on
    the key (running sum + row_number in one WindowExec), then a
    groupBy on the SAME key that reuses that Exchange (the key is
    aliased before the window, so both plan the same hashpartitioning
    attribute) — map-side partials, no second shuffle.
    ``extra_group_cols`` ride along for columns functionally dependent
    on the key (same contract as repeated_runs)."""
    extras = list(extra_group_cols)
    w = Window.partitionBy("_k", *extras).orderBy(
        F.col("_ts"), F.col("_tb"))
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    base = df.select(F.col(key_col).alias("_k"),
                     *[F.col(c) for c in extras],
                     F.col(ts_col).cast("timestamp").alias("_ts"),
                     F.col(tiebreak_col).alias("_tb"),
                     cost.cast("bigint").alias("_c"))
    ranked = (base.withColumn("_rn", F.row_number().over(w))
              .withColumn("_cum", F.sum("_c").over(cum)))
    over = F.col("_cum") > F.lit(int(budget))
    return (ranked.groupBy("_k", *extras)
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.max("_cum").alias("total_cost"),
                 F.sum(over.cast("int")).alias("n_over"),
                 F.min(F.when(over, F.col("_rn"))).alias("first_over_idx"))
            .filter(F.col("n_over") > 0)
            .select(F.col("_k").alias(key_col), *extras,
                    F.col("n_turns").cast("bigint").alias("n_turns"),
                    F.col("total_cost").cast("bigint").alias("total_cost"),
                    F.col("n_over").cast("bigint").alias("n_over"),
                    F.col("first_over_idx").cast("bigint")
                     .alias("first_over_idx")))


def conv_completeness(df: DataFrame, conv_col: str = "conv_id",
                      turn_col: str = "turn_idx",
                      expected_start: int = 0,
                      extra_group_cols: Sequence[str] = ()) -> DataFrame:
    """Per-conversation completeness verdicts — the aggregate
    complement of the window-based ordering check (checks.py D12).

    The lag-window check sees a gap only BETWEEN two surviving turns;
    a conversation whose head was truncated (first rows lost to a bad
    ingest, so ``min(turn_idx) > expected_start``) produces no lag pair
    at all and sails through. This operator closes that blind spot and
    totals internal gaps per conversation:

    - ``head_missing``   = min_turn - expected_start
    - ``n_missing``      = (max_turn - min_turn + 1) - n_distinct
      (distinct, so duplicated turn_idx — the unique-key family's
      finding — does not mask a real hole)
    - verdict priority: head_truncated > gapped > ok

    Scale shape: ONE groupBy shuffle on the conversation key with
    map-side partial min/max/count(distinct turn) — no window, no
    per-conv co-residency requirement (this is why it complements
    rather than extends check_ordering: it aggregates, so a
    pathological 10^8-turn conversation costs a partial per partition,
    not a sort). Output is per-conversation; violation consumers
    filter ``verdict != 'ok'``.
    """
    agg = (df.groupBy(F.col(conv_col),
                      *[F.col(c) for c in extra_group_cols])
           .agg(F.countDistinct(turn_col).alias("n_distinct"),
                F.min(turn_col).cast("bigint").alias("min_turn"),
                F.max(turn_col).cast("bigint").alias("max_turn")))
    head_missing = (F.col("min_turn") - F.lit(expected_start))
    n_missing = (F.col("max_turn") - F.col("min_turn") + 1
                 - F.col("n_distinct"))
    verdict = (F.when(head_missing > 0, "head_truncated")
               .when(n_missing > 0, "gapped")
               .otherwise("ok"))
    return agg.select(
        F.col(conv_col),
        *[F.col(c) for c in extra_group_cols],
        F.col("n_distinct").cast("bigint").alias("n_turns"),
        "min_turn", "max_turn",
        head_missing.cast("bigint").alias("head_missing"),
        n_missing.cast("bigint").alias("n_missing"),
        verdict.alias("verdict"))


def conv_dup_groups(df: DataFrame, key_col: str, ts_col: str,
                    text_col: str, tiebreak_col: str,
                    sep: str = "\x1f", null_marker: str = "\x00") -> DataFrame:
    """Whole-conversation EXACT dedup: group conversations whose full
    ordered turn-content sequences are byte-identical — the transcript
    analog of document-level ``dedup.exact_dup_groups`` ("the same
    conversation ingested twice under two conv_ids"). One row per
    duplicate group: ``conv_sig`` (md5 of the ordered fold), ``n_convs``,
    ``n_turns``, the canonical (min) key and the sorted member list.

    Scale shape: the ordered per-conversation fold is the same bounded
    ``collect_list`` + ``array_sort`` mechanism assemble_conversations
    uses (per-group state = one conversation, never corpus-sized), but
    it is reduced to a single 32-char digest BEFORE the second shuffle —
    the group-by-signature exchange carries (digest, key, count) per
    conversation, not transcripts. Members lists are duplicate-group
    sized; cap them with ``slice`` (assemble_conversations' max_turns
    guidance) if a corpus can contain thousand-way boilerplate
    conversations.

    NULL turn text folds as ``null_marker`` (array_join would otherwise
    silently DROP the element, making [a, NULL, b] collide with [a, b]);
    ``sep`` is an ASCII unit separator by default — a text that itself
    contains the separator can alias a turn boundary, so pass a longer
    separator for corpora where \\x1f can occur in payload."""
    per_conv = conv_sigs(df, key_col, ts_col, text_col, tiebreak_col,
                         sep=sep, null_marker=null_marker)
    return (per_conv.groupBy("conv_sig")
            .agg(F.count(F.lit(1)).alias("n_convs"),
                 F.min("_n_turns").alias("n_turns"),
                 F.min("conv_id").alias("canonical_id"),
                 F.concat_ws(",", F.transform(
                     F.array_sort(F.collect_list("conv_id")),
                     lambda x: x.cast("string"))).alias("members"))
            .filter(F.col("n_convs") > 1))


def conv_sigs(df: DataFrame, key_col: str, ts_col: str,
              text_col: str, tiebreak_col: str,
              sep: str = "\x1f", null_marker: str = "\x00",
              digest_turns: bool = True,
              extra_group_cols: Sequence[str] = ()) -> DataFrame:
    """One (conv_id, conv_sig, _n_turns) row per conversation: the md5 of
    the ordered turn-content fold — the signature primitive shared by
    batch dedup (``conv_dup_groups``) and the incremental ingest path
    (``build_conv_sig_index`` / ``conv_dup_against_index``). One shuffle
    on the conversation key; the output is one 32-char digest per
    conversation.

    With ``digest_turns`` (the default) each turn's text is md5-digested
    MAP-SIDE and the fold runs over the 32-char digests, so the
    conversation-key exchange carries fixed-width digests instead of
    raw transcript payload — the same digests-not-text exchange rule
    checks.turn_text_diff follows. For KB-sized turns on a real network
    shuffle this shrinks the exchange ~30x; it also removes the
    separator-aliasing caveat (hex digests can't contain ``sep``).
    Equality semantics are unchanged (two conversations sign equal iff
    their ordered turn texts are byte-equal, NULL folding as
    ``null_marker`` — a real text equal to the marker aliases NULL,
    the documented marker tradeoff). Set ``digest_turns=False`` to
    fold the raw texts (the historical form; only the sig VALUES
    differ, never the grouping). ``extra_group_cols`` ride the fold as
    functionally-dependent group columns (e.g. the catalog bucket — a
    conversation lives in exactly one)."""
    if digest_turns:
        v = F.md5(F.coalesce(F.col(text_col), F.lit(null_marker)))
    else:
        v = F.col(text_col)
    turn = F.struct(
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(tiebreak_col).alias("tb"),
        v.alias("v"))
    sig = F.md5(F.array_join(
        F.transform(F.array_sort(F.collect_list(turn)), lambda x: x["v"]),
        sep, null_marker))
    return (df.groupBy(F.col(key_col).alias("conv_id"),
                       *[F.col(c) for c in extra_group_cols])
            .agg(sig.alias("conv_sig"),
                 F.count(F.lit(1)).alias("_n_turns")))


# signature-fold version, stored in every persisted index: 2 = the
# digest-turns fold (conv_sigs default), 1 = the raw-text fold
# (digest_turns=False). Bump whenever the fold function changes — an
# index persisted under one fold matches NOTHING probed under another,
# and without the marker that failure is silent (every dup enters the
# corpus as novel).
SIG_VERSION = 2


def build_conv_sig_index(sigs: DataFrame,
                         sig_version: int = SIG_VERSION) -> DataFrame:
    """Signature index of an already-ingested transcript corpus:
    (conv_sig, canonical_id, sig_v) for EVERY distinct signature — the
    conversation-level analog of ``dedup.build_hash_index``, and the
    persistent artifact ``conv_dup_against_index`` probes. canonical =
    min conv_id, matching conv_dup_groups. ``sig_v`` records which fold
    produced the signatures so a probe under a different fold FAILS
    LOUDLY instead of silently matching nothing. Same bucketed-write
    guidance as build_hash_index: at the warehouse the index is
    bucketed by conv_sig so the per-ingest join is co-located."""
    return (sigs.groupBy("conv_sig")
            .agg(F.min("conv_id").alias("canonical_id"))
            .withColumn("sig_v", F.lit(int(sig_version))))


def _check_sig_version(index: DataFrame,
                       expect: int = SIG_VERSION) -> None:
    """Raise if a persisted index was built under a different signature
    fold than the probe will use. One metadata-sized driver action
    (first row of a constant column); an index with NO sig_v column
    predates the marker and is treated as version 1 (raw-text fold)."""
    if "sig_v" in index.columns:
        row = index.select("sig_v").first()
        found = None if row is None else row[0]
    else:
        found = 1 if index.columns else None
    if found is not None and int(found) != int(expect):
        raise ValueError(
            f"conv-sig index was built under signature-fold version "
            f"{found}, but this probe computes version {expect} "
            f"signatures — rebuild the index (or pass the matching "
            f"digest_turns setting to conv_sigs)")


def conv_dup_against_index(new_sigs: DataFrame,
                           index: DataFrame,
                           sig_version: int = SIG_VERSION) -> DataFrame:
    """Incremental whole-conversation exact dedup: each NEW conversation
    that duplicates the indexed corpus (source='index') or another new
    conversation (source='batch') — the O(new)-per-ingest form of
    ``conv_dup_groups``, mirroring ``dedup.dedup_against_index``'s
    algebra over conversation signatures instead of document hashes.
    Row-based (no list aggregates), one shuffle of the new batch's
    signature rows; the index side is co-located when bucketed by
    conv_sig. Re-ingesting indexed conversations is idempotent: the
    index canonical never self-reports. Raises if the index's recorded
    signature-fold version (``sig_v``) differs from the current fold —
    a mismatched index matches nothing, which would otherwise silently
    admit every duplicate as novel."""
    _check_sig_version(index, expect=sig_version)
    mins = (new_sigs.groupBy("conv_sig")
            .agg(F.min("conv_id").alias("_min_new")))
    joined = (new_sigs.select("conv_sig", "conv_id")
              .join(mins, "conv_sig")
              .join(index.select("conv_sig", "canonical_id")
                    .withColumnRenamed("canonical_id", "_idx_canon"),
                    "conv_sig", "left"))
    canonical = F.coalesce("_idx_canon", "_min_new")
    return (joined
            .filter(F.col("conv_id") != canonical)
            .select("conv_sig", "conv_id",
                    canonical.alias("canonical_id"),
                    F.when(F.col("_idx_canon").isNotNull(), F.lit("index"))
                    .otherwise(F.lit("batch")).alias("source"))
            .orderBy("conv_sig", "conv_id"))
