"""Constraint checks D10-D12: uniqueness, referential integrity, ordering.

Each check is a declarative DataFrame plan (Catalyst optimizes; no Python
in the hot path) that emits violation rows in the reference failure-object
shape (FIXTURES.md F5; ref util.clj:153-155):

    (snapshot_id, partition_id, check_id, mgu_failure, schema_1, schema_2,
     conv_id, turn_idx, payload)

Scale design (SURVEY.md §4.3):
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


def fk_orphans(fact: DataFrame, dim: DataFrame, fact_key: str,
               dim_key: str) -> DataFrame:
    """D11's LARGE-dimension form: FK orphan detection when the
    dimension is NOT broadcastable (billions of conv/user keys — the
    100-TB case ``check_referential``'s broadcast vocab cannot cover).

    LEFT ANTI equi-join on the key, then a per-key count — output is
    |missing keys|-sized, never |orphan rows|-sized, so a hot missing
    key (one deleted user with 10^9 events) costs one output row. The
    groupBy reuses the anti-join's key partitioning, so the aggregate
    adds no second exchange on the fact side.

    Scale shape: both sides shuffle on the key (AQE will still
    broadcast a small dim at runtime; a plan test pins the SortMergeJoin
    LeftAnti form with broadcast disabled). At warehouse scale, bucket
    both tables on the key — or use Iceberg storage-partitioned joins —
    and both exchanges disappear; skewed fact keys are safe because an
    anti join never expands rows. NULL fact keys never match the dim
    (SQL equality), so they surface as an orphan group under the NULL
    key — dirty data reports, not vanishes.
    """
    keys = dim.select(F.col(dim_key).alias(fact_key))
    return (fact.select(fact_key)
            .join(keys, on=fact_key, how="left_anti")
            .groupBy(fact_key)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphan_rows")))


# ---------------------------------------------------------------------------
# D11 bloom hybrid — FK orphans without shuffling either table
# ---------------------------------------------------------------------------

def _bloom_positions(key_col: str, num_bits: int, num_hashes: int):
    """The k bit-position expressions for one key — JVM-side
    ``pmod(xxhash64(key, i), m)``. ONE definition shared by the build
    pass and the probe pass, so the two sides cannot disagree on the
    hash formula (the bloom's no-false-negative guarantee rests on it).
    xxhash64 folds a NULL key to the seed column's hash, so NULL keys
    get a deterministic position set rather than a NULL position."""
    return [F.pmod(F.xxhash64(F.col(key_col), F.lit(i)),
                   F.lit(num_bits)).cast("long").alias(f"_bp{i}")
            for i in range(num_hashes)]


def build_key_bloom(df: DataFrame, key_col: str,
                    num_bits: int = 1 << 20,
                    num_hashes: int = 5) -> bytes:
    """Bloom bitset over ``df[key_col]`` — a broadcastable membership
    sketch for dimensions too large for an exact broadcast vocabulary.

    Shuffle-free build: the k positions per key are computed JVM-side
    (`_bloom_positions`), then ONE mapInArrow pass ORs every batch into
    a per-task numpy bitset and emits one ``num_bits/8``-byte blob per
    task; the driver ORs the blobs. Collect volume is
    ``tasks x m/8`` bytes — metadata-sized; at 10^5+ partitions the
    blobs would merge executor-side first (the D6 reduceByKey ladder in
    ``operators/infer.py``), not change shape.

    PySpark exposes no ``df.stat.bloomFilter`` (Scala only), and Spark's
    own runtime bloom pruning only fires on inner/semi joins — an anti
    join's interesting rows are exactly the ones a pruning filter would
    drop — so the engine owns the sketch.
    """
    import numpy as np
    import pyarrow as pa

    m_bytes = (num_bits + 7) // 8
    pos = df.select(*_bloom_positions(key_col, num_bits, num_hashes))
    k = num_hashes

    def _build(batches):
        bits = np.zeros(m_bytes, dtype=np.uint8)
        saw = False
        for b in batches:
            saw = True
            for j in range(k):
                p = b.column(j).to_numpy(zero_copy_only=False)
                np.bitwise_or.at(bits, p >> 3,
                                 (1 << (p & 7)).astype(np.uint8))
        if saw:
            yield pa.record_batch(
                [pa.array([bits.tobytes()], type=pa.binary())],
                names=["bitset"])

    out = np.zeros(m_bytes, dtype=np.uint8)
    for row in pos.mapInArrow(_build, "bitset binary").collect():
        out |= np.frombuffer(row.bitset, dtype=np.uint8)
    return out.tobytes()


def fk_orphans_bloom(fact: DataFrame, dim: DataFrame, fact_key: str,
                     dim_key: str, num_bits: int = 1 << 20,
                     num_hashes: int = 5) -> DataFrame:
    """EXACT FK orphan check (same output contract as ``fk_orphans``)
    in which NEITHER table is ever shuffled by a join:

    1. ``per_key`` — fact aggregated to (key, n_rows). Map-side partial
       combine shrinks the one exchange to ~|distinct keys| (vs
       ``fk_orphans``, whose anti join ships every fact row's key).
    2. A dim-side bloom (one scan, no shuffle) probes ``per_key`` via a
       vectorized pandas UDF over JVM-computed positions. Bloom-negative
       keys are CERTAIN orphans and never touch the dim again — in the
       lagging-dim audit regime (the q_fk_orphans scenario) the orphan
       keys take this free path.
    3. ``matched`` = dim LEFT SEMI broadcast(bloom-positive keys): the
       dim is scanned and filtered, never exchanged; output is at most
       |dim ∩ fact keys| rows.
    4. orphans = ``per_key`` LEFT ANTI broadcast(``matched``). Exact
       regardless of the bloom's false-positive rate: true matches are
       always bloom-positive (no false negatives), so ``matched`` is
       exactly dim ∩ fact-keys, and false positives fall out here.

    ``per_key`` is persisted (it feeds both the probe and the final
    anti join; distinct-key-sized). Envelope: the broadcast candidate /
    matched sets are |distinct fact keys ∩ bloom|-sized — when the
    matched-key set itself exceeds driver memory (10^9 live users),
    fall back to ``fk_orphans``' shuffle form; this operator targets
    the cluster regime where the avoided exchange is a NETWORK shuffle
    of the fact side, not a replacement. Measured counter-example
    (`git show 3abe443:BENCH/stress_storage_ops.py`, 19.1M turns,
    local[32] on tmpfs):
    the shuffle path wins 2x (20.7s vs 42.2s) because a tmpfs-local
    exchange is nearly free while the bloom pays two Python mapInArrow
    probe passes — on local[*] keep ``fk_orphans``.
    NULL fact keys: deterministic bloom positions; if bloom-positive
    they survive to step 4, where SQL equality never matches them —
    either way they surface as an orphan group, same as ``fk_orphans``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = fact.sparkSession
    bitset = build_key_bloom(dim.select(F.col(dim_key).alias(fact_key)),
                             fact_key, num_bits, num_hashes)
    bc = spark.sparkContext.broadcast(bitset)

    @pandas_udf("boolean")
    def _bloom_maybe(*pos_cols):
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        ok = np.ones(len(pos_cols[0]), dtype=bool)
        for p in pos_cols:
            pv = p.to_numpy(dtype=np.int64)
            ok &= (bits[pv >> 3] & (1 << (pv & 7)).astype(np.uint8)) != 0
        return pd.Series(ok)

    per_key = (fact.groupBy(fact_key)
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphan_rows"))
               .persist())
    pos = _bloom_positions(fact_key, num_bits, num_hashes)
    candidates = (per_key
                  .withColumn("_maybe", _bloom_maybe(*pos))
                  .filter(F.col("_maybe"))
                  .select(fact_key))
    matched = dim.select(F.col(dim_key).alias(fact_key)).join(
        F.broadcast(candidates), on=fact_key, how="left_semi")
    return per_key.join(F.broadcast(matched), on=fact_key, how="left_anti")


# ---------------------------------------------------------------------------
# D12 — turn ordering: gaps, duplicates, ts regressions in ONE window pass
# ---------------------------------------------------------------------------

# (turn_idx, ts) packs into one decimal(38,0) whose numeric order equals
# the lexicographic order the blocked window sorts by. Why pack:
# max(struct(...)) cannot use the mutable hash-aggregation buffer and
# falls back to SortAggregate — two full sorts of the table just to find
# block boundaries; max(decimal) hash-aggregates with map-side partials
# (verified: HashAggregate in plan, decode byte-equal).
#
# Both fields are BIASED into non-negative space before packing (and
# un-biased in decimal space on unpack, BEFORE the long cast) so that
# dirty data with pre-1970 timestamps (negative unix_micros) or negative
# turn_idx round-trips exactly — these checks exist to validate dirty
# data, so the carrier must not corrupt it:
#   pack = (turn_idx + 2^40) * 10^20 + (unix_micros + 2^63)
# - micros + 2^63 in [0, 2^64) < 10^20 for the FULL long range, so the
#   block term never bleeds; the quotient's fraction stays <= 0.185, so
#   the scale-6 decimal division never rounds the long cast off-by-one.
# - valid turn_idx domain: (-2^40, 10^18 - 2^40) — far beyond the int32
#   input contract (input_hint); outside it the decimal overflows (raises
#   under ANSI, nulls otherwise).
# The affine bias preserves ordering, so max(pack) is still the
# lexicographic (turn_idx, ts) max.
_PACK = "100000000000000000000"     # 10^20 block multiplier
_BIAS_T = "1099511627776"           # 2^40 turn_idx bias
_BIAS_M = "9223372036854775808"     # 2^63 unix_micros bias
_PACK_TURN_TS = (f"(cast(turn_idx as decimal(38,0)) + {_BIAS_T})"
                 f" * cast('{_PACK}' as decimal(38,0))"
                 f" + (cast(unix_micros(ts) as decimal(38,0)) + {_BIAS_M})")
_UNPACK_TURN = (f"cast(cast(_o / cast('{_PACK}' as decimal(38,0))"
                f" as decimal(38,0)) - cast({_BIAS_T} as decimal(38,0))"
                f" as bigint)")
_UNPACK_TS = (f"timestamp_micros(cast((_o % cast('{_PACK}' as decimal(38,0)))"
              f" - cast({_BIAS_M} as decimal(38,0)) as bigint))")


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


def check_ordering_blocked(df: DataFrame, snapshot_id: str,
                           partition_col: str = "bucket",
                           block_size: int = 8192) -> DataFrame:
    """Skew-bounded variant of ``check_ordering`` (SURVEY.md §7.3-4).

    A single hot conversation (agent loop) puts ALL its turns into one
    window task in the plain check — an Amdahl bottleneck no executor
    count can fix. Here the window is partitioned by
    (conv_id, turn_idx div block_size): each task sorts at most
    ~block_size turns. The pair that spans a block boundary is recovered
    by computing each block's last row (one groupBy max-struct) and
    injecting it into the next block as a non-emitting carrier row.
    Output is row-identical to ``check_ordering`` (asserted in tests).
    """
    base = (df.select(partition_col, "conv_id", "turn_idx", "ts")
            .withColumn("_blk", F.floor(F.col("turn_idx") / block_size)))

    # last row of each (conv, block) by (turn_idx, ts): max of the packed
    # decimal key (see _PACK_TURN_TS — hash-aggregable, unlike a struct
    # max). The carrier goes to the next NON-EMPTY block (a gap can span
    # whole blocks), found with a lead() over the per-conv block list —
    # rows there = #blocks per conv, so that window is tiny and skew-free
    # by construction. The carrier's partition id is never emitted
    # (carriers are filtered before violation shaping), so it carries 0.
    blk_last = (base.groupBy("conv_id", "_blk")
                .agg(F.max(F.expr(_PACK_TURN_TS)).alias("_o")))
    wb = Window.partitionBy("conv_id").orderBy("_blk")
    last = (blk_last
            .withColumn("_next_blk", F.lead("_blk").over(wb))
            .filter(F.col("_next_blk").isNotNull())
            .select("conv_id", F.col("_next_blk").alias("_blk"),
                    F.expr(_UNPACK_TURN).alias("turn_idx"),
                    F.expr(_UNPACK_TS).alias("ts"),
                    F.lit(0).alias(partition_col),
                    F.lit(True).alias("_carrier")))

    unioned = base.withColumn("_carrier", F.lit(False)).unionByName(last)
    w = Window.partitionBy("conv_id", "_blk").orderBy("turn_idx", "ts")
    ordered = (unioned
               .withColumn("_prev_idx", F.lag("turn_idx").over(w))
               .withColumn("_prev_ts", F.lag("ts").over(w))
               .filter(~F.col("_carrier")))

    gap = ordered.filter(F.col("_prev_idx").isNotNull()
                         & (F.col("turn_idx") > F.col("_prev_idx") + 1))
    gap_v = _shape(
        gap.withColumnRenamed(partition_col, "partition_id"),
        snapshot_id, "turn_gap",
        payload_col=F.to_json(F.struct(
            F.col("_prev_idx").cast("bigint").alias("prev_idx"),
            (F.col("turn_idx") - F.col("_prev_idx") - 1).cast("bigint").alias("missing"))),
    )
    dup = ordered.filter(F.col("_prev_idx").isNotNull()
                         & (F.col("turn_idx") == F.col("_prev_idx")))
    dup_v = _shape(
        dup.withColumnRenamed(partition_col, "partition_id"),
        snapshot_id, "turn_dup",
        payload_col=F.to_json(F.struct(
            F.col("_prev_idx").cast("bigint").alias("prev_idx"))),
    )
    ts_bad = ordered.filter(F.col("_prev_ts").isNotNull()
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
    is the SAME (conv_id ORDER BY turn_idx, ts) ordering the D12 checks
    use (the stable-turn-ordering invariant), so under composition the
    Exchange is shared. A conversation's first turn has no predecessor
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
# Fused row-level checks: D10 + D11 (x2) + D12 in ONE scan, ONE shuffle
# ---------------------------------------------------------------------------

# the fused statement's per-row violation struct
_VSTRUCT = ("struct<check_id:string,mgu_failure:string,schema_1:string,"
            "schema_2:string,payload:string,partition_id:int>")


def _vrow(check_id: str, payload: str, pid: str = "_pid",
          mgu: str = "cast(null as string)", s1: str = "cast(null as string)",
          s2: str = "cast(null as string)") -> str:
    return (f"named_struct('check_id', '{check_id}', 'mgu_failure', {mgu}, "
            f"'schema_1', {s1}, 'schema_2', {s2}, 'payload', {payload}, "
            f"'partition_id', cast({pid} as int))")


def _vocab_row(bad: str, col: str, check_id: str, enum: str) -> str:
    return (f"CASE WHEN {bad} THEN " + _vrow(
        check_id, f"to_json(named_struct('value', {col}))",
        "IDENTIFIER(:pcol)", "'non_equal'",
        f"to_json(named_struct('type', 'enum', 'values', array({col})))",
        f":{enum}") + " END")


# Only constants of this module enter the text; every value that comes
# from a caller (vocabularies, their enum JSON, the snapshot id, the
# partition column, the block size) binds as a named parameter.
_FUSED_SQL = f"""
WITH base AS (
  SELECT IDENTIFIER(:pcol) AS _pid, conv_id, turn_idx, ts,
    filter(array(
      {_vocab_row("role IS NULL OR NOT array_contains(:roles, role)",
                  "role", "ref_role", "role_enum")},
      {_vocab_row("tool IS NOT NULL AND NOT array_contains(:tools, tool)",
                  "tool", "ref_tool", "tool_enum")}),
      x -> x IS NOT NULL) AS _vv,
    floor(turn_idx / :block_size) AS _blk
  FROM {{snap}}
),
blk_last AS (
  SELECT conv_id, _blk, max({_PACK_TURN_TS}) AS _o
  FROM base GROUP BY conv_id, _blk
),
carriers AS (
  SELECT 0 AS _pid, conv_id, {_UNPACK_TURN} AS turn_idx, {_UNPACK_TS} AS ts,
    cast(array() AS array<{_VSTRUCT}>) AS _vv, _next_blk AS _blk,
    true AS _carrier
  FROM (SELECT conv_id, _o,
          lead(_blk) OVER (PARTITION BY conv_id ORDER BY _blk) AS _next_blk
        FROM blk_last)
  WHERE _next_blk IS NOT NULL
),
ordered AS (
  SELECT *,
    lag(turn_idx) OVER w AS _prev_idx,
    lag(ts) OVER w AS _prev_ts,
    lead(turn_idx) OVER w AS _next_idx
  FROM (SELECT *, false AS _carrier FROM base
        UNION ALL SELECT * FROM carriers)
  WINDOW w AS (PARTITION BY conv_id, _blk ORDER BY turn_idx, ts)
),
exploded AS (
  SELECT :snapshot_id AS snapshot_id, _v.partition_id, _v.check_id,
    _v.mgu_failure, _v.schema_1, _v.schema_2,
    cast(conv_id AS string) AS conv_id, cast(turn_idx AS bigint) AS turn_idx,
    _v.payload
  FROM (SELECT conv_id, turn_idx, explode(concat(_vv, filter(array(
    CASE WHEN turn_idx = _prev_idx OR turn_idx = _next_idx
      THEN {_vrow("unique_key", "cast(null as string)")} END,
    CASE WHEN _prev_idx IS NOT NULL AND turn_idx > _prev_idx + 1
      THEN {_vrow("turn_gap", "to_json(named_struct("
                  "'prev_idx', cast(_prev_idx as bigint), 'missing', "
                  "cast(turn_idx - _prev_idx - 1 as bigint)))")} END,
    CASE WHEN _prev_idx IS NOT NULL AND turn_idx = _prev_idx
      THEN {_vrow("turn_dup", "to_json(named_struct("
                  "'prev_idx', cast(_prev_idx as bigint)))")} END,
    CASE WHEN _prev_ts IS NOT NULL AND ts < _prev_ts
      THEN {_vrow("ts_order", "to_json(named_struct("
                  "'prev_ts', date_format(_prev_ts, :ts_format), "
                  "'ts', date_format(ts, :ts_format)))")} END),
    x -> x IS NOT NULL))) AS _v
    FROM ordered WHERE NOT _carrier)
)
SELECT snapshot_id,
  CASE WHEN check_id = 'unique_key' THEN _pmin ELSE partition_id END
    AS partition_id,
  check_id, mgu_failure, schema_1, schema_2, conv_id, turn_idx,
  CASE WHEN check_id = 'unique_key'
    THEN to_json(named_struct('n_copies', _n)) ELSE payload END AS payload
FROM (
  SELECT *,
    count(1) OVER (PARTITION BY check_id, conv_id, turn_idx) AS _n,
    min(partition_id) OVER (PARTITION BY check_id, conv_id, turn_idx) AS _pmin,
    row_number() OVER (PARTITION BY check_id, conv_id, turn_idx
                       ORDER BY partition_id) AS _rn
  FROM exploded)
WHERE check_id <> 'unique_key' OR _rn = 1
"""


def check_rowlevel_fused(df: DataFrame, snapshot_id: str,
                         role_vocab: List[str], tool_vocab: List[str],
                         partition_col: str = "bucket",
                         block_size: int = 8192) -> DataFrame:
    """Every row-level check in a single pass, row-identical to the union
    of ``check_unique_key`` + ``check_referential`` (role, tool) +
    ``check_ordering_blocked`` (asserted in tests).

    Why: run separately, the four checks scan the snapshot four times
    (five with the blocked-ordering carrier aggregate), and each
    violation family re-executes its window lineage. At 100 TB the scan
    IS the cost, so the fused plan computes all of them from ONE
    skew-blocked window pass with ONE sort:

      scan -> Exchange(conv_id, turn_idx div block_size) ->
      Sort(turn_idx, ts) -> Window(lag idx, lag ts, lead idx) ->
      per-row ARRAY of violation structs -> explode ->
      tiny window over the (sparse) violation rows only

    - uniqueness: all copies of a key share a block (same turn_idx =>
      same block) and sort ADJACENT, so lag/lead equality flags every
      member of a duplicate run — no per-key window or aggregation over
      the 10^12-row data. Members emit a raw unique_key struct; the
      post-explode window (partitioned by check_id, conv, turn — only
      violation rows, thousands not trillions) folds them into the
      single (n_copies, min-bucket) row the salted aggregate would
      produce.
    - referential: vocab membership is a per-row predicate evaluated
      MAP-SIDE; only the (sparse) pre-built violation structs travel
      through the shuffle, not the role/tool strings of every row.
    - ordering: identical carrier-row construction as
      ``check_ordering_blocked`` (gap spanning whole blocks included):
      each block's last row, found by a max over the packed decimal key
      (``_PACK_TURN_TS``), is injected into the next non-empty block.

    The plan is ONE parameterized SQL statement (``_FUSED_SQL``): built
    through the DataFrame API it took ~3,000 Py4J round trips per call,
    as one ``spark.sql`` call the driver analyzes it in one. The input
    frame binds as ``{snap}`` (a temp view that ``spark.sql`` drops before
    returning) and every caller value as a named parameter.
    """
    def enum(vocab):
        return json.dumps({"type": "enum", "values": sorted(vocab)},
                          sort_keys=True, separators=(",", ":"))

    return df.sparkSession.sql(_FUSED_SQL, args={
        "pcol": partition_col, "snapshot_id": snapshot_id,
        "roles": list(role_vocab), "tools": list(tool_vocab),
        "role_enum": enum(role_vocab), "tool_enum": enum(tool_vocab),
        "block_size": block_size, "ts_format": "yyyy-MM-dd'T'HH:mm:ssXXX",
    }, snap=df)


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


def turn_text_diff(left: DataFrame, right: DataFrame,
                   keys: List[str], text_col: str = "text") -> DataFrame:
    """Per-turn text-equality check between two copies of a transcripts
    table — the north rule's per-row invariant ("per-turn text equality
    under stable turn ordering") materialized as violation rows rather
    than a boolean. One row per key where the invariant FAILS, with
    ``status`` in {'missing_right', 'missing_left', 'text_mismatch'}
    and each side's text digest for triage.

    This is the row-level complement of ``anomaly.reconcile_checksum``:
    the checksum reconciliation detects that two copies diverged using
    a 256-bucket aggregate exchange; this operator localizes the
    divergence to the exact (conv_id, turn_idx) turns once a bucket
    mismatches. Run the aggregate first at 100 TB; run this on the
    (partition-pruned) mismatching slice.

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
