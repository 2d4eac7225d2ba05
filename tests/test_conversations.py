"""Conversation-level operators: semantics and plan shape."""

import datetime as dt
import hashlib

from pyspark.sql import functions as F

from schema_inference_spark.operators.conversations import (
    assemble_conversations,
    invalid_transitions,
    transition_counts,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_assemble_conversations_max_turns(spark):
    rows = [("c1", _ts(f"2026-01-01T00:00:{i:02d}"), i, f"t{i}")
            for i in range(6)]
    df = spark.createDataFrame(rows, "cid string, ts timestamp, i long, v string")
    full = assemble_conversations(df, "cid", "ts", "v", "i").first()
    assert full.n_turns == 6 and full.seq == "t0>t1>t2>t3>t4>t5"
    cut = assemble_conversations(df, "cid", "ts", "v", "i",
                                 max_turns=3).first()
    assert cut.seq == "t0>t1>t2"              # earliest-N, deterministic
    assert cut.n_turns == 6                   # count is the TRUE length


def test_transition_counts_and_protocol(spark):
    rows = [("c1", _ts("2026-01-01T00:00:01"), 1, "user"),
            ("c1", _ts("2026-01-01T00:00:02"), 2, "assistant"),
            ("c1", _ts("2026-01-01T00:00:03"), 3, "user"),
            ("c1", _ts("2026-01-01T00:00:04"), 4, "assistant"),
            ("c2", _ts("2026-01-01T00:00:01"), 5, "user"),
            ("c2", _ts("2026-01-01T00:00:02"), 6, "user")]   # violation
    df = spark.createDataFrame(rows, "cid string, ts timestamp, i long, r string")
    counts = {(r.prev, r.cur): r.n for r in
              transition_counts(df, "cid", "ts", "r", "i").collect()}
    assert counts == {("user", "assistant"): 2,
                      ("assistant", "user"): 1,
                      ("user", "user"): 1}
    allowed = {("user", "assistant"), ("assistant", "user")}
    viol = invalid_transitions(df, "cid", "ts", "r", "i", allowed,
                               extra_cols=("i",)).collect()
    assert len(viol) == 1
    assert viol[0].cid == "c2" and viol[0].prev == "user" \
        and viol[0].cur == "user" and viol[0].i == 6


def test_turn_latency_exact_gaps(spark):
    from schema_inference_spark.operators.conversations import turn_latency
    base = _ts("2026-01-01T00:00:00")
    rows = [("c1", base, 0, "user"),
            ("c1", base + dt.timedelta(seconds=2), 1, "assistant"),
            ("c1", base + dt.timedelta(seconds=5), 2, "user"),
            ("c2", base, 0, "user"),
            ("c2", base + dt.timedelta(seconds=7), 1, "assistant")]
    df = spark.createDataFrame(rows, "cid string, ts timestamp, i long, r string")
    out = {(r.prev, r.cur): r for r in
           turn_latency(df, "cid", "ts", "r", "i").collect()}
    ua = out[("user", "assistant")]
    assert (ua.n, ua.sum_gap_us, ua.min_gap_us, ua.max_gap_us) == \
        (2, 9_000_000, 2_000_000, 7_000_000)
    au = out[("assistant", "user")]
    assert (au.n, au.sum_gap_us) == (1, 3_000_000)
    # first turns contribute no gap; cross-conversation pairs never pair
    assert sum(r.n for r in out.values()) == 3


# ---------------------------------------------------------------------------
# turn_text_diff: the per-turn replica-equality invariant as violation rows
# ---------------------------------------------------------------------------

def test_turn_text_diff_statuses_and_null_semantics(spark):
    from schema_inference_spark.operators.checks import turn_text_diff
    left = spark.createDataFrame(
        [(1, 0, "hello"),       # equal -> excluded
         (1, 1, "same-null"),   # mismatch: text vs NULL on right
         (1, 2, None),          # NULL == NULL -> excluded
         (1, 3, "dropped"),     # missing_right
         (2, 0, "a")],          # content mismatch
        "conv_id int, turn_idx int, text string")
    right = spark.createDataFrame(
        [(1, 0, "hello"),
         (1, 1, None),
         (1, 2, None),
         (2, 0, "b"),
         (3, 0, "right-only")],  # missing_left
        "conv_id int, turn_idx int, text string")
    got = {(r["conv_id"], r["turn_idx"]): r["status"]
           for r in turn_text_diff(left, right,
                                   keys=["conv_id", "turn_idx"]).collect()}
    assert got == {(1, 1): "text_mismatch",
                   (1, 3): "missing_right",
                   (2, 0): "text_mismatch",
                   (3, 0): "missing_left"}


def test_turn_text_diff_exchange_carries_digests_not_text(spark):
    """The full-outer join's inputs must project the md5 digest, not the
    text column — at 100 TB the exchange is the cost; assert the join
    sides' output attributes exclude the raw text."""
    from schema_inference_spark.operators.checks import turn_text_diff
    df = spark.createDataFrame([(1, 0, "x" * 100)],
                               "conv_id int, turn_idx int, text string")
    plan = turn_text_diff(df, df, keys=["conv_id", "turn_idx"]) \
        ._jdf.queryExecution().optimizedPlan().toString()
    # the Project below each join side keeps md5(text), never text alone:
    # no plan node outputs the bare text attribute above the scan
    import re
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert joins, plan
    for ln in joins:
        assert "text#" not in ln, ln


# ---------------------------------------------------------------------------
# conv_dup_groups: whole-conversation exact dedup
# ---------------------------------------------------------------------------

def _conv_rows():
    t0 = _ts("2026-01-01T00:00:00")
    rows = []
    # convs 1 and 2: byte-identical two-turn transcripts (dup group)
    for k in (1, 2):
        rows += [(k, t0, 1, "hi"), (k, _ts("2026-01-01T00:00:05"), 2, "yo")]
    # conv 3: same turns, different ORDER of content -> distinct
    rows += [(3, t0, 1, "yo"), (3, _ts("2026-01-01T00:00:05"), 2, "hi")]
    # convs 4 and 5: [a, NULL, b] vs [a, b] must NOT collide
    rows += [(4, t0, 1, "a"), (4, _ts("2026-01-01T00:00:05"), 2, None),
             (4, _ts("2026-01-01T00:00:10"), 3, "b"),
             (5, t0, 1, "a"), (5, _ts("2026-01-01T00:00:05"), 2, "b")]
    return rows


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def test_conv_dup_groups_exact_and_null_fold(spark):
    from schema_inference_spark.operators.conversations import (
        conv_dup_groups,
        conv_sigs,
    )
    df = spark.createDataFrame(
        _conv_rows(), "k int, ts timestamp, tb int, txt string")
    out = conv_dup_groups(df, key_col="k", ts_col="ts",
                          text_col="txt", tiebreak_col="tb").collect()
    assert len(out) == 1
    (g,) = out
    assert (g["n_convs"], g["n_turns"], g["canonical_id"],
            g["members"]) == (2, 2, 1, "1,2")
    # every conversation's signature is the md5 of its (ts, tiebreak)-
    # ordered per-turn md5 digests, NULL text digested as the marker
    sigs = {r["conv_id"]: r["conv_sig"] for r in conv_sigs(
        df, key_col="k", ts_col="ts", text_col="txt",
        tiebreak_col="tb").collect()}
    turns = {}
    for k, _, _, txt in sorted(_conv_rows(), key=lambda r: r[:3]):
        turns.setdefault(k, []).append(_md5("\x00" if txt is None else txt))
    assert sigs == {k: _md5("\x1f".join(d)) for k, d in turns.items()}
    assert g["conv_sig"] == sigs[1]


def test_conv_dup_groups_ordering_is_ts_then_tiebreak(spark):
    """Same content multiset, different (ts, tiebreak) order -> the fold
    must order by time (then tiebreak), not by insertion order."""
    from schema_inference_spark.operators.conversations import (
        conv_dup_groups,
    )
    t0, t1 = _ts("2026-01-01T00:00:00"), _ts("2026-01-01T00:00:05")
    df = spark.createDataFrame(
        # conv 1 rows arrive reversed; conv 2 in order — identical logical
        # transcripts "x" then "y"
        [(1, t1, 2, "y"), (1, t0, 1, "x"),
         (2, t0, 1, "x"), (2, t1, 2, "y"),
         # conv 3: same multiset {x, y} but y FIRST in time -> distinct
         (3, t0, 1, "y"), (3, t1, 2, "x")],
        "k int, ts timestamp, tb int, txt string")
    out = conv_dup_groups(df, key_col="k", ts_col="ts",
                          text_col="txt", tiebreak_col="tb").collect()
    assert len(out) == 1 and out[0]["members"] == "1,2"


def test_conv_near_dup_composition_detects_planted_pair(spark):
    """Two conversations sharing a long common turn stream (one with a
    divergent tail) must pair via the assembled-transcript MinHash+LSH
    composition; an unrelated conversation must not."""
    from schema_inference_spark.operators import dedup as D
    t0 = _ts("2026-01-01T00:00:00")
    rows = []
    for k, n_extra in ((1, 0), (2, 3)):   # conv 2 = conv 1 + 3 extra turns
        for i in range(30):
            rows.append((k, t0 + dt.timedelta(seconds=i), i, f"tok{i}"))
        for i in range(30, 30 + n_extra):
            rows.append((k, t0 + dt.timedelta(seconds=i), i, f"tail{k}_{i}"))
    for i in range(30):                    # conv 3: disjoint vocabulary
        rows.append((3, t0 + dt.timedelta(seconds=i), i, f"other{i}"))
    ev = spark.createDataFrame(rows, "k int, ts timestamp, tb int, txt string")
    assembled = (ev.groupBy(F.col("k").alias("doc_id"))
                 .agg(F.array_join(F.transform(F.array_sort(
                     F.collect_list(F.struct("tb", F.col("txt").alias("v")))),
                     lambda x: x["v"]), " ").alias("text")))
    shingled = D.with_shingles(assembled)
    pairs = D.verify_candidates(D.lsh_candidate_pairs(shingled), shingled,
                                threshold=0.5).collect()
    assert [(r["d1"], r["d2"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] >= 0.8


def test_conv_dup_against_index_sources_and_idempotence(spark):
    from schema_inference_spark.operators.conversations import (
        build_conv_sig_index,
        conv_dup_against_index,
        conv_sigs,
    )
    t0, t1 = _ts("2026-01-01T00:00:00"), _ts("2026-01-01T00:00:05")
    # history: convs 2 ("x y") and 4 ("z w"); batch: 5 dups 2 (index),
    # 7 and 9 are batch-internal twins ("q r"), 11 is unique
    def conv(k, a, b):
        return [(k, t0, 1, a), (k, t1, 2, b)]
    hist = spark.createDataFrame(conv(2, "x", "y") + conv(4, "z", "w"),
                                 "k int, ts timestamp, tb int, txt string")
    batch = spark.createDataFrame(
        conv(5, "x", "y") + conv(7, "q", "r") + conv(9, "q", "r")
        + conv(11, "u", "v"),
        "k int, ts timestamp, tb int, txt string")
    args = dict(key_col="k", ts_col="ts", text_col="txt",
                tiebreak_col="tb")
    index = build_conv_sig_index(conv_sigs(hist, **args))
    out = {r["conv_id"]: (r["canonical_id"], r["source"])
           for r in conv_dup_against_index(conv_sigs(batch, **args),
                                           index).collect()}
    assert out == {5: (2, "index"), 9: (7, "batch")}
    # idempotent re-ingest: the HISTORY itself probed against its own
    # index reports nothing (canonicals never self-report)
    again = conv_dup_against_index(conv_sigs(hist, **args), index)
    assert again.count() == 0


def test_conv_near_dup_incremental_composition(spark):
    """The conversation fold composed with the incremental MinHash
    machinery: a NEW conversation sharing a long turn stream with an
    INDEXED one (divergent tail) is detected against the index; a
    disjoint-vocabulary newcomer is not; re-ingesting an indexed
    conversation never self-reports."""
    from schema_inference_spark.operators import dedup as D
    t0 = _ts("2026-01-01T00:00:00")
    rows = []
    # conv 2 (history) and conv 5 (new) share 30 turns; 5 has a 3-turn tail
    for k, n_extra in ((2, 0), (5, 3)):
        for i in range(30):
            rows.append((k, t0 + dt.timedelta(seconds=i), i, f"tok{i}"))
        for i in range(30, 30 + n_extra):
            rows.append((k, t0 + dt.timedelta(seconds=i), i, f"tail{k}_{i}"))
    for i in range(30):                    # conv 7 (new): disjoint vocab
        rows.append((7, t0 + dt.timedelta(seconds=i), i, f"other{i}"))
    ev = spark.createDataFrame(rows, "k int, ts timestamp, tb int, txt string")
    assembled = (ev.groupBy(F.col("k").alias("doc_id"))
                 .agg(F.array_join(F.transform(F.array_sort(
                     F.collect_list(F.struct("tb", F.col("txt").alias("v")))),
                     lambda x: x["v"]), " ").alias("text")))
    history = assembled.filter("doc_id = 2")
    idx = D.build_minhash_index(history)
    sigs = D.build_minhash_sigs(history)
    hits = D.near_dup_against_index(assembled.filter("doc_id != 2"),
                                    idx, sigs).collect()
    assert [(r["doc_id"], r["index_id"]) for r in hits] == [(5, 2)]
    assert hits[0]["est_jaccard"] >= 0.5
    # idempotent re-ingest: the indexed conversation itself never
    # self-reports (same id on both sides is filtered at the candidate
    # stage)
    again = D.near_dup_against_index(history, idx, sigs).collect()
    assert again == []
