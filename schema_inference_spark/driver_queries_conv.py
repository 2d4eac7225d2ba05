"""Driver queries: temporal enrichment + conversation-level operators.

`events` stands in for the transcripts table (user_id ~ conv_id,
event_type ~ role, (ts, event_id) ~ the stable turn ordering of the
per-turn invariant). Four fully oracle-gated queries:

- asof_enrich      : operators/temporal.asof_join (union-window plan)
                     vs DuckDB's native ASOF LEFT JOIN — the strongest
                     possible oracle: a different algorithm entirely.
- conv_assembly    : operators/conversations.assemble_conversations vs
                     string_agg(... ORDER BY) — the SFT-export fold.
- turn_transitions : transition_counts vs a lag-window GROUP BY.
- protocol_check   : invalid_transitions violation rows vs the directly
                     stated SQL rule (demo protocol: 'signup' may only
                     follow 'view' or 'signup').

Timestamp convention: epoch microseconds as bigint on both engines
(Spark unix_micros after the NTZ->TIMESTAMP hop, DuckDB epoch_us) —
exact integers, no double rounding at microsecond precision.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import functions as F

from .driver_queries import _t_redist as _t  # exact-output family

EVENT_TYPES = ["click", "purchase", "signup", "view", "error"]
# demo conversation protocol: a signup turn may only follow view/signup
ALLOWED_TRANSITIONS = {
    (a, b) for a in EVENT_TYPES for b in EVENT_TYPES
    if not (b == "signup" and a not in ("view", "signup"))
}


def _us(col):
    # NTZ needs the hop via TIMESTAMP before unix_micros (UTC session)
    return F.unix_micros(F.col(col).cast("timestamp"))


def q_asof_enrich(spark, sf_dir):
    """For every planted 'error' event: the most recent purchase value
    at-or-before it for the same user (the point-in-time enrichment a
    validation run does to contextualize anomalies). Right side is
    pre-aggregated to one row per (user, ts) so the as-of match is
    tie-free on both engines."""
    from .operators.temporal import asof_join
    ev = _t(spark, sf_dir, "events")
    pur = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts")
             .agg(F.max("value").alias("purchase_value")))
    err = (ev.filter(F.col("event_type") == "error")
             .select("event_id", "user_id", "ts"))
    j = asof_join(err, pur, on=["user_id"], left_ts="ts", right_ts="ts",
                  value_cols=["purchase_value"], direction="backward")
    return (j.select(
                "event_id", "user_id",
                _us("ts").alias("err_us"),
                F.unix_micros(F.col("matched_ts")).alias("purchase_us"),
                F.round("purchase_value", 4).alias("purchase_value"))
             .orderBy("event_id"))


SQL_ASOF_ENRICH = """
WITH err AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
), pur AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id,
       epoch_us(e.ts) AS err_us,
       epoch_us(p.ts) AS purchase_us,
       round(p.purchase_value, 4) AS purchase_value
FROM err e ASOF LEFT JOIN pur p
  ON e.user_id = p.user_id AND e.ts >= p.ts
ORDER BY e.event_id
"""


def q_conv_assembly(spark, sf_dir):
    """Fold each user's event stream into one export row (ordered type
    sequence, count, span)."""
    from .operators.conversations import assemble_conversations
    ev = _t(spark, sf_dir, "events")
    return (assemble_conversations(ev, key_col="user_id", ts_col="ts",
                                   seq_col="event_type",
                                   tiebreak_col="event_id")
            .orderBy("user_id"))


SQL_CONV_ASSEMBLY = """
SELECT user_id,
       count(*) AS n_turns,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS seq,
       epoch_us(min(ts)) AS first_us,
       epoch_us(max(ts)) AS last_us
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q_turn_transitions(spark, sf_dir):
    """Corpus-wide (prev -> cur) transition matrix."""
    from .operators.conversations import transition_counts
    ev = _t(spark, sf_dir, "events")
    return (transition_counts(ev, key_col="user_id", ts_col="ts",
                              seq_col="event_type", tiebreak_col="event_id")
            .orderBy("prev", "cur"))


SQL_TURN_TRANSITIONS = """
WITH lagged AS (
  SELECT event_type AS cur,
         lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT prev, cur, count(*) AS n
FROM lagged WHERE prev IS NOT NULL
GROUP BY prev, cur
ORDER BY prev, cur
"""


def q_protocol_check(spark, sf_dir):
    """Violation rows for the demo protocol (signup only after
    view/signup) — the conversation-protocol analog of D11, emitted
    per-row like every other check."""
    from .operators.conversations import invalid_transitions
    ev = _t(spark, sf_dir, "events")
    v = invalid_transitions(ev, key_col="user_id", ts_col="ts",
                            seq_col="event_type", tiebreak_col="event_id",
                            allowed=ALLOWED_TRANSITIONS,
                            extra_cols=("event_id",))
    return (v.select("user_id", _us("ts").alias("ts_us"),
                     "prev", "cur", "event_id")
             .orderBy("event_id"))


SQL_PROTOCOL_CHECK = """
WITH lagged AS (
  SELECT user_id, event_id, ts, event_type AS cur,
         lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id, epoch_us(ts) AS ts_us, prev, cur, event_id
FROM lagged
WHERE prev IS NOT NULL
  AND cur = 'signup' AND prev NOT IN ('view', 'signup')
ORDER BY event_id
"""


def q_transition_drift(spark, sf_dir):
    """Structure drift: PSI terms of the transition matrix, first half
    vs second half of the observed transition times."""
    from .operators.conversations import transition_drift
    ev = _t(spark, sf_dir, "events")
    return (transition_drift(ev, key_col="user_id", ts_col="ts",
                             seq_col="event_type", tiebreak_col="event_id")
            .orderBy("prev", "cur"))


SQL_TRANSITION_DRIFT = """
WITH lagged AS (
  SELECT epoch_us(ts) AS us, event_type AS cur,
         lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), b AS (
  SELECT * FROM lagged WHERE prev IS NOT NULL
), m AS (
  SELECT CAST(floor((min(us) + max(us)) / 2.0) AS BIGINT) AS mid FROM b
), h AS (
  SELECT prev, cur,
         sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS n_early,
         sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS n_late
  FROM b, m GROUP BY prev, cur
)
SELECT prev, cur, n_early, n_late,
       round((greatest(n_late * 1.0 / sum(n_late) OVER (), 1e-6)
              - greatest(n_early * 1.0 / sum(n_early) OVER (), 1e-6))
             * ln(greatest(n_late * 1.0 / sum(n_late) OVER (), 1e-6)
                  / greatest(n_early * 1.0 / sum(n_early) OVER (), 1e-6)),
             4) AS psi_term
FROM h
ORDER BY prev, cur
"""


def q_turn_latency(spark, sf_dir):
    """Inter-turn latency stats per (prev -> cur) transition — exact
    integer microseconds (n / sum / min / max; mean is the consumer's
    division)."""
    from .operators.conversations import turn_latency
    ev = _t(spark, sf_dir, "events")
    return (turn_latency(ev, key_col="user_id", ts_col="ts",
                         seq_col="event_type", tiebreak_col="event_id")
            .orderBy("prev", "cur"))


SQL_TURN_LATENCY = """
WITH lagged AS (
  SELECT event_type AS cur,
         lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT prev, cur, count(*) AS n,
       sum(gap_us) AS sum_gap_us,
       min(gap_us) AS min_gap_us,
       max(gap_us) AS max_gap_us
FROM lagged WHERE prev IS NOT NULL
GROUP BY prev, cur
ORDER BY prev, cur
"""


PREFIX_K = 3


def q_conv_prefix_groups(spark, sf_dir):
    """Conversations sharing an identical first-3-turn sequence (the
    branched-rollout / shared-seed detection primitive)."""
    from .operators.conversations import conv_prefix_groups
    ev = _t(spark, sf_dir, "events")
    return (conv_prefix_groups(ev, key_col="user_id", ts_col="ts",
                               seq_col="event_type", tiebreak_col="event_id",
                               k=PREFIX_K)
            .orderBy("prefix_seq"))


SQL_CONV_PREFIX_GROUPS = f"""
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), p AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS prefix_seq
  FROM r WHERE rn <= {PREFIX_K} GROUP BY user_id
)
SELECT prefix_seq, count(*) AS n_convs, min(user_id) AS canonical_id,
       string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id) AS members
FROM p GROUP BY prefix_seq HAVING count(*) > 1
ORDER BY prefix_seq
"""


def _tier_aug(cast: str) -> str:
    """Deterministic FD corruption (same planting pattern as the PII /
    dup augmentations): every user's derived plan tier is user_id % 3,
    except rows with event_id % 101 = 0 report tier + 1 — those users'
    ``user_id -> plan_tier`` dependency is violated by exactly one
    extra tier value."""
    return ("concat('tier_', CAST(user_id % 3 + CASE WHEN "
            f"event_id % 101 = 0 THEN 1 ELSE 0 END AS {cast}))")


def q_fd_check(spark, sf_dir):
    """Functional-dependency check (operators/constraints.fd_violations)
    over the planted tier corruption: one row per user whose derived
    plan_tier is inconsistent across their events."""
    from .operators.constraints import fd_violations
    ev = (_t(spark, sf_dir, "events")
          .withColumn("plan_tier", F.expr(_tier_aug("STRING"))))
    return (fd_violations(ev, determinants=["user_id"],
                          dependents=["plan_tier"])
            .orderBy("user_id"))


SQL_FD_CHECK = f"""
WITH aug AS (SELECT user_id, {_tier_aug('VARCHAR')} AS plan_tier FROM events)
SELECT user_id, count(*) AS n_rows,
       count(DISTINCT plan_tier) AS n_distinct,
       min(plan_tier) AS dep_min, max(plan_tier) AS dep_max
FROM aug GROUP BY user_id
HAVING count(DISTINCT plan_tier) > 1
ORDER BY user_id
"""


_VALUE_AUG = ("CASE WHEN event_type = 'purchase' AND event_id % 97 = 0 "
              "THEN -value ELSE value END")


def q_implication_check(spark, sf_dir):
    """Implication constraint (operators/constraints
    .implication_violations): 'purchase implies value >= 0' over the
    planted sign corruption — the offending rows themselves, the
    zero-shuffle scan-filter check shape."""
    from .operators.constraints import implication_violations
    ev = (_t(spark, sf_dir, "events")
          .withColumn("value", F.expr(_VALUE_AUG)))
    v = implication_violations(ev,
                               antecedent="event_type = 'purchase'",
                               consequent="value >= 0",
                               cols=["event_id", "user_id", "value"])
    return (v.select("event_id", "user_id",
                     F.round("value", 4).alias("value"))
            .orderBy("event_id"))


SQL_IMPLICATION_CHECK = f"""
WITH aug AS (
  SELECT event_id, user_id, event_type, {_VALUE_AUG} AS value FROM events)
SELECT event_id, user_id, round(value, 4) AS value
FROM aug
WHERE event_type = 'purchase' AND NOT (value >= 0)
ORDER BY event_id
"""


# run-over-run repair/corruption planting for the violation diff: the
# "current" run sees events where some protocol-violating signups were
# repaired (event_id % 3 = 0 signups become views -> their violations
# resolve) and some views were corrupted (event_id % 101 = 0 views
# become errors -> any signup following one becomes a NEW violation)
_REPAIR = ("CASE WHEN event_type = 'signup' AND event_id % 3 = 0 "
           "THEN 'view' "
           "WHEN event_type = 'view' AND event_id % 101 = 0 "
           "THEN 'error' ELSE event_type END")


def q_violation_diff(spark, sf_dir):
    """Run-over-run violation regression diff
    (operators/checks.violations_diff): the protocol check's violations
    before vs after a planted repair+corruption pass, one row per
    violation key with status new/resolved/persisting — the CI-gate
    composition (validate run N vs run N+1)."""
    from .operators.checks import violations_diff
    from .operators.conversations import invalid_transitions

    def viol(df):
        return invalid_transitions(
            df, key_col="user_id", ts_col="ts", seq_col="event_type",
            tiebreak_col="event_id", allowed=ALLOWED_TRANSITIONS,
            extra_cols=("event_id",))

    ev = _t(spark, sf_dir, "events")
    prev = viol(ev)
    cur = viol(ev.withColumn("event_type", F.expr(_REPAIR)))
    return (violations_diff(cur, prev, keys=["event_id"])
            .orderBy("event_id"))


SQL_VIOLATION_DIFF = f"""
WITH lag_prev AS (
  SELECT event_id, event_type AS cur,
         lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), v_prev AS (
  SELECT event_id FROM lag_prev
  WHERE prev IS NOT NULL AND cur = 'signup'
    AND prev NOT IN ('view', 'signup')
), rep AS (
  SELECT event_id, user_id, ts, {_REPAIR} AS event_type FROM events
), lag_cur AS (
  SELECT event_id, event_type AS cur,
         lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM rep
), v_cur AS (
  SELECT event_id FROM lag_cur
  WHERE prev IS NOT NULL AND cur = 'signup'
    AND prev NOT IN ('view', 'signup')
)
SELECT coalesce(p.event_id, c.event_id) AS event_id,
       CASE WHEN p.event_id IS NULL THEN 'new'
            WHEN c.event_id IS NULL THEN 'resolved'
            ELSE 'persisting' END AS status
FROM v_prev p FULL OUTER JOIN v_cur c ON p.event_id = c.event_id
ORDER BY event_id
"""



# ---------------------------------------------------------------------------
# Conversation completeness: turn_idx derived as the per-user rank over
# the stable (ts, event_id) order, then every 17th event dropped — so
# some conversations lose their HEAD turn (head_truncated: invisible to
# the lag-window gap check) and others interior turns (gapped). Both
# engines derive the identical corrupted sequence from pristine parquet.
# ---------------------------------------------------------------------------

def q_conv_completeness(spark, sf_dir):
    from pyspark.sql import Window as W

    from .operators.conversations import conv_completeness
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_id", "user_id",
                    (F.row_number().over(w) - 1).alias("turn_idx"))
    corrupted = seq.filter(F.col("event_id") % 17 != 0)
    return (conv_completeness(corrupted, conv_col="user_id")
            .filter(F.col("verdict") != "ok")
            .orderBy("user_id"))


SQL_CONV_COMPLETENESS = """
WITH seq AS (
  SELECT event_id, user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS turn_idx
  FROM events),
c AS (SELECT user_id, turn_idx FROM seq WHERE event_id % 17 <> 0),
a AS (
  SELECT user_id,
         CAST(count(DISTINCT turn_idx) AS BIGINT) AS n_turns,
         CAST(min(turn_idx) AS BIGINT) AS min_turn,
         CAST(max(turn_idx) AS BIGINT) AS max_turn
  FROM c GROUP BY user_id)
SELECT user_id, n_turns, min_turn, max_turn,
       min_turn AS head_missing,
       max_turn - min_turn + 1 - n_turns AS n_missing,
       CASE WHEN min_turn > 0 THEN 'head_truncated'
            WHEN max_turn - min_turn + 1 - n_turns > 0 THEN 'gapped'
            ELSE 'ok' END AS verdict
FROM a
WHERE min_turn > 0 OR max_turn - min_turn + 1 - n_turns > 0
ORDER BY user_id
"""


MIN_RUN = 3            # stuck-loop threshold: 3+ identical consecutive turns
CONTEXT_BUDGET = 600   # demo context budget (chars of props per conversation)


def q_stuck_loops(spark, sf_dir):
    """Maximal runs of >=3 consecutive identical event types per user —
    the retry-loop / echo pathology detector for agent transcripts."""
    from .operators.conversations import repeated_runs
    ev = _t(spark, sf_dir, "events")
    return (repeated_runs(ev, key_col="user_id", ts_col="ts",
                          seq_col="event_type", tiebreak_col="event_id",
                          min_run=MIN_RUN)
            .orderBy("user_id", "start_idx"))


SQL_STUCK_LOOPS = f"""
WITH base AS (
  SELECT user_id AS k, event_type AS v,
         row_number() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CASE WHEN lag(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id)
              IS NOT DISTINCT FROM event_type THEN 0 ELSE 1 END AS chg
  FROM events
), runs AS (
  SELECT k, v, rn,
         sum(chg) OVER (PARTITION BY k ORDER BY rn) AS run_id
  FROM base
)
SELECT k AS user_id, v AS value, count(*) AS run_len,
       min(rn) AS start_idx, max(rn) AS end_idx
FROM runs GROUP BY k, run_id, v
HAVING count(*) >= {MIN_RUN}
ORDER BY user_id, start_idx
"""


def q_context_overflow(spark, sf_dir):
    """Conversations whose running payload cost crosses the context
    budget, with the crossing turn index — integer-exact cost
    (coalesced char length) so no float summation order crosses the
    engine boundary."""
    from .operators.conversations import context_overflow
    ev = _t(spark, sf_dir, "events")
    return (context_overflow(ev, key_col="user_id", ts_col="ts",
                             tiebreak_col="event_id",
                             cost=F.coalesce(F.length("props"), F.lit(0)),
                             budget=CONTEXT_BUDGET)
            .orderBy("user_id"))


SQL_CONTEXT_OVERFLOW = f"""
WITH base AS (
  SELECT user_id AS k,
         row_number() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         sum(coalesce(length(props), 0)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM events
)
SELECT k AS user_id, count(*) AS n_turns, max(cum) AS total_cost,
       sum(CASE WHEN cum > {CONTEXT_BUDGET} THEN 1 ELSE 0 END) AS n_over,
       min(CASE WHEN cum > {CONTEXT_BUDGET} THEN rn END) AS first_over_idx
FROM base GROUP BY k
HAVING sum(CASE WHEN cum > {CONTEXT_BUDGET} THEN 1 ELSE 0 END) > 0
ORDER BY user_id
"""


SESSION_GAP_US = 86_400_000_000   # 24h inactivity gap, exact micros
# (the synthetic feed's inter-event gap averages ~12h per user, so a
# day gap yields real multi-event windows; 60 / 431 containment
# matches at sf0.001 / sf0.01 — the gate is non-vacuous)
INTERVAL_BIN_S = 86_400


def q_interval_join(spark, sf_dir):
    """Range (interval-containment) join via the binned encoding: every
    'error' event joined to the browse-activity (view/click) session
    window(s) of the same user that CONTAIN it — the operator Spark
    would otherwise plan as a per-key nested loop. The DuckDB oracle
    computes the same result with a plain theta join (ts BETWEEN start
    AND end): a different algorithm entirely, the asof_enrich-grade
    oracle."""
    from pyspark.sql import Window

    from .operators.temporal import interval_join

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pur = (ev.filter(F.col("event_type").isin("view", "click"))
           .select("user_id", "ts", us.alias("_us"), "event_id"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    brk = F.when(
        F.lag("_us").over(w).isNull()
        | ((F.col("_us") - F.lag("_us").over(w)) > SESSION_GAP_US),
        1).otherwise(0)
    sess = (pur.withColumn("sess_idx", F.sum(brk).over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "sess_idx")
            .agg(F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts")))
    err = (ev.filter(F.col("event_type") == "error")
           .select("event_id", "user_id", "ts"))
    j = interval_join(err, sess, on=["user_id"], probe_ts="ts",
                      start_ts="s_ts", end_ts="e_ts",
                      value_cols=["sess_idx"], bin_seconds=INTERVAL_BIN_S)
    return (j.select("event_id", "user_id",
                     _us("ts").alias("err_us"),
                     F.col("sess_idx").cast("bigint").alias("sess_idx"),
                     "interval_start_us", "interval_end_us")
            .orderBy("event_id", "sess_idx"))


SQL_INTERVAL_JOIN = f"""
WITH pur AS (
  SELECT user_id, event_id, epoch_us(ts) AS us
  FROM events WHERE event_type IN ('view', 'click')
), lagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN lag(us) OVER (
                  PARTITION BY user_id ORDER BY us, event_id) IS NULL
               OR us - lag(us) OVER (
                  PARTITION BY user_id ORDER BY us, event_id)
                  > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM pur
), numbered AS (
  SELECT user_id, us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess_idx
  FROM lagged
), sess AS (
  SELECT user_id, sess_idx, min(us) AS s_us, max(us) AS e_us
  FROM numbered GROUP BY user_id, sess_idx
), err AS (
  SELECT event_id, user_id, epoch_us(ts) AS err_us
  FROM events WHERE event_type = 'error'
)
SELECT e.event_id, e.user_id, e.err_us,
       s.sess_idx, s.s_us AS interval_start_us,
       s.e_us AS interval_end_us
FROM err e JOIN sess s
  ON e.user_id = s.user_id AND e.err_us BETWEEN s.s_us AND s.e_us
ORDER BY e.event_id, s.sess_idx
"""


# ---------------------------------------------------------------------------
# Constraint suggestion — profile-driven constraint inference
# ---------------------------------------------------------------------------

_SC_COLS = [("event_id", "int"), ("ts", "ts"), ("user_id", "int"),
            ("event_type", "str"), ("props", "str")]
_SC_VOCAB_CAP = 16


def q_constraint_suggest(spark, sf_dir):
    """suggest_constraints over the transcripts-shaped events table:
    the engine must rediscover exactly the constraints the data
    satisfies (event_id unique + not_null + range, event_type 5-value
    vocab, ts range in epoch micros, ...). The oracle recomputes every
    suggestion arm from first principles — exact counts, exact distinct
    counts, integer/micros range strings, sorted vocab join."""
    from .operators.constraints import suggest_constraints
    return suggest_constraints(
        _t(spark, sf_dir, "events"),
        cols=[c for c, _ in _SC_COLS],
        vocab_cap=_SC_VOCAB_CAP).orderBy("col_name", "kind", "detail")


def _sc_oracle() -> str:
    aggs = ["count(*) AS n"]
    arms = []
    for name, t in _SC_COLS:
        aggs += [f"count({name}) AS nn_{name}",
                 f"count(DISTINCT {name}) AS nd_{name}"]
        if t == "int":
            aggs += [f"min({name}) AS mn_{name}",
                     f"max({name}) AS mx_{name}"]
        elif t == "ts":
            aggs += [f"epoch_us(min({name})) AS mn_{name}",
                     f"epoch_us(max({name})) AS mx_{name}"]
        arms.append(f"SELECT '{name}' AS col_name, 'not_null' AS kind, "
                    f"'' AS detail FROM p WHERE n > 0 AND nn_{name} = n")
        arms.append(f"SELECT '{name}', 'unique', '' FROM p "
                    f"WHERE nn_{name} > 0 AND nd_{name} = nn_{name}")
        if t in ("int", "ts"):
            arms.append(
                f"SELECT '{name}', 'range', CAST(mn_{name} AS VARCHAR) "
                f"|| '..' || CAST(mx_{name} AS VARCHAR) FROM p "
                f"WHERE nn_{name} > 0")
        if t == "str":
            arms.append(
                f"SELECT '{name}', 'vocab', "
                f"(SELECT string_agg(v, '|' ORDER BY v) FROM "
                f"(SELECT DISTINCT {name} AS v FROM events "
                f"WHERE {name} IS NOT NULL) t) FROM p "
                f"WHERE nd_{name} BETWEEN 1 AND {_SC_VOCAB_CAP}")
    return ("WITH p AS (SELECT " + ", ".join(aggs) + " FROM events) "
            + " UNION ALL ".join(arms)
            + " ORDER BY col_name, kind, detail")


SQL_CONSTRAINT_SUGGEST = _sc_oracle()


CONV_QUERIES: Dict[str, Callable] = {
    "constraint_suggest": q_constraint_suggest,
    "asof_enrich": q_asof_enrich,
    "conv_assembly": q_conv_assembly,
    "turn_transitions": q_turn_transitions,
    "protocol_check": q_protocol_check,
    "transition_drift": q_transition_drift,
    "turn_latency": q_turn_latency,
    "conv_prefix_groups": q_conv_prefix_groups,
    "fd_check": q_fd_check,
    "implication_check": q_implication_check,
    "violation_diff": q_violation_diff,
    "conv_completeness": q_conv_completeness,
    "stuck_loops": q_stuck_loops,
    "context_overflow": q_context_overflow,
    "interval_join": q_interval_join,
}

CONV_ORACLES: Dict[str, str] = {
    "constraint_suggest": SQL_CONSTRAINT_SUGGEST,
    "asof_enrich": SQL_ASOF_ENRICH,
    "conv_assembly": SQL_CONV_ASSEMBLY,
    "turn_transitions": SQL_TURN_TRANSITIONS,
    "protocol_check": SQL_PROTOCOL_CHECK,
    "transition_drift": SQL_TRANSITION_DRIFT,
    "turn_latency": SQL_TURN_LATENCY,
    "conv_prefix_groups": SQL_CONV_PREFIX_GROUPS,
    "fd_check": SQL_FD_CHECK,
    "implication_check": SQL_IMPLICATION_CHECK,
    "violation_diff": SQL_VIOLATION_DIFF,
    "conv_completeness": SQL_CONV_COMPLETENESS,
    "stuck_loops": SQL_STUCK_LOOPS,
    "context_overflow": SQL_CONTEXT_OVERFLOW,
    "interval_join": SQL_INTERVAL_JOIN,
}


# ---------------------------------------------------------------------------
# Per-turn replica equality + whole-conversation exact dedup
# ---------------------------------------------------------------------------
#
# turn_text_diff instantiates the north rule's own per-row invariant —
# "per-turn text equality under stable turn ordering" — as a first-class
# violation-row check between two copies of the transcripts table. The
# second copy is derived deterministically from pristine parquet in the
# SHARED dialect (both engines compute the identical corrupted replica):
# turn_idx is the stable (ts, event_id) rank, THEN the left copy loses
# every 181st event (those turns appear in right only -> missing_left),
# the right copy loses every 173rd (-> missing_right) and corrupts every
# 131st's text (-> text_mismatch). Key stability under row loss is the
# point: a replica that lost rows still addresses surviving turns by the
# original (conv, turn_idx).

def q_turn_text_diff(spark, sf_dir):
    """Row-level per-turn text-equality diff between two table copies
    (operators/checks.turn_text_diff): one violation row per turn where
    the copies disagree, exchange carries digests only."""
    from pyspark.sql import Window as W

    from .operators.checks import turn_text_diff
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_id", "user_id", "props",
                    (F.row_number().over(w) - 1).alias("turn_idx"))
    left = (seq.filter("event_id % 181 != 0")
            .select("user_id", "turn_idx", F.col("props").alias("text")))
    right = (seq.filter("event_id % 173 != 0")
             .select("user_id", "turn_idx",
                     F.when(F.col("event_id") % 131 == 0,
                            F.concat(F.col("props"),
                                     F.lit(" [corrupted]")))
                      .otherwise(F.col("props")).alias("text")))
    return (turn_text_diff(left, right, keys=["user_id", "turn_idx"])
            .orderBy("user_id", "turn_idx"))


SQL_TURN_TEXT_DIFF = """
WITH seq AS (
  SELECT event_id, user_id, props,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS turn_idx
  FROM events),
l AS (SELECT user_id, turn_idx, md5(props) AS left_md5,
             props IS NULL AS lnull, 1 AS _l
      FROM seq WHERE event_id % 181 <> 0),
r AS (SELECT user_id, turn_idx,
             md5(CASE WHEN event_id % 131 = 0 THEN props || ' [corrupted]'
                      ELSE props END) AS right_md5,
             (CASE WHEN event_id % 131 = 0 THEN props || ' [corrupted]'
                   ELSE props END) IS NULL AS rnull, 1 AS _r
      FROM seq WHERE event_id % 173 <> 0)
SELECT coalesce(l.user_id, r.user_id) AS user_id,
       coalesce(l.turn_idx, r.turn_idx) AS turn_idx,
       CASE WHEN _r IS NULL THEN 'missing_right'
            WHEN _l IS NULL THEN 'missing_left'
            ELSE 'text_mismatch' END AS status,
       left_md5, right_md5
FROM l FULL OUTER JOIN r
  ON l.user_id = r.user_id AND l.turn_idx = r.turn_idx
WHERE _r IS NULL OR _l IS NULL
   OR (lnull <> rnull) OR (NOT lnull AND left_md5 <> right_md5)
ORDER BY user_id, turn_idx
"""


# whole-conversation exact dedup: planted byte-identical transcripts in
# the shared dialect (the synthetic corpus has no natural conv-level
# dups). Every user with user_id % 17 = 3 has their transcript REPLACED
# by a rank-indexed template parameterized only by user_id % tpl_mod,
# capped at the first 40 turns — so all planted users of one template
# class with >= 40 turns are byte-identical whole conversations
# (shorter planted convs group by their exact length; deterministic
# either way). Non-planted turn text is event_type:props, so
# non-planted convs never collide. ONE corpus construction (Python +
# SQL fragment below) serves both the batch query (tpl_mod=2) and the
# incremental query (tpl_mod=3, chosen so template classes CROSS the
# even/odd history/batch split).
DUP_CONV_MOD, DUP_CONV_RES, DUP_CONV_CAP = 17, 3, 40


def _dup_conv_corpus(spark, sf_dir, tpl_mod: int):
    """The planted-duplicate transcript corpus as a Spark frame with the
    derived ``turn_text`` and ``rn`` columns."""
    from pyspark.sql import Window as W
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    planted = (F.col("user_id") % DUP_CONV_MOD == DUP_CONV_RES)
    base = ev.withColumn("rn", F.row_number().over(w))
    return (base.filter(~(planted & (F.col("rn") > DUP_CONV_CAP)))
            .withColumn(
                "turn_text",
                F.when(planted,
                       F.concat(F.lit("tpl "),
                                (F.col("user_id") % tpl_mod).cast("string"),
                                F.lit(" "), F.col("rn").cast("string")))
                 .otherwise(F.concat(F.col("event_type"), F.lit(":"),
                                     F.coalesce(F.col("props"),
                                                F.lit(""))))))


def _dup_conv_ctes(tpl_mod: int) -> str:
    """The identical corpus in DuckDB SQL (rnk + corpus CTEs), plus the
    per-conversation signature fold. The fold mirrors conv_sigs'
    digest-turns form: each turn md5-digested first (with NULL
    coalesced to chr(0), conv_sigs' null_marker — string_agg would
    otherwise SKIP a NULL turn and collide [a, NULL, b] with [a, b]),
    then the ordered digest sequence md5'd. The planted turn_text here
    is never NULL, but the oracle must define the same function of its
    input as the operator."""
    return f"""rnk AS (
  SELECT user_id, event_id, ts, event_type, props,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
corpus AS (
  SELECT user_id, rn,
         CASE WHEN user_id % {DUP_CONV_MOD} = {DUP_CONV_RES}
              THEN 'tpl ' || CAST(user_id % {tpl_mod} AS VARCHAR)
                   || ' ' || CAST(rn AS VARCHAR)
              ELSE event_type || ':' || coalesce(props, '') END AS turn_text
  FROM rnk
  WHERE NOT (user_id % {DUP_CONV_MOD} = {DUP_CONV_RES}
             AND rn > {DUP_CONV_CAP})),
sigs AS (
  SELECT user_id, count(*) AS n,
         md5(string_agg(md5(coalesce(turn_text, chr(0))), chr(31)
                        ORDER BY rn)) AS conv_sig
  FROM corpus GROUP BY user_id)"""


def q_conv_dup_exact(spark, sf_dir):
    """Whole-conversation exact dedup
    (operators/conversations.conv_dup_groups): conversations whose full
    ordered turn-content sequences are byte-identical, one row per dup
    group with the canonical id — the transcript-level analog of
    dedup_exact."""
    from .operators.conversations import conv_dup_groups
    corpus = _dup_conv_corpus(spark, sf_dir, tpl_mod=2)
    return (conv_dup_groups(corpus, key_col="user_id", ts_col="ts",
                            text_col="turn_text", tiebreak_col="event_id")
            .orderBy("conv_sig"))


SQL_CONV_DUP_EXACT = f"""
WITH {_dup_conv_ctes(tpl_mod=2)}
SELECT conv_sig, count(*) AS n_convs, min(n) AS n_turns,
       min(user_id) AS canonical_id,
       string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id) AS members
FROM sigs GROUP BY conv_sig HAVING count(*) > 1
ORDER BY conv_sig
"""


CONV_QUERIES.update({
    "turn_text_diff": q_turn_text_diff,
    "conv_dup_exact": q_conv_dup_exact,
})
CONV_ORACLES.update({
    "turn_text_diff": SQL_TURN_TEXT_DIFF,
    "conv_dup_exact": SQL_CONV_DUP_EXACT,
})


# ---------------------------------------------------------------------------
# Conversation-level NEAR-dup (MinHash+LSH over assembled transcripts)
# ---------------------------------------------------------------------------
#
# The dedup_minhash_lsh composition lifted from documents to
# conversations: each conversation folds to ONE text (ordered turn
# contents joined by spaces), then the document near-dup machinery —
# shingle, MinHash, banded LSH, exact-Jaccard verify — applies
# unchanged. Planting: users with user_id % 13 = 5 have every turn's
# content replaced by a rank-indexed template ('tpl<rn % 50>'), so all
# planted conversations share the same cycling token stream and differ
# only by their natural lengths — high-but-not-1 Jaccard pairs, the
# near-dup shape (re-rollouts of one seed with divergent tails).
# Two-stage gated check like dedup_minhash_lsh: the banded candidates
# export to a parquet seam; BOTH engines run assembly + shingling +
# exact Jaccard >= threshold from pristine parquet and the seam.
NEAR_CONV_MOD, NEAR_CONV_RES = 13, 5

_CONV_SHINGLED_CACHE: Dict[tuple, object] = {}


def _assembled_convs(spark, sf_dir):
    """One assembled-transcript frame (doc_id, text) per (session, sf),
    shingled once and persisted — shared by the candidate and verify
    stages exactly like driver_queries_extras._shingled_docs."""
    from .operators import dedup as D
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _CONV_SHINGLED_CACHE.get(key)
    if df is None:
        from pyspark.sql import Window as W
        ev = _t(spark, sf_dir, "events")
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        planted = (F.col("user_id") % NEAR_CONV_MOD == NEAR_CONV_RES)
        turns = (ev.withColumn("rn", F.row_number().over(w))
                 .withColumn(
                     "turn_text",
                     F.when(planted,
                            F.concat(F.lit("tpl"),
                                     (F.col("rn") % 50).cast("string")))
                      .otherwise(F.concat(F.col("event_type"), F.lit(":"),
                                          F.coalesce(F.col("props"),
                                                     F.lit(""))))))
        assembled = (turns.groupBy(F.col("user_id").alias("doc_id"))
                     .agg(F.array_join(
                         F.transform(
                             F.array_sort(F.collect_list(F.struct(
                                 F.col("rn"),
                                 F.col("turn_text").alias("v")))),
                             lambda x: x["v"]), " ").alias("text")))
        df = D.with_shingles(assembled).persist()
        _CONV_SHINGLED_CACHE[key] = df
    return df


def q_conv_near_dup(spark, sf_dir):
    """Conversation-level near-dup pairs: MinHash+LSH candidates over
    assembled transcripts, exact-Jaccard verified — the document
    near-dup operator composed with the conversation fold; candidates
    seam-exported so both engines gate the verification stage."""
    from .driver_queries_extras import _SEAM_NS
    from .operators import dedup as D
    shingled = _assembled_convs(spark, sf_dir)
    cand = D.lsh_candidate_pairs(shingled, sort=False)
    path = f"{_SEAM_NS}_conv_neardup_cand.parquet"
    cand.write.mode("overwrite").parquet(path)
    return D.verify_candidates(spark.read.parquet(path), shingled,
                               threshold=0.5)


def _sql_conv_near_dup() -> str:
    # the assembled-transcript CTE feeds the SAME shingle + exact-Jaccard
    # verification fragment the document-level minhash oracle uses
    # (driver_queries_extras.verify_stage_sql) — one definition of the
    # verify stage, parameterized by source relation
    from .driver_queries_extras import _SEAM_NS, verify_stage_sql
    return f"""
WITH rnk AS (
  SELECT user_id, event_type, props,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
conv AS (
  SELECT user_id AS doc_id,
         string_agg(
             CASE WHEN user_id % {NEAR_CONV_MOD} = {NEAR_CONV_RES}
                  THEN 'tpl' || CAST(rn % 50 AS VARCHAR)
                  ELSE event_type || ':' || coalesce(props, '') END,
             ' ' ORDER BY rn) AS text
  FROM rnk GROUP BY user_id),
{verify_stage_sql(f"{_SEAM_NS}_conv_neardup_cand.parquet", src="conv")}
"""


CONV_QUERIES.update({"conv_near_dup": q_conv_near_dup})
CONV_ORACLES.update({"conv_near_dup": _sql_conv_near_dup()})


# incremental whole-conversation dedup: the planted template here is
# parameterized by user_id % 3 (NOT % 2 as in conv_dup_exact) so planted
# duplicate classes CROSS the even/odd history/batch split — every
# planted odd (batch) conversation has an even (indexed) twin of its
# % 3 class, exercising the source='index' branch; classes with no even
# member would exercise source='batch'.
def q_conv_dup_incremental(spark, sf_dir):
    """Incremental whole-conversation exact dedup
    (operators/conversations.build_conv_sig_index +
    conv_dup_against_index): even-id conversations are the indexed
    history, odd-id the arriving batch — O(new) signature rows probe
    the persistent signature index instead of re-grouping the corpus."""
    from .operators.conversations import (
        build_conv_sig_index,
        conv_dup_against_index,
        conv_sigs,
    )
    corpus = _dup_conv_corpus(spark, sf_dir, tpl_mod=3)
    sigs = conv_sigs(corpus, key_col="user_id", ts_col="ts",
                     text_col="turn_text", tiebreak_col="event_id")
    # the signature fold (window + ordered collect over every event) is
    # consumed by THREE subtrees (index build, probe, batch-min) and
    # Spark reuses exchanges, not arbitrary subplans — materialize the
    # one-digest-per-conversation fold once (KB-sized) instead of
    # re-folding the corpus per consumer (guide §2.4; measured 11.0s ->
    # ~4s at the 1M-event proxy)
    sigs = sigs.localCheckpoint(eager=True)
    index = build_conv_sig_index(sigs.filter("conv_id % 2 = 0"))
    return conv_dup_against_index(sigs.filter("conv_id % 2 = 1"), index)


SQL_CONV_DUP_INCREMENTAL = f"""
WITH {_dup_conv_ctes(tpl_mod=3)},
sigk AS (SELECT user_id AS conv_id, conv_sig FROM sigs),
idx AS (SELECT conv_sig, min(conv_id) AS canonical_id
        FROM sigk WHERE conv_id % 2 = 0 GROUP BY 1),
newd AS (SELECT conv_sig, conv_id FROM sigk WHERE conv_id % 2 = 1),
grp AS (SELECT conv_sig, min(conv_id) AS min_new FROM newd GROUP BY 1)
SELECT n.conv_sig, n.conv_id,
       coalesce(i.canonical_id, g.min_new) AS canonical_id,
       CASE WHEN i.canonical_id IS NOT NULL
            THEN 'index' ELSE 'batch' END AS source
FROM newd n
JOIN grp g ON n.conv_sig = g.conv_sig
LEFT JOIN idx i ON n.conv_sig = i.conv_sig
WHERE (i.canonical_id IS NOT NULL AND n.conv_id != i.canonical_id)
   OR (i.canonical_id IS NULL AND n.conv_id != g.min_new)
ORDER BY n.conv_sig, n.conv_id
"""


CONV_QUERIES.update({"conv_dup_incremental": q_conv_dup_incremental})
CONV_ORACLES.update({"conv_dup_incremental": SQL_CONV_DUP_INCREMENTAL})


# ---------------------------------------------------------------------------
# Conversation-level incremental NEAR-dup — the last cell of the dedup
# matrix {document, conversation} x {exact, near} x {batch, incremental}
# ---------------------------------------------------------------------------
#
# Pure composition: the conversation fold (one assembled transcript per
# conv_id, the SAME cached shingled frame conv_near_dup uses) feeds the
# document-level incremental MinHash machinery unchanged
# (operators/dedup.build_minhash_index / build_minhash_sigs /
# near_dup_against_index). Even-id conversations are the ingested
# history — the two-table index artifact exported once per (session, sf)
# to parquet seams, so the query measures the O(new) ingest probe, not
# an index rebuild (the index build cost is bench.py's setup number,
# same contract as the document-level near_dup_incremental). The planted
# % 13 template classes (NEAR_CONV_MOD/RES above) span even and odd ids,
# so every odd planted conversation has an even indexed near-twin —
# the source='index' crossings this operator exists to catch.


def _conv_minhash_seam_paths():
    from .driver_queries_extras import _SEAM_NS
    return (f"{_SEAM_NS}_conv_minhash_index.parquet",
            f"{_SEAM_NS}_conv_minhash_sigs.parquet",
            f"{_SEAM_NS}_conv_neardup_inc_cand.parquet")


def _build_conv_minhash_seams(spark, sf_dir):
    from .operators import dedup as D
    idx_path, sigs_path, _ = _conv_minhash_seam_paths()
    history = _assembled_convs(spark, sf_dir).filter("doc_id % 2 = 0")
    # ONE signature pass feeds both index tables (the shingles are
    # already on the cached frame, so neither table re-tokenizes)
    sig = D.minhash_signature(history).persist()
    try:
        D.build_minhash_index(history, sig=sig) \
            .write.mode("overwrite").parquet(idx_path)
        D.build_minhash_sigs(history, sig=sig) \
            .write.mode("overwrite").parquet(sigs_path)
    finally:
        sig.unpersist()
    return (spark.read.parquet(idx_path), spark.read.parquet(sigs_path))


def conv_minhash_index_exported(spark, sf_dir):
    """The even-id conversation history as the two-table MinHash index
    artifact (capped band rows + one signature row per conversation),
    exported once per (session, sf). Returns (index, index_sigs) lazy
    seam reads."""
    from .driver_queries_extras import _cached_export
    idx_path, _, _ = _conv_minhash_seam_paths()
    return _cached_export(spark, sf_dir, idx_path,
                          _build_conv_minhash_seams)


def q_conv_near_dup_incremental(spark, sf_dir):
    """Incremental conversation-level near-dup: new odd-id conversations
    that LSH-collide with the even-id indexed history, verified by
    signature agreement (estimated Jaccard) — the O(new)-per-ingest form
    of conv_near_dup. Two-stage gated like near_dup_incremental: the
    banded candidates (with the per-pair agreement count) export to a
    parquet seam and BOTH engines run the estimate+threshold stage; the
    MinHash banding and agreement count stay engine-side (hash-seeded).
    Re-ingesting indexed conversations is idempotent (a re-ingested id
    never self-reports)."""
    from .operators import dedup as D
    _, _, cand_path = _conv_minhash_seam_paths()
    index, index_sigs = conv_minhash_index_exported(spark, sf_dir)
    batch = _assembled_convs(spark, sf_dir).filter("doc_id % 2 = 1")
    cand = D.near_dup_candidates(batch, index, index_sigs)
    cand.write.mode("overwrite").parquet(cand_path)
    return D.near_dup_verify(spark.read.parquet(cand_path))


def _sql_conv_near_dup_incremental() -> str:
    _, _, cand_path = _conv_minhash_seam_paths()
    return f"""
WITH cand AS (SELECT doc_id, index_id, n_agree
              FROM '{cand_path}/*.parquet'),
est AS (SELECT doc_id, index_id,
               round(n_agree / 64.0, 4) AS est_jaccard
        FROM cand)
SELECT doc_id, index_id, est_jaccard FROM est
WHERE est_jaccard >= 0.5
ORDER BY doc_id, index_id
"""


CONV_QUERIES.update(
    {"conv_near_dup_incremental": q_conv_near_dup_incremental})
CONV_ORACLES.update(
    {"conv_near_dup_incremental": _sql_conv_near_dup_incremental()})
