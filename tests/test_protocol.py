"""Conversation-protocol check (role-transition matrix): batch operator,
pipeline opt-in on both check paths, and structure drift."""

import datetime as dt
import json

from schema_inference_spark.operators import checks as C
from schema_inference_spark.pipeline import ROLE_VOCAB, validate

# demo protocol: exactly the in-vocab role pairs. The fixture's roles
# cycle system->user->assistant->tool (all allowed); the planted
# out-of-vocab 'moderator' rows (every 1000th turn) fire BOTH their
# incoming and outgoing transitions — a bounded, predictable violation
# set. Separately, the shape test below uses explicit forbidden pairs.
ALLOWED = {(a, b) for a in ROLE_VOCAB for b in ROLE_VOCAB}


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_check_role_protocol_shape(spark):
    rows = [(0, "c1", 0, _ts("2026-01-01T00:00:00"), "system"),
            (0, "c1", 1, _ts("2026-01-01T00:00:01"), "tool"),      # bad
            (0, "c1", 2, _ts("2026-01-01T00:00:02"), "assistant"),
            (0, "c2", 0, _ts("2026-01-01T00:00:00"), "tool"),      # first: ok
            (0, "c2", 1, _ts("2026-01-01T00:00:01"), "tool"),      # bad
            (0, "c2", 2, _ts("2026-01-01T00:00:02"), None),        # null: skip
            (0, "c2", 3, _ts("2026-01-01T00:00:03"), "tool")]      # skip
    df = spark.createDataFrame(
        rows, "bucket int, conv_id string, turn_idx int, ts timestamp, "
              "role string")
    strict = ALLOWED - {("tool", "tool"), ("system", "tool")}
    got = C.check_role_protocol(df, "t", strict).collect()
    keyed = {(r.conv_id, r.turn_idx): json.loads(r.payload) for r in got}
    assert keyed == {
        ("c1", 1): {"prev": "system", "cur": "tool"},
        ("c2", 1): {"prev": "tool", "cur": "tool"},
    }
    for r in got:
        assert r.check_id == "role_protocol" and r.partition_id == 0


def test_pipeline_protocol_optin_paths_agree(spark, catalog):
    res_fused = validate(spark, catalog, "s1", role_protocol=ALLOWED,
                         resume=False, write_audit=False,
                         clustered_checks=False)
    fused = {tuple(r) for r in res_fused.violations
             .filter("check_id = 'role_protocol'").collect()}
    res_clu = validate(spark, catalog, "s1", role_protocol=ALLOWED,
                       resume=False, write_audit=False, clustered_checks=True)
    clu = {tuple(r) for r in res_clu.violations
           .filter("check_id = 'role_protocol'").collect()}
    assert (res_fused.check_path, res_clu.check_path) == ("fused",
                                                          "clustered")
    direct = {tuple(r) for r in
              C.check_role_protocol(catalog.read_snapshot(spark, "s1"),
                                    "s1", ALLOWED).collect()}
    assert fused == clu == direct
    assert direct  # the matrix actually fires on the fixture
    # default (no protocol arg) emits no role_protocol rows
    res_off = validate(spark, catalog, "s1", resume=False,
                       write_audit=False)
    assert res_off.violations.filter(
        "check_id = 'role_protocol'").count() == 0
    res_fused.violations.unpersist(blocking=False)
    res_clu.violations.unpersist(blocking=False)
    res_off.violations.unpersist(blocking=False)


def test_transition_drift_violation_unit():
    from schema_inference_spark.operators.drift import (
        transition_drift_violation,
    )
    base = {("user", "assistant"): 500, ("assistant", "user"): 500}
    # same structure -> no row (scale invariant: counts x10)
    assert transition_drift_violation(
        "s", base, {k: v * 10 for k, v in base.items()}) is None
    # structure collapse: user->user loops appear, alternation halves
    cur = {("user", "assistant"): 250, ("assistant", "user"): 250,
           ("user", "user"): 500}
    row = transition_drift_violation("s", base, cur)
    assert row is not None and row["check_id"] == "transition_drift"
    payload = json.loads(row["payload"])
    assert payload["top_cell"] == ["user", "user"]
    assert payload["psi"] > 0.25 and row["partition_id"] == -1


def test_pipeline_transition_baseline(spark, catalog):
    from schema_inference_spark.pipeline import transition_baseline
    base = transition_baseline(spark, catalog, "s1")
    assert base and all(isinstance(v, int) for v in base.values())
    # self-comparison: structurally identical -> no drift row
    res = validate(spark, catalog, "s1", baseline_transitions=base,
                   resume=False, write_audit=False)
    assert res.violations.filter(
        "check_id = 'transition_drift'").count() == 0
    # doctored baseline (alternation-only) vs the fixture's 4-role
    # cycle -> the matrix PSI fires exactly one snapshot-level row
    doctored = {("user", "assistant"): 1000, ("assistant", "user"): 1000}
    res2 = validate(spark, catalog, "s1", baseline_transitions=doctored,
                    resume=False, write_audit=False)
    rows = res2.violations.filter(
        "check_id = 'transition_drift'").collect()
    assert len(rows) == 1 and rows[0].partition_id == -1
    res.violations.unpersist(blocking=False)
    res2.violations.unpersist(blocking=False)
