"""check_stuck_loops (operators/checks.py): violation-store form of
repeated_runs, plus the validate() opt-in — the retry-loop pathology
D12's gap/order checks never see (stuck loops have perfectly
consecutive turn_idx). repeated_runs itself is checked against a
pure-Python model in tests/test_semistructured.py."""

import datetime as dt
import json

import pyarrow as pa

from schema_inference_spark.operators.checks import (
    check_ordering,
    check_stuck_loops,
)
from schema_inference_spark.operators.conversations import repeated_runs


def _turns_df(spark, rows):
    base = dt.datetime(2026, 1, 1)
    data = [(b, c, i, r, base + dt.timedelta(seconds=i))
            for (b, c, i, r) in rows]
    return spark.createDataFrame(
        data, "bucket int, conv_id string, turn_idx int, role string, "
              "ts timestamp")


def test_extra_group_cols_attribution(spark):
    """bucket rides the run fold as a functionally-dependent group
    column — exact attribution, identical runs."""
    rows = ([(3, "a", i, "assistant") for i in range(4)]
            + [(5, "b", i, v) for i, v in enumerate("xxyy")])
    df = _turns_df(spark, rows)
    out = repeated_runs(df, "conv_id", "ts", "role", "turn_idx",
                        min_run=3, extra_group_cols=["bucket"]).collect()
    assert [(r.conv_id, r.bucket, r.value, r.run_len)
            for r in out] == [("a", 3, "assistant", 4)]


def test_check_shape_and_d12_blindspot(spark):
    """A stuck loop is invisible to the ordering check (consecutive
    turn_idx, monotone ts) but surfaces as a stuck_loop violation with
    the run extent in the payload."""
    rows = ([(0, "loop", i, "assistant") for i in range(5)]
            + [(0, "okc", 0, "user"), (0, "okc", 1, "assistant")])
    df = _turns_df(spark, rows)
    assert check_ordering(df, "snap").count() == 0
    v = check_stuck_loops(df, "snap").collect()
    assert len(v) == 1
    r = v[0]
    assert (r.check_id, r.conv_id, r.partition_id, r.turn_idx) == \
        ("stuck_loop", "loop", 0, 1)
    p = json.loads(r.payload)
    assert (p["value"], p["run_len"], p["start_idx"], p["end_idx"]) == \
        ("assistant", 5, 1, 5)


def test_pipeline_optin_both_paths(spark, tmp_path):
    """validate(stuck_loops=True) surfaces a planted stuck conversation
    on both check paths, row-identically; without the flag the check
    never runs."""
    from schema_inference_spark.pipeline import validate
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import write_snapshot

    base = dt.datetime(2026, 1, 1)
    rows = []
    # 6 healthy alternating conversations + one planted 4-run
    for c in range(6):
        for i in range(6):
            rows.append((f"h{c:03d}", i, ["user", "assistant"][i % 2]))
    rows += [("stuck01", i, "assistant") for i in range(4)]
    rows += [("stuck01", 4, "user")]
    table = pa.table({
        "conv_id": pa.array([c for c, _, _ in rows]),
        "turn_idx": pa.array([i for _, i, _ in rows], pa.int32()),
        "role": pa.array([r for _, _, r in rows]),
        "text": pa.array([f"t{i}" for i, _ in enumerate(rows)]),
        "tool": pa.array([None] * len(rows), pa.string()),
        "ts": pa.array([base + dt.timedelta(seconds=i)
                        for _, i, _ in rows],
                       type=pa.timestamp("us", tz="UTC")),
    })
    root = str(tmp_path / "cat")
    write_snapshot(root, "sL", table, n_buckets=4)
    cat = SnapshotCatalog(root)

    res = validate(spark, cat, "sL", stuck_loops=True,
                   resume=False, write_audit=False, clustered_checks=False)
    got = res.violations.filter("check_id = 'stuck_loop'").collect()
    assert len(got) == 1 and got[0].conv_id == "stuck01"
    assert json.loads(got[0].payload)["run_len"] == 4

    res_off = validate(spark, cat, "sL", resume=False, write_audit=False)
    assert res_off.violations.filter(
        "check_id = 'stuck_loop'").count() == 0

    res_clu = validate(spark, cat, "sL", stuck_loops=True,
                       resume=False, write_audit=False,
                       clustered_checks=True)
    clu = {tuple(r) for r in res_clu.violations
           .filter("check_id = 'stuck_loop'").collect()}
    assert clu == {tuple(r) for r in got}


def test_context_budget_optin_both_paths(spark, catalog):
    """validate(context_budget=N): conversations whose cumulative text
    length crosses N surface as context_overflow violations, identical
    on both check paths; a huge budget yields zero rows."""
    from schema_inference_spark.pipeline import validate

    res = validate(spark, catalog, "s1", context_budget=2000,
                   resume=False, write_audit=False, clustered_checks=False)
    rows = res.violations.filter("check_id = 'context_overflow'").collect()
    assert rows, "fixture conversations must exceed a 2000-char budget"
    p = json.loads(rows[0].payload)
    assert p["total_cost"] > 2000 and p["budget"] == 2000
    assert p["first_over_idx"] >= 1 and rows[0].turn_idx == p["first_over_idx"]

    res_clu = validate(spark, catalog, "s1", context_budget=2000,
                       resume=False, write_audit=False,
                       clustered_checks=True)
    clu = {tuple(r) for r in res_clu.violations
           .filter("check_id = 'context_overflow'").collect()}
    assert clu == {tuple(r) for r in rows}

    res_big = validate(spark, catalog, "s1", context_budget=10**9,
                       resume=False, write_audit=False)
    assert res_big.violations.filter(
        "check_id = 'context_overflow'").count() == 0


def test_all_optins_compose(spark, catalog):
    """Everything-on: protocol + rules + completeness + stuck_loops +
    context_budget in ONE validate() call must equal the union of each
    opt-in run alone (no interaction regressions), on both check
    paths."""
    from schema_inference_spark.pipeline import ROLE_VOCAB, validate

    allowed = {(a, b) for a in ROLE_VOCAB for b in ROLE_VOCAB}
    rules = [{"check_id": "tool_when_tool_role", "kind": "implication",
              "when": "role = 'tool'", "then": "tool IS NOT NULL"}]
    kw = dict(resume=False, write_audit=False)
    combos = dict(role_protocol=allowed, rules=rules,
                  completeness=True, stuck_loops=True,
                  context_budget=2000)

    both = validate(spark, catalog, "s1", **combos, **kw,
                    clustered_checks=False)
    got = {tuple(r) for r in both.violations.collect()}

    want = set()
    base = {tuple(r) for r in
            validate(spark, catalog, "s1", **kw).violations.collect()}
    want |= base
    for k, v in combos.items():
        solo = {tuple(r) for r in
                validate(spark, catalog, "s1", **{k: v}, **kw)
                .violations.collect()}
        want |= solo
    assert got == want
    assert len(got) > len(base)   # the opt-ins really added rows

    clu = {tuple(r) for r in
           validate(spark, catalog, "s1", **combos, **kw,
                    clustered_checks=True).violations.collect()}
    assert clu == got
