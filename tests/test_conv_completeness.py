"""conv_completeness (operators/conversations.py): the aggregate
complement of the D12 lag-window ordering check — head truncation and
per-conversation gap totals, checked against a pure-Python model in
test_conv_completeness_matches_model."""

from pyspark.sql import functions as F

from schema_inference_spark.operators.checks import check_ordering
from schema_inference_spark.operators.conversations import conv_completeness


def _df(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, turn_idx int")


def test_verdicts(spark):
    rows = [
        ("ok", 0), ("ok", 1), ("ok", 2),
        ("head", 2), ("head", 3),              # head_truncated (missing 0,1)
        ("gap", 0), ("gap", 1), ("gap", 4),    # gapped (missing 2,3)
        ("both", 1), ("both", 3),              # head wins the verdict
    ]
    out = {r.conv_id: r for r in conv_completeness(_df(spark, rows)).collect()}
    assert out["ok"].verdict == "ok" and out["ok"].n_missing == 0
    assert out["head"].verdict == "head_truncated"
    assert (out["head"].head_missing, out["head"].n_missing) == (2, 0)
    assert out["gap"].verdict == "gapped" and out["gap"].n_missing == 2
    assert out["both"].verdict == "head_truncated"
    assert (out["both"].head_missing, out["both"].n_missing) == (1, 1)


def test_duplicate_turns_do_not_mask_holes(spark):
    # turns 0,1,1,3: count(*) would say 4 turns over span 4 (no hole);
    # the distinct count exposes the missing turn 2
    rows = [("c", 0), ("c", 1), ("c", 1), ("c", 3)]
    r = conv_completeness(_df(spark, rows)).collect()[0]
    assert (r.n_turns, r.n_missing, r.verdict) == (3, 1, "gapped")


def test_head_truncation_invisible_to_lag_window_check(spark):
    """The motivating blind spot: a conversation starting at turn 2 has
    no lag pair for the missing head, so check_ordering emits nothing;
    conv_completeness flags it."""
    import datetime
    base = datetime.datetime(2026, 1, 1)
    rows = [(0, "c", 2, base), (0, "c", 3, base)]
    df = spark.createDataFrame(
        rows, "bucket int, conv_id string, turn_idx int, ts timestamp")
    assert check_ordering(df, "snap").count() == 0
    r = conv_completeness(df).collect()[0]
    assert r.verdict == "head_truncated" and r.head_missing == 2


def test_check_shape_and_pipeline_optin(spark, catalog):
    """Violation-store form + pipeline opt-in: the fixture's planted
    gap conv (c000023 skips turn 2, FIXTURES.md F1) must surface as a
    conv_gap violation on both check paths; no head truncations exist
    in the fixture."""
    from schema_inference_spark.pipeline import validate

    res = validate(spark, catalog, "s1", completeness=True,
                   resume=False, write_audit=False, clustered_checks=False)
    rows = (res.violations
            .filter("check_id in ('conv_gap', 'conv_head_truncated')")
            .collect())
    by_conv = {r.conv_id: r for r in rows}
    assert "c000023" in by_conv
    g = by_conv["c000023"]
    assert g.check_id == "conv_gap"
    import json
    assert json.loads(g.payload)["n_missing"] == 1
    assert all(r.check_id == "conv_gap" for r in rows)

    res_clu = validate(spark, catalog, "s1", completeness=True,
                       resume=False, write_audit=False,
                       clustered_checks=True)
    clu = {tuple(r) for r in res_clu.violations
           .filter("check_id in ('conv_gap', 'conv_head_truncated')")
           .collect()}
    assert clu == {tuple(r) for r in rows}


# property: conv_completeness agrees with a pure-Python model on
# arbitrary small (conv, turn) multisets — same budget rationale as
# test_fd_violations_matches_model (30 examples, session-scoped spark)
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_cc_rows = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 9)),
    min_size=1, max_size=14)


@settings(max_examples=30, deadline=None)
@given(rows=_cc_rows)
def test_conv_completeness_matches_model(spark, rows):
    df = _df(spark, [(c, t) for c, t in rows])
    got = {r.conv_id: (r.n_turns, r.min_turn, r.max_turn,
                       r.head_missing, r.n_missing, r.verdict)
           for r in conv_completeness(df).collect()}

    model = {}
    for c, t in rows:
        model.setdefault(c, set()).add(t)
    want = {}
    for c, turns in model.items():
        lo, hi, n = min(turns), max(turns), len(turns)
        head, miss = lo, hi - lo + 1 - n
        verdict = ("head_truncated" if head > 0
                   else "gapped" if miss > 0 else "ok")
        want[c] = (n, lo, hi, head, miss, verdict)
    assert got == want
