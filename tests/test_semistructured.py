"""The two conversation QA operators behind validate()'s stuck-loop and
context-budget checks (``conversations.repeated_runs`` /
``context_overflow``): planted-pathology semantics, plan shape, and
agreement with pure-Python models."""

import datetime as dt

from pyspark.sql import functions as F

from schema_inference_spark.operators.conversations import (
    context_overflow,
    repeated_runs,
)


def _ts(i):
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=i)


# ---------------------------------------------------------------------------
# stuck loops (repeated_runs)
# ---------------------------------------------------------------------------

def _turns(spark, seqs):
    """seqs: {conv: [v0, v1, ...]} -> turn-per-row frame with stable
    (ts, tiebreak) ordering."""
    rows = []
    i = 0
    for conv, vals in seqs.items():
        for j, v in enumerate(vals):
            rows.append((conv, _ts(j), i, v))
            i += 1
    return spark.createDataFrame(
        rows, "conv bigint, ts timestamp, eid bigint, v string")


def test_repeated_runs_planted(spark):
    df = _turns(spark, {
        1: ["a", "a", "a", "b", "a", "a"],       # one run of 3, one of 2
        2: ["x", "x", "x", "x", "x"],            # one run of 5
        3: ["a", "b", "a", "b"],                 # no runs
    })
    out = sorted((r.conv, r.value, r.run_len, r.start_idx, r.end_idx)
                 for r in repeated_runs(df, "conv", "ts", "v", "eid",
                                        min_run=3).collect())
    assert out == [(1, "a", 3, 1, 3), (2, "x", 5, 1, 5)]


def test_repeated_runs_nulls_form_runs(spark):
    """Null-safe change detection: consecutive nulls ARE a run (matching
    SQL's IS NOT DISTINCT FROM), and a null breaks a value run."""
    df = _turns(spark, {1: ["a", None, None, None, "a", "a"]})
    out = sorted(((r.value, r.run_len) for r in
                  repeated_runs(df, "conv", "ts", "v", "eid",
                                min_run=2).collect()),
                 key=lambda t: (t[0] is not None, t[0] or "", t[1]))
    assert out == [(None, 3), ("a", 2)]


def test_repeated_runs_min_run_boundary(spark):
    df = _turns(spark, {1: ["a", "a", "b", "b", "b"]})
    got = {(r.value, r.run_len) for r in
           repeated_runs(df, "conv", "ts", "v", "eid", min_run=3).collect()}
    assert got == {("b", 3)}   # the 2-run is below threshold


# ---------------------------------------------------------------------------
# context overflow
# ---------------------------------------------------------------------------

def test_context_overflow_planted(spark):
    rows = [
        # conv 1: costs 5,5,5 -> cum 5,10,15; budget 10 -> crosses at 3
        (1, _ts(0), 0, 5), (1, _ts(1), 1, 5), (1, _ts(2), 2, 5),
        # conv 2: cum 4,8 -> never crosses
        (2, _ts(0), 3, 4), (2, _ts(1), 4, 4),
        # conv 3: first turn already over
        (3, _ts(0), 5, 11),
    ]
    df = spark.createDataFrame(
        rows, "conv bigint, ts timestamp, eid bigint, c int")
    out = {r.conv: r for r in
           context_overflow(df, "conv", "ts", "eid",
                            cost=F.col("c"), budget=10).collect()}
    assert set(out) == {1, 3}
    assert (out[1].n_turns, out[1].total_cost,
            out[1].n_over, out[1].first_over_idx) == (3, 15, 1, 3)
    assert (out[3].n_over, out[3].first_over_idx) == (1, 1)


def test_context_overflow_exact_budget_is_not_over(spark):
    """Crossing is STRICTLY greater: a conversation landing exactly on
    the budget is compliant."""
    df = spark.createDataFrame(
        [(1, _ts(0), 0, 10)], "conv bigint, ts timestamp, eid bigint, c int")
    assert context_overflow(df, "conv", "ts", "eid",
                            cost=F.col("c"), budget=10).count() == 0


# ---------------------------------------------------------------------------
# plan-shape regressions (100-TB contracts)
# ---------------------------------------------------------------------------

def test_repeated_runs_single_input_exchange(spark):
    """ONE shuffle on the conversation key feeds both the windows and
    the run fold (the fold reuses the _k clustering — SortAggregate,
    never a second hashpartitioning on (_k, _run))."""
    df = _turns(spark, {1: ["a", "a", "a"]})
    plan = (repeated_runs(df, "conv", "ts", "v", "eid", min_run=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_context_overflow_single_exchange(spark):
    """The running-sum window and the per-key fold share one Exchange."""
    df = spark.createDataFrame(
        [(1, _ts(0), 0, 5)], "conv bigint, ts timestamp, eid bigint, c int")
    plan = (context_overflow(df, "conv", "ts", "eid",
                             cost=F.col("c"), budget=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1, plan


# ---------------------------------------------------------------------------
# properties: agree with pure-Python models on arbitrary small inputs
# (same budget rationale as test_conv_completeness_matches_model)
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_run_rows = st.lists(
    st.lists(st.sampled_from(["a", "b", None]), min_size=1, max_size=12),
    min_size=1, max_size=4)


def _runs_model(vals, min_run):
    """Maximal null-safe runs >= min_run: (value, len, start, end)."""
    out, i = [], 0
    while i < len(vals):
        j = i
        while j + 1 < len(vals) and vals[j + 1] == vals[i]:
            j += 1
        if j - i + 1 >= min_run:
            out.append((vals[i], j - i + 1, i + 1, j + 1))
        i = j + 1
    return out


@settings(max_examples=25, deadline=None)
@given(seqs=_run_rows, min_run=st.integers(2, 4))
def test_repeated_runs_matches_model(spark, seqs, min_run):
    df = _turns(spark, {k: v for k, v in enumerate(seqs)})
    got = sorted(
        ((r.conv, r.value, r.run_len, r.start_idx, r.end_idx)
         for r in repeated_runs(df, "conv", "ts", "v", "eid",
                                min_run=min_run).collect()),
        key=str)
    want = sorted(((k, v, n, s, e)
                   for k, vals in enumerate(seqs)
                   for (v, n, s, e) in _runs_model(vals, min_run)),
                  key=str)
    assert got == want


_cost_rows = st.lists(
    st.lists(st.integers(0, 9), min_size=1, max_size=10),
    min_size=1, max_size=4)


@settings(max_examples=25, deadline=None)
@given(seqs=_cost_rows, budget=st.integers(0, 25))
def test_context_overflow_matches_model(spark, seqs, budget):
    rows = [(k, _ts(j), k * 100 + j, c)
            for k, costs in enumerate(seqs) for j, c in enumerate(costs)]
    df = spark.createDataFrame(
        rows, "conv bigint, ts timestamp, eid bigint, c int")
    got = {r.conv: (r.n_turns, r.total_cost, r.n_over, r.first_over_idx)
           for r in context_overflow(df, "conv", "ts", "eid",
                                     cost=F.col("c"),
                                     budget=budget).collect()}
    want = {}
    for k, costs in enumerate(seqs):
        cum, n_over, first = 0, 0, None
        for j, c in enumerate(costs):
            cum += c
            if cum > budget:
                n_over += 1
                if first is None:
                    first = j + 1
        if n_over:
            want[k] = (len(costs), cum, n_over, first)
    assert got == want
