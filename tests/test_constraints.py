"""Rule constraints (operators/constraints.py): FD + implication
semantics, the documented NULL contracts, and plan shape."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from schema_inference_spark.operators.constraints import (
    fd_violations,
    implication_violations,
)


@pytest.fixture(scope="module")
def frame(spark):
    # key 1: consistent dep; key 2: two deps; key 3: NULL + value;
    # key 4: consistently NULL dep
    rows = [(1, "a", 10.0), (1, "a", 20.0),
            (2, "a", 1.0), (2, "b", 2.0), (2, "b", 3.0),
            (3, None, 4.0), (3, "c", 5.0),
            (4, None, 6.0), (4, None, 7.0)]
    return spark.createDataFrame(rows, "k long, dep string, v double")


def test_fd_violations_basic(frame):
    out = {r.k: r for r in
           fd_violations(frame, ["k"], ["dep"]).collect()}
    assert set(out) == {2, 3}, "only inconsistent keys report"
    assert out[2].n_rows == 3 and out[2].n_distinct == 2
    assert out[2].dep_min == "a" and out[2].dep_max == "b"


def test_fd_null_is_a_distinct_value(frame):
    """The documented NULL contract: {NULL, 'c'} IS a violation (two
    distinct dependent values), while {NULL, NULL} is consistent."""
    out = {r.k: r for r in
           fd_violations(frame, ["k"], ["dep"]).collect()}
    assert 3 in out and out[3].n_distinct == 2
    assert 4 not in out


def test_fd_multi_column_dependent(spark):
    # the dependent TUPLE is compared, not each column independently:
    # (x,1) vs (x,2) violates even though col a is constant
    df = spark.createDataFrame(
        [(1, "x", 1), (1, "x", 2), (2, "x", 1), (2, "x", 1)],
        "k long, a string, b int")
    out = fd_violations(df, ["k"], ["a", "b"]).collect()
    assert [r.k for r in out] == [1]
    assert out[0].dep_min == "x\x1f1" and out[0].dep_max == "x\x1f2"


def test_fd_partial_aggregation_plan(frame):
    """Map-side partial aggregation absorbs hot determinants before the
    shuffle: the plan must show two HashAggregate levels (partial +
    final), not a raw exchange of data rows."""
    plan = fd_violations(frame, ["k"], ["dep"])._jdf \
        .queryExecution().executedPlan().toString()
    # Catalyst rewrites count(distinct) into a two-exchange cascade whose
    # FIRST stage partially aggregates on (determinant, dep) before any
    # shuffle — the map-side combine that absorbs hot determinants.
    # (SortAggregate here: string min/max picks the sort-based impl.)
    first_exchange = plan.index("Exchange")
    assert "partial_count" in plan[first_exchange:], "two-phase distinct"
    assert "partial_count(1)" in plan, \
        "map-side partial aggregation must run before the first shuffle"


def test_implication_basic(spark):
    df = spark.createDataFrame(
        [(1, "purchase", 5.0), (2, "purchase", -1.0),
         (3, "view", -9.0), (4, "purchase", 0.0)],
        "id long, et string, v double")
    out = implication_violations(
        df, "et = 'purchase'", "v >= 0", ["id"]).collect()
    assert [r.id for r in out] == [2], \
        "non-purchase rows never violate; v>=0 purchases never violate"


def test_implication_null_consequent_contract(spark):
    """SQL tri-state: NULL consequent -> not a violation; the coalesce
    wrapper opts into NULL-fails semantics."""
    df = spark.createDataFrame(
        [(1, "purchase", None), (2, "purchase", -1.0)],
        "id long, et string, v double")
    soft = implication_violations(
        df, "et = 'purchase'", "v >= 0", ["id"]).collect()
    assert [r.id for r in soft] == [2]
    strict = implication_violations(
        df, "et = 'purchase'", "coalesce(v >= 0, false)", ["id"]).collect()
    assert [r.id for r in strict] == [1, 2]


# property: fd_violations agrees with a pure-Python model on arbitrary
# small frames (keys 0-3, deps from a 3-value-or-NULL alphabet); 30
# examples keeps the per-example Spark job cost bounded (the session
# fixture is session-scoped, which hypothesis permits inside @given)
_fd_rows = st.lists(
    st.tuples(st.integers(0, 3),
              st.sampled_from(["a", "b", "c", None])),
    min_size=1, max_size=12)


@settings(max_examples=30, deadline=None)
@given(rows=_fd_rows)
def test_fd_violations_matches_model(spark, rows):
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        "k long, dep string, i long")
    got = {r.k: (r.n_rows, r.n_distinct, r.dep_min, r.dep_max)
           for r in fd_violations(df, ["k"], ["dep"]).collect()}

    from schema_inference_spark.operators.constraints import _NULL_SENTINEL
    model = {}
    for k, v in rows:
        model.setdefault(k, []).append(
            _NULL_SENTINEL if v is None else v)
    want = {}
    for k, deps in model.items():
        d = set(deps)
        if len(d) > 1:
            want[k] = (len(deps), len(d), min(d), max(d))
    assert got == want


def test_violations_diff_statuses(spark):
    """Set-diff semantics: within-side duplicates collapse; the three
    statuses partition the key union."""
    from schema_inference_spark.operators.checks import violations_diff
    cur = spark.createDataFrame([(1,), (2,), (2,)], "k long")
    prev = spark.createDataFrame([(2,), (3,)], "k long")
    out = {r.k: r.status for r in
           violations_diff(cur, prev, ["k"]).collect()}
    assert out == {1: "new", 2: "persisting", 3: "resolved"}


def test_validate_with_rules(spark, catalog):
    """Declared rules run inside validate() and land in the canonical
    violation stream: an implication rule catches the planted
    moderator rows (role='moderator' turns carry a NULL tool), an FD
    rule catches role -> tool inconsistency as a snapshot-level (-1)
    violation, and a holding rule contributes nothing."""
    from schema_inference_spark.pipeline import validate

    rules = [
        {"check_id": "tool_when_tool_role", "kind": "implication",
         "when": "role = 'tool'", "then": "tool IS NOT NULL"},
        {"check_id": "moderator_tool", "kind": "implication",
         "when": "role = 'moderator'", "then": "tool IS NOT NULL",
         "payload_cols": ["role"]},
        {"check_id": "role_tool_fd", "kind": "fd",
         "determinants": ["role"], "dependents": ["tool"]},
    ]
    res = validate(spark, catalog, "s1", rules=rules,
                   resume=False, write_audit=False)
    by_check = {r.check_id: r.n for r in
                (res.violations.groupBy("check_id").count()
                 .withColumnRenamed("count", "n").collect())}

    # tool-role turns always carry a tool value in the fixture
    assert "tool_when_tool_role" not in by_check
    # every planted moderator turn violates (tool is NULL off-role)
    df = catalog.read_snapshot(spark, "s1")
    n_mod = df.filter("role = 'moderator'").count()
    assert n_mod > 0 and by_check["moderator_tool"] == n_mod
    mod = res.violations.filter("check_id = 'moderator_tool'").first()
    assert mod.schema_1 == "role = 'moderator'"
    assert mod.payload == '{"role":"moderator"}'
    # role 'tool' maps to several tool values -> FD violated, reported
    # at the snapshot level (partition_id -1) and tallied there
    fd_rows = res.violations.filter(
        "check_id = 'role_tool_fd'").collect()
    assert any(r.partition_id == -1 for r in fd_rows)
    assert {r.verdict for r in res.verdicts.filter(
        "partition_id = -1").collect()} == {"fail"}


def test_rules_identical_across_check_paths(spark, catalog):
    """Path parity (the repo's standing invariant, extended to rules):
    the clustered and shuffle check paths must emit identical rule
    violation rows — the rules evaluate over the tolerant read plan on
    both, so this pins that the plumbing doesn't diverge."""
    from schema_inference_spark.pipeline import validate

    rules = [
        {"check_id": "moderator_tool", "kind": "implication",
         "when": "role = 'moderator'", "then": "tool IS NOT NULL",
         "payload_cols": ["role"]},
        {"check_id": "role_tool_fd", "kind": "fd",
         "determinants": ["role"], "dependents": ["tool"]},
    ]
    kw = dict(rules=rules, resume=False, write_audit=False)
    clustered = validate(spark, catalog, "s1", clustered_checks=True, **kw)
    fused = validate(spark, catalog, "s1", clustered_checks=False, **kw)
    pick = lambda res: sorted(  # noqa: E731
        tuple(r) for r in res.violations.filter(
            "check_id IN ('moderator_tool', 'role_tool_fd')").collect())
    a, b = pick(clustered), pick(fused)
    assert a == b and len(a) > 0


def test_unknown_rule_kind_raises(spark, catalog):
    from schema_inference_spark.pipeline import validate
    with pytest.raises(ValueError, match="unknown rule kind"):
        validate(spark, catalog, "s1", resume=False, write_audit=False,
                 rules=[{"check_id": "x", "kind": "regex"}])


def _write_turns(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "conv_id": pa.array([r[0] for r in rows], pa.string()),
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": pa.array([r[2] for r in rows], pa.string()),
        "tool": pa.array([r[3] for r in rows], pa.string()),
        "bucket": pa.array([r[4] for r in rows], pa.int32()),
    }), str(path))


def test_implication_zero_shuffle_plan(spark):
    """The scan-filter check shape: no Exchange anywhere in the plan."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("m"))
    plan = implication_violations(
        df, "m = 0", "id < 50", ["id"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
