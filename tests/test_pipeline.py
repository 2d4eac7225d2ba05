"""Integration goldens: inference-from-data + constraint checks + resume
(SURVEY.md §5.2-2/3; FIXTURES.md F1 planted anomalies -> exact violations).
"""

import json
import os

import pytest

from schema_inference_spark.operators.infer import infer_snapshot
from schema_inference_spark.pipeline import baseline_from_result, validate
from schema_inference_spark.sources.catalog import SnapshotCatalog


@pytest.fixture(scope="module")
def r1(spark, catalog):
    return validate(spark, catalog, "s1", write_audit=False)


def _by_check(result):
    rows = result.violations.collect()
    out = {}
    for r in rows:
        out.setdefault(r.check_id, []).append(r)
    return out


# --- inference ---------------------------------------------------------------

def test_s1_inferred_schema(r1):
    s = r1.table_schema
    assert s["conv_id"] == {"type": "string"}
    assert s["turn_idx"] == {"type": "int"}          # int32 canonicalized
    assert s["role"] == {"type": "string"}
    assert s["text"] == {"type": "string"}
    assert s["tool"] == {"type": "maybe", "child": {"type": "string"}}
    assert s["ts"] == {"type": "timestamp"}


def test_s2_type_conflict_is_strict_failure(spark, catalog):
    """The data analog of the reference's branch-mismatch golden
    (algo_w_test.clj:117-125 / util_test.clj:160-163): one partition wrote
    turn_idx as double; merge must fail non_equal, never widen."""
    inf = infer_snapshot(spark, catalog, "s2")
    v = [x for x in inf.violations if x["check_id"] == "schema_merge"]
    assert len(v) == 1
    v = v[0]
    assert v["mgu_failure"] == "non_equal"
    assert json.loads(v["schema_1"]) == {"type": "int"}
    assert json.loads(v["schema_2"]) == {"type": "double"}
    payload = json.loads(v["payload"])
    assert payload["column"] == "turn_idx"
    assert payload["pids_2"] == [2]  # the planted conflicting partition


def test_s3_all_null_column_generalizes(spark, catalog):
    """All-NULL column -> s-var, generalized to a scheme
    (ref: util.clj:129-137; FIXTURES.md F1)."""
    inf = infer_snapshot(spark, catalog, "s3")
    assert inf.table_schema["tool"] == {
        "type": "scheme", "s_vars": ["t0"],
        "body": {"type": "maybe", "child": {"type": "s-var", "sym": "t0"}}}
    assert inf.violations == []


# --- constraint checks (planted anomalies -> golden violations) --------------

def test_unique_key_violation(r1):
    v = _by_check(r1)["unique_key"]
    assert [(x.conv_id, x.turn_idx) for x in v] == [("c000017", 3)]
    assert json.loads(v[0].payload) == {"n_copies": 2}


def test_turn_dup_violation(r1):
    v = _by_check(r1)["turn_dup"]
    assert [(x.conv_id, x.turn_idx) for x in v] == [("c000017", 3)]


def test_turn_gap_violation(r1):
    v = _by_check(r1)["turn_gap"]
    assert [(x.conv_id, x.turn_idx) for x in v] == [("c000023", 3)]
    assert json.loads(v[0].payload) == {"prev_idx": 1, "missing": 1}


def test_ts_order_violation(r1):
    v = _by_check(r1)["ts_order"]
    assert [x.conv_id for x in v] == ["c000031"]


def test_referential_violations(r1):
    by = _by_check(r1)
    roles = by["ref_role"]
    assert all(json.loads(x.payload)["value"] == "moderator" for x in roles)
    assert all(x.mgu_failure == "non_equal" for x in roles)
    # failure object shape mirrors the reference (util.clj:153-155):
    # schema_1 = offending enum singleton, schema_2 = vocab enum
    assert json.loads(roles[0].schema_1) == {"type": "enum",
                                             "values": ["moderator"]}
    assert json.loads(roles[0].schema_2)["values"] == [
        "assistant", "system", "tool", "user"]
    tools = by["ref_tool"]
    assert all(json.loads(x.payload)["value"] == "telepathy" for x in tools)


def test_verdicts_match_violations(r1):
    verd = {v.partition_id: v for v in r1.verdicts.collect()}
    counts = {}
    for r in r1.violations.collect():
        counts[r.partition_id] = counts.get(r.partition_id, 0) + 1
    for pid, v in verd.items():
        expected = counts.get(pid, 0)
        assert v.n_violations == expected
        assert v.verdict == ("fail" if expected else "pass")
    assert sum(v.n_rows for v in verd.values()) == r1.infer.column_stats["conv_id"]["count"]


def test_stable_violation_order(r1):
    rows = r1.violations.collect()
    key = [(r.snapshot_id, r.partition_id, r.check_id, r.conv_id or "",
            r.turn_idx if r.turn_idx is not None else -1, r.payload) for r in rows]
    assert key == sorted(key)


# --- drift --------------------------------------------------------------------

def test_drift_detected_on_shifted_text_length(spark, catalog, r1):
    base = baseline_from_result(r1)
    r4 = validate(spark, catalog, "s4", baseline_sketches=base["sketches"],
                  baseline_schema=base["schema"], write_audit=False)
    drift = [json.loads(r.payload) for r in
             r4.violations.filter("check_id='drift_psi'").collect()]
    assert [d["column"] for d in drift] == ["text_len"]
    assert drift[0]["psi"] > 0.25
    # and the unshifted snapshot does NOT drift against itself
    r1b = validate(spark, catalog, "s1", baseline_sketches=base["sketches"],
                   baseline_schema=base["schema"], write_audit=False)
    assert r1b.violations.filter("check_id='drift_psi'").count() == 0


# --- resume (D19) ---------------------------------------------------------------

def test_resume_skips_completed_partitions(spark, fixture_root):
    """Pre-populate audit with partitions 0-3 complete; the run must
    validate only 4-7 and produce output identical to the cold run's
    for those partitions (FIXTURES.md F4)."""
    cat = SnapshotCatalog(fixture_root,
                          audit_root=fixture_root + "/_audit_resume")
    cold = validate(spark, cat, "s1", resume=False, write_audit=False)

    pre = cold.verdicts.filter("partition_id < 4")
    cat.append_audit(pre, "s1")
    warm = validate(spark, cat, "s1", resume=True, write_audit=True)
    assert warm.partitions == [4, 5, 6, 7]

    cold_v = [r.asDict() for r in
              cold.violations.filter("partition_id >= 4").collect()]
    warm_v = [r.asDict() for r in warm.violations.collect()]
    assert warm_v == cold_v

    # after the warm run, everything is complete -> validate is a no-op
    done = validate(spark, cat, "s1", resume=True, write_audit=False)
    assert done.partitions == []


def test_fused_checks_match_separate_plans(spark, catalog):
    """The single-pass fused operator is row-identical to the union of
    the four separate check plans on every fixture snapshot, including a
    synthetic block-boundary + duplicate-key + bad-vocab corpus at a tiny
    block size."""
    import datetime

    from check_oracles import check_ordering_blocked

    from schema_inference_spark.operators import checks as C

    def separate(df, sid, bs=8192):
        v = C.check_unique_key(df, sid)
        v = v.unionByName(C.check_referential(df, sid, "role",
                                              ROLE_VOCAB_T, "ref_role"))
        v = v.unionByName(C.check_referential(df, sid, "tool",
                                              TOOL_VOCAB_T, "ref_tool",
                                              nullable=True))
        v = v.unionByName(check_ordering_blocked(df, sid, block_size=bs))
        return [r.asDict() for r in C.stable_order(v).collect()]

    from schema_inference_spark.pipeline import ROLE_VOCAB, TOOL_VOCAB
    ROLE_VOCAB_T, TOOL_VOCAB_T = ROLE_VOCAB, TOOL_VOCAB

    for snap in ("s1", "s4"):
        df = catalog.read_snapshot(spark, snap)
        fused = [r.asDict() for r in C.stable_order(
            C.check_rowlevel_fused(df, snap, ROLE_VOCAB, TOOL_VOCAB)).collect()]
        assert fused == separate(df, snap), snap

    # synthetic: dup key, gap spanning blocks, ts regression, bad role,
    # bad tool, null role — all in one conv, block_size=4
    d = datetime.datetime
    rows = [
        (0, "c1", 0, d(2026, 1, 1, 0, 0), "user", None),
        (1, "c1", 1, d(2026, 1, 1, 0, 1), "assistant", "search"),
        (1, "c1", 1, d(2026, 1, 1, 0, 2), "user", None),          # dup key
        (0, "c1", 2, d(2026, 1, 1, 0, 1), "moderator", None),     # bad role + ts regress
        (0, "c1", 30, d(2026, 1, 1, 0, 5), "user", "telepathy"),  # gap over blocks + bad tool
        (0, "c1", 31, d(2026, 1, 1, 0, 6), None, None),           # null role
    ]
    # a vocabulary entry with a quote and a backslash: the fused check
    # binds vocabularies as parameters, never as SQL text
    odd = 'sys"tem\\x'
    rows.append((1, "c2", 0, d(2026, 1, 1, 0, 0), odd, None))
    ROLE_VOCAB_T = ROLE_VOCAB + [odd]
    tiny = spark.createDataFrame(
        rows, "bucket int, conv_id string, turn_idx int, ts timestamp, "
              "role string, tool string")
    fused = [r.asDict() for r in C.stable_order(
        C.check_rowlevel_fused(tiny, "t", ROLE_VOCAB_T, TOOL_VOCAB)).collect()]
    assert fused == separate(tiny, "t", bs=4)
    assert all(odd in json.loads(r["schema_2"])["values"]
               for r in fused if r["check_id"] == "ref_role")
    by_check = {}
    for r in fused:
        by_check.setdefault(r["check_id"], 0)
        by_check[r["check_id"]] += 1
    assert by_check == {"unique_key": 1, "ref_role": 2, "ref_tool": 1,
                        "turn_gap": 1, "turn_dup": 1, "ts_order": 1}


def test_blocked_carrier_survives_negative_ts_and_turn_idx(spark):
    """The packed-decimal carrier key must round-trip dirty data exactly:
    pre-1970 timestamps (negative unix_micros) and negative turn_idx —
    these checks exist to VALIDATE dirty data, so block-boundary
    violations on such rows must match the plain window check, not be
    silently nulled by an unbiased pack (regression: ADVICE r2)."""
    import datetime

    from check_oracles import check_ordering_blocked

    from schema_inference_spark.operators import checks as C

    d = datetime.datetime
    # conv spans blocks at block_size=4 with negative turn_idx and
    # pre-1970 ts; every anomaly crosses a block boundary so the carrier
    # row itself carries negative values:
    rows = [
        (0, "c1", -5, d(1965, 3, 1, 12, 0), "user", None),
        (0, "c1", -4, d(1966, 1, 1, 0, 0), "assistant", None),
        # gap -4 -> 3 spans blocks -2..0 (carrier = the -4 row, negative
        # turn_idx AND negative micros)
        (1, "c1", 3, d(1967, 5, 5, 5, 5), "user", None),
        # ts regression across the 3|4 boundary pair, both pre-1970
        (1, "c1", 4, d(1967, 5, 5, 5, 4), "assistant", None),
        # duplicate key straddling nothing (same block), pre-1970
        (0, "c2", -1, d(1969, 12, 31, 23, 59, 59, 999999), "user", None),
        (1, "c2", -1, d(1969, 12, 31, 23, 59, 59, 999999), "user", None),
        (0, "c2", 0, d(1970, 1, 1, 0, 0, 0, 1), "assistant", None),
    ]
    df = spark.createDataFrame(
        rows, "bucket int, conv_id string, turn_idx long, ts timestamp, "
              "role string, tool string")

    plain = [r.asDict() for r in C.stable_order(
        C.check_ordering(df, "neg")).collect()]
    blocked = [r.asDict() for r in C.stable_order(
        check_ordering_blocked(df, "neg", block_size=4)).collect()]
    assert blocked == plain
    kinds = sorted(r["check_id"] for r in plain)
    assert kinds == ["ts_order", "turn_dup", "turn_gap"]

    from schema_inference_spark.pipeline import ROLE_VOCAB, TOOL_VOCAB
    fused = [r.asDict() for r in C.stable_order(
        C.check_rowlevel_fused(df, "neg", ROLE_VOCAB, TOOL_VOCAB)).collect()]
    sep = C.check_unique_key(df, "neg").unionByName(
        check_ordering_blocked(df, "neg", block_size=4))
    sep = [r.asDict() for r in C.stable_order(sep).collect()]
    assert fused == sep
    assert sorted(r["check_id"] for r in fused) == \
        ["ts_order", "turn_dup", "turn_gap", "unique_key"]


def test_violation_store_resume_safe(spark, fixture_root):
    """D2 second half: kill/resume — the union of persisted violations
    across a partial run + a resumed run is byte-identical to a single
    cold run's, and re-validating a partition overwrites (never
    duplicates) its rows."""
    cat = SnapshotCatalog(fixture_root,
                          audit_root=fixture_root + "/_audit_vstore",
                          violations_root=fixture_root + "/_vstore")
    cold = validate(spark, cat, "s1", resume=False, write_audit=False)
    cold_rows = [r.asDict() for r in cold.violations.collect()]

    # "killed" run: partitions 0-3 completed — their violations and audit
    # rows landed before the crash
    cat.append_violations(cold.violations.filter("partition_id < 4"), "s1")
    cat.append_audit(cold.verdicts.filter("partition_id < 4"), "s1")

    # resumed run validates 4-7 and persists their violations
    warm = validate(spark, cat, "s1", resume=True, write_audit=True)
    assert warm.partitions == [4, 5, 6, 7]

    stored = [r.asDict() for r in
              validate.__globals__["C"].stable_order(
                  cat.read_violations(spark, "s1")).collect()]
    assert stored == cold_rows

    # idempotence: force a full re-validate — dynamic overwrite replaces
    # per-partition rows, so the store still equals one cold run
    validate(spark, cat, "s1", resume=False, write_audit=True)
    stored2 = [r.asDict() for r in
               validate.__globals__["C"].stable_order(
                   cat.read_violations(spark, "s1")).collect()]
    assert stored2 == cold_rows


def test_referential_schema1_json_escaped(spark):
    """An out-of-vocab value containing quotes/backslashes must still
    produce parseable canonical JSON in schema_1 (ADVICE r1)."""
    import datetime

    from schema_inference_spark.operators.checks import check_referential
    rows = [(0, "c1", 1, 'mod"er\\ator', datetime.datetime(2026, 1, 1))]
    df = spark.createDataFrame(
        rows, "bucket int, conv_id string, turn_idx int, role string, ts timestamp")
    v = check_referential(df, "t", "role", ["user"], "ref_role").collect()
    assert len(v) == 1
    assert json.loads(v[0].schema_1) == {"type": "enum",
                                         "values": ['mod"er\\ator']}


def test_snapshot_level_verdict_row(spark, catalog):
    """A snapshot-scoped violation (drift) yields ONE partition_id=-1
    verdict row; per-partition verdicts count only their own rows
    (ADVICE r1: one drift hit must not flip every partition to fail)."""
    base = baseline_from_result(
        validate(spark, catalog, "s1", write_audit=False))
    r4 = validate(spark, catalog, "s4", baseline_sketches=base["sketches"],
                  write_audit=False)
    verd = {v.partition_id: v for v in r4.verdicts.collect()}
    counts = {}
    for r in r4.violations.collect():
        counts[r.partition_id] = counts.get(r.partition_id, 0) + 1
    assert -1 in verd and verd[-1].verdict == "fail"
    assert verd[-1].n_violations == counts[-1]
    for pid, v in verd.items():
        assert v.n_violations == counts.get(pid, 0)


# --- parallelism invariance (north_rule: identical outputs at N vs 4N) ---------

def test_output_invariant_under_repartition(spark, catalog, r1):
    """Same input at different physical parallelism must yield identical
    violation rows — here approximated by re-running with a different
    shuffle-partition setting (the bench does the local[8]/local[32] run)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        r = validate(spark, catalog, "s1", write_audit=False)
        a = [x.asDict() for x in r.violations.collect()]
        b = [x.asDict() for x in r1.violations.collect()]
        assert a == b
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_state_engines_agree(spark, catalog):
    """The Arrow state path and the SQL state path are the same monoid:
    identical snapshot schema, stats, and violations on every fixture."""
    for snap in ("s1", "s2", "s3"):
        a = infer_snapshot(spark, catalog, snap, engine="arrow")
        b = infer_snapshot(spark, catalog, snap, engine="sql")
        assert a.table_schema == b.table_schema, snap
        assert a.column_stats == b.column_stats, snap
        assert a.violations == b.violations, snap


def test_tree_merge_matches_driver_fold(spark, catalog):
    """treeAggregate path (10^5-partition shape) and the driver fold are
    the same associative combine."""
    from functools import reduce

    from schema_inference_spark.operators.infer import (
        merge_part_states,
        physical_census,
        read_snapshot_tolerant,
        sql_partition_states,
        tree_merge_states,
    )
    files = [(p["partition_id"],
              f"{catalog.root}/s1/{p['path']}/{p['files'][0]}")
             for p in catalog.manifest("s1")["partitions"]]
    census = physical_census(spark, files)
    df = read_snapshot_tolerant(spark, catalog, "s1",
                                catalog.partition_ids("s1"), census)
    ps = sql_partition_states(df, census)
    states = [s for _, s in ps]
    driver = reduce(merge_part_states, states, {})
    rdd = spark.sparkContext.parallelize(states, len(states))
    tree = rdd.treeAggregate({}, merge_part_states, merge_part_states, depth=2)
    for col in driver:
        assert driver[col]["schema"] == tree[col]["schema"]
        assert driver[col]["count"] == tree[col]["count"]
        assert driver[col]["nulls"] == tree[col]["nulls"]
        assert driver[col]["min"] == tree[col]["min"]
        assert driver[col]["max"] == tree[col]["max"]


def test_blocked_ordering_matches_plain(spark, catalog):
    """The skew-bounded ordering check is row-identical to the plain
    window, including a gap that spans whole blocks (tiny block_size)."""
    from check_oracles import check_ordering_blocked

    from schema_inference_spark.operators.checks import (
        check_ordering,
        stable_order,
    )
    df = catalog.read_snapshot(spark, "s1")
    plain = [r.asDict() for r in stable_order(
        check_ordering(df, "s1")).collect()]
    for bs in (4, 8192):
        blocked = [r.asDict() for r in stable_order(
            check_ordering_blocked(df, "s1", block_size=bs)).collect()]
        assert blocked == plain, f"block_size={bs}"
    # synthetic conv with a gap wider than the block: 0,1,2, then 50
    import datetime
    rows = [(0, "x", i, datetime.datetime(2026, 1, 1, 0, i))
            for i in (0, 1, 2, 50)]
    tiny = spark.createDataFrame(
        rows, "bucket int, conv_id string, turn_idx int, ts timestamp")
    got = [r.asDict() for r in stable_order(
        check_ordering_blocked(tiny, "t", block_size=4)).collect()]
    want = [r.asDict() for r in stable_order(
        check_ordering(tiny, "t")).collect()]
    assert got == want
    assert len(got) == 1 and got[0]["check_id"] == "turn_gap"


def test_multi_file_partitions(spark, tmp_path):
    """The 100TB shape: many files per partition. Census merges per-file
    schemas within a partition; a conflict INSIDE one partition surfaces
    as a schema_merge violation; stats aggregate across files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from schema_inference_spark.operators.infer import infer_snapshot
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import generate_turns

    root = str(tmp_path)
    table = generate_turns(n_conv=30, seed=7)
    snap = f"{root}/m1"
    import json as _json
    import os
    parts = []
    n = table.num_rows
    third = n // 3
    # partition 0: two files; partition 1: one file with turn_idx as double
    os.makedirs(f"{snap}/bucket=0", exist_ok=True)
    pq.write_table(table.slice(0, third), f"{snap}/bucket=0/part-0.parquet")
    pq.write_table(table.slice(third, third), f"{snap}/bucket=0/part-1.parquet")
    os.makedirs(f"{snap}/bucket=1", exist_ok=True)
    rest = table.slice(2 * third)
    idx = rest.column("turn_idx").cast(pa.float64())
    rest = rest.set_column(rest.schema.get_field_index("turn_idx"),
                           "turn_idx", idx)
    pq.write_table(rest, f"{snap}/bucket=1/part-0.parquet")
    parts = [
        {"partition_id": 0, "path": "bucket=0",
         "files": ["part-0.parquet", "part-1.parquet"], "n_rows": 2 * third},
        {"partition_id": 1, "path": "bucket=1",
         "files": ["part-0.parquet"], "n_rows": n - 2 * third},
    ]
    with open(f"{snap}/manifest.json", "w") as f:
        _json.dump({"snapshot_id": "m1", "table": "transcripts",
                    "format": "parquet", "n_buckets": 2,
                    "partition_by": "bucket", "partitions": parts,
                    "n_rows": n}, f)

    cat = SnapshotCatalog(root)
    inf = infer_snapshot(spark, cat, "m1")
    # cross-partition conflict detected (int files vs double file)
    v = [x for x in inf.violations if x["check_id"] == "schema_merge"]
    assert len(v) == 1 and v[0]["mgu_failure"] == "non_equal"
    # counts aggregate across all three files
    assert inf.column_stats["conv_id"]["count"] == n
    # both files of partition 0 contributed to its state
    assert inf.partition_states[0]["conv_id"]["count"] == 2 * third


def test_check_path_auto_selection_by_size(spark, catalog):
    """Auto-selection routes small clustered snapshots to the shuffle path
    (the clustered path's fixed cost — Python-worker fan-out + layout
    verification actions — doesn't amortize below minRows) and big ones to
    the clustered path; explicit clustered_checks overrides both ways."""
    from schema_inference_spark.operators.clustered import (
        manifest_declares_order)
    assert manifest_declares_order(catalog.manifest("s1"))

    # fixture s1 is far below the production 2M-row threshold
    small = validate(spark, catalog, "s1", resume=False, write_audit=False)
    assert small.check_path == "fused"

    # pinning the threshold to 0 flips auto-selection to clustered
    spark.conf.set("spark.schema_inference.clustered.minRows", "0")
    try:
        big = validate(spark, catalog, "s1", resume=False,
                       write_audit=False)
        assert big.check_path == "clustered"
    finally:
        spark.conf.unset("spark.schema_inference.clustered.minRows")

    forced = validate(spark, catalog, "s1", resume=False, write_audit=False,
                      clustered_checks=True)
    assert forced.check_path == "clustered"
    # identical violations either way (row-identity is asserted in depth
    # in test_clustered; here just the selection contract)
    assert small.violations.count() == forced.violations.count()


# --- one call shape on the shuffle path --------------------------------------

def _stores(fixture_root, name):
    return SnapshotCatalog(fixture_root,
                           audit_root=f"{fixture_root}/_audit_{name}",
                           violations_root=f"{fixture_root}/_vstore_{name}")


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_shuffle_call_job_guard(spark, fixture_root, r1):
    """A shuffle-path drift call that persists, plus reading its
    violations and verdicts, runs at most 2 Spark jobs: the check
    kernel's collect (the native read into the exchange, then the
    kernel), which also returns the column states and the drift counts.
    The baseline's bin edges are read on the driver and the stores are
    read and written there, so none of those runs a job, and its
    resubmit, which resume skips, runs none, also to read its
    verdicts."""
    base = baseline_from_result(r1)["sketches"]
    cat = _stores(fixture_root, "jobguard")

    def call():
        r = validate(spark, cat, "s4", baseline_sketches=base,
                     write_audit=True)
        r.violations.collect()
        r.verdicts.collect()
        return r

    r, jobs = _jobs(spark, "shuffle-job-guard", call)
    assert r.check_path == "fused"
    assert "drift_psi" in {x.check_id for x in r.violations.collect()}
    assert 0 < len(jobs) <= 2, jobs
    # the call leaves no temp view behind
    assert not [t for t in spark.catalog.listTables() if t.isTemporary]

    def resubmit():
        r = validate(spark, cat, "s4", baseline_sketches=base,
                     write_audit=True)
        r.verdicts.collect()
        return r

    again, jobs = _jobs(spark, "resubmit-job-guard", resubmit)
    assert again.partitions == [] and again.check_path == "none"
    assert jobs == [], jobs


def test_violation_store_is_a_per_partition_replace(spark, fixture_root,
                                                    r1):
    """A run that validates every partition replaces the store's rows for
    each of them and for the snapshot level, also where it found none: a
    drift row from an earlier run must not survive a run without a
    baseline, neither in the store nor in the result or its verdicts."""
    base = baseline_from_result(r1)
    cat = _stores(fixture_root, "replace")
    first = validate(spark, cat, "s4", baseline_sketches=base["sketches"],
                     write_audit=True)
    assert first.violations.filter("partition_id = -1").count() == 1
    r = validate(spark, cat, "s4", resume=False, write_audit=True)
    C = validate.__globals__["C"]
    stored = [x.asDict() for x in C.stable_order(cat.read_violations(
        spark, "s4", partitions=r.partitions + [-1])).collect()]
    assert not [x for x in stored if x["partition_id"] == -1]
    assert stored == [x.asDict() for x in r.violations.collect()]
    assert -1 not in {v.partition_id for v in r.verdicts.collect()}


def test_audit_drops_stale_snapshot_level_verdict(spark, fixture_root, r1):
    """A run that clears the snapshot-level violations also drops their
    -1 audit verdict, in the same compacted audit file: a resubmit after
    a drift run and a full run without a baseline reports no -1 verdict,
    matching the violation store."""
    base = baseline_from_result(r1)["sketches"]
    cat = _stores(fixture_root, "stale_minus_one")
    first = validate(spark, cat, "s4", baseline_sketches=base,
                     write_audit=True)
    assert ("s4", -1, "fail") in {(v.snapshot_id, v.partition_id, v.verdict)
                                  for v in first.verdicts.collect()}
    validate(spark, cat, "s4", resume=False, write_audit=True)
    again = validate(spark, cat, "s4", write_audit=True)
    assert again.check_path == "none"
    assert cat.read_violations(spark, "s4", partitions=[-1]).count() == 0
    verdicts = again.verdicts.collect()
    assert -1 not in {v.partition_id for v in verdicts}
    assert {v.partition_id for v in verdicts} == set(cat.partition_ids("s4"))
    assert len(os.listdir(f"{cat.audit_root}/snapshot_id=s4")) == 1


def test_clustered_drift_matches_fused(spark, catalog, r1):
    """The clustered path's drift counts (taken in its own native scan)
    give the shuffle path's drift payloads byte for byte: both count the
    current rows exactly at the baseline's edges."""
    base = baseline_from_result(r1)["sketches"]

    def drift(**kw):
        r = validate(spark, catalog, "s4", baseline_sketches=base,
                     write_audit=False, **kw)
        return r.check_path, [x.payload for x in r.violations.collect()
                              if x.check_id == "drift_psi"]

    clu_path, clu = drift(clustered_checks=True)
    fus_path, fus = drift(clustered_checks=False)
    assert (clu_path, fus_path) == ("clustered", "fused")
    assert clu == fus
    assert [(p["column"], p["threshold"], p["psi"] > p["threshold"])
            for p in map(json.loads, clu)] == [("text_len", 0.25, True)]
