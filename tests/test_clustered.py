"""Layout-aware (zero-shuffle) row-level checks: row-identity against the
fused shuffle path, split-boundary stitching, and layout-lie detection.
"""

import datetime

import pyarrow as pa
import pytest

from schema_inference_spark.operators import checks as C
from schema_inference_spark.operators.clustered import (
    check_rowlevel_clustered, manifest_declares_order)
from schema_inference_spark.pipeline import ROLE_VOCAB, TOOL_VOCAB, validate
from schema_inference_spark.sources.catalog import SnapshotCatalog
from schema_inference_spark.sources.transcripts import write_snapshot


@pytest.fixture(scope="module", autouse=True)
def _clustered_at_any_size(spark):
    """This module's fixtures are tiny; validate()'s auto-selection would
    route them to the shuffle path under the production minRows amortization
    threshold. Pin it to 0 so the module exercises the clustered path and
    its self-heal fallbacks through the same auto-selection a big snapshot
    takes."""
    spark.conf.set("spark.schema_inference.clustered.minRows", "0")
    yield
    spark.conf.unset("spark.schema_inference.clustered.minRows")


def rows_of(df):
    return [r.asDict() for r in C.stable_order(df).collect()]


def _clustered(spark, cat, snap):
    return rows_of(check_rowlevel_clustered(
        spark, cat, snap, cat.partition_ids(snap), ROLE_VOCAB, TOOL_VOCAB))


def _fused(spark, cat, snap):
    df = cat.read_snapshot(spark, snap)
    return rows_of(C.check_rowlevel_fused(df, snap, ROLE_VOCAB, TOOL_VOCAB))


def test_clustered_matches_fused_on_fixtures(spark, catalog):
    """Every planted anomaly (dup key, gap, ts regression, bad role/tool)
    produces byte-identical violation rows on both paths."""
    for snap in ("s1", "s4"):
        assert _clustered(spark, catalog, snap) == _fused(
            spark, catalog, snap), snap


def _mk_table(rows):
    """rows: (conv, turn, role, tool, ts_minutes)."""
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    return pa.table({
        "conv_id": pa.array([r[0] for r in rows], pa.string()),
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": pa.array([r[2] for r in rows], pa.string()),
        "text": pa.array([f"t{i}" for i in range(len(rows))], pa.string()),
        "tool": pa.array([r[3] for r in rows], pa.string()),
        "ts": pa.array([base + datetime.timedelta(minutes=r[4])
                        for r in rows], pa.timestamp("us", tz="UTC")),
    })


@pytest.fixture(scope="module")
def boundary_root(spark, tmp_path_factory):
    """A snapshot engineered so anomalies SPAN split boundaries: tiny
    parquet row groups + a tiny maxPartitionBytes make Spark split the one
    file into many scan partitions, so the dup run, the gap pair, and the
    ts-regression pair each cross a split — exercising the boundary-row
    stitching and the split-spanning unique-key aggregation."""
    rows = []
    # conv a: 300 clean turns
    rows += [("a", i, "user", None, i) for i in range(300)]
    # conv b: turn 1 duplicated 7x (run will span row groups), then clean
    rows += [("b", 0, "user", None, 1000)]
    rows += [("b", 1, "assistant", "search", 1001 + i) for i in range(7)]
    rows += [("b", i, "user", None, 1010 + i) for i in range(2, 200)]
    # conv c: gap right at a row-group-sized offset + ts regression later
    rows += [("c", i, "user", None, 2000 + i) for i in range(128)]
    rows += [("c", i, "user", None, 2000 + i) for i in range(130, 250)]
    rows += [("c", 250, "user", None, 1999)]          # ts regression
    # conv d: bad role + bad tool
    rows += [("d", 0, "moderator", "telepathy", 3000)]
    root = str(tmp_path_factory.mktemp("boundary"))
    write_snapshot(root, "b1", _mk_table(rows), n_buckets=2,
                   row_group_size=64)
    return root


def test_boundary_spanning_anomalies(spark, boundary_root):
    cat = SnapshotCatalog(boundary_root)
    old_arb = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        # force many scan splits (row-group-aligned, 64-row row groups in
        # the fixture) AND many small Arrow batches so runs and lag pairs
        # cross both kinds of boundary
        spark.conf.set("spark.schema_inference.clustered.splitTargetRows",
                       "64")
        # readBatchRows governs the native reader's batches (NOT
        # maxRecordsPerBatch — those batches never cross the bridge);
        # keep both small so lag pairs and dup runs cross batch
        # boundaries inside a split too
        spark.conf.set("spark.schema_inference.clustered.readBatchRows",
                       "50")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
        clu = _clustered(spark, cat, "b1")
    finally:
        spark.conf.unset("spark.schema_inference.clustered.splitTargetRows")
        spark.conf.unset("spark.schema_inference.clustered.readBatchRows")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old_arb)
    fus = _fused(spark, cat, "b1")
    assert clu == fus
    by = {}
    for r in clu:
        by.setdefault(r["check_id"], []).append(r)
    import json
    assert [json.loads(x["payload"]) for x in by["unique_key"]] == [
        {"n_copies": 7}]
    assert len(by["turn_dup"]) == 6
    assert [json.loads(x["payload"]) for x in by["turn_gap"]] == [
        {"prev_idx": 127, "missing": 2}]
    assert len(by["ts_order"]) == 1
    assert len(by["ref_role"]) == 1 and len(by["ref_tool"]) == 1


def test_null_role_payload_matches_fused(spark, tmp_path):
    rows = [("n", 0, "user", None, 0), ("n", 1, None, None, 1)]
    root = str(tmp_path)
    write_snapshot(root, "nn", _mk_table(rows), n_buckets=1)
    cat = SnapshotCatalog(root)
    clu = _clustered(spark, cat, "nn")
    assert clu == _fused(spark, cat, "nn")
    nr = [r for r in clu if r["check_id"] == "ref_role"]
    assert len(nr) == 1
    assert nr[0]["payload"] == "{}"                     # to_json omits nulls
    assert nr[0]["schema_1"] == '{"type":"enum","values":[null]}'


def test_layout_lie_raises(spark, tmp_path):
    """The manifest declares the sort order but the data violates it —
    the clustered path must refuse (metadata failure => throw), never
    emit wrong rows."""
    unsorted = [("z", 2, "user", None, 2), ("z", 0, "user", None, 0),
                ("z", 1, "user", None, 1)]
    root = str(tmp_path / "u")
    write_snapshot(root, "u1", _mk_table(unsorted), n_buckets=1,
                   declare_write_order=True)
    cat = SnapshotCatalog(root)
    with pytest.raises(Exception, match="out of order"):
        _clustered(spark, cat, "u1")

    interleaved = [("x", 0, "user", None, 0), ("y", 0, "user", None, 1),
                   ("x", 1, "user", None, 2)]
    root2 = str(tmp_path / "i")
    write_snapshot(root2, "i1", _mk_table(interleaved), n_buckets=1,
                   declare_write_order=True)
    cat2 = SnapshotCatalog(root2)
    with pytest.raises(Exception, match="non-contiguous"):
        _clustered(spark, cat2, "i1")

    # the writer itself refuses to DECLARE for non-clustered input (the
    # declaration belongs to the data, not the writer — ADVICE r2): by
    # default the same tables get no write_order and validate() goes
    # straight to the fused path with no wasted corpus pass
    root3 = str(tmp_path / "v")
    m = write_snapshot(root3, "v1", _mk_table(unsorted), n_buckets=1)
    assert not manifest_declares_order(m)
    m2 = write_snapshot(root3, "v2", _mk_table(interleaved), n_buckets=1)
    assert not manifest_declares_order(m2)
    clean = [("w", 0, "user", None, 0), ("w", 1, "user", None, 1)]
    m3 = write_snapshot(root3, "v3", _mk_table(clean), n_buckets=1)
    assert manifest_declares_order(m3)

    # validate() self-heals: the auto-selected clustered path hits the
    # layout lie and silently falls back to the fused shuffle path,
    # producing the same rows a fused-only run would
    healed = validate(spark, cat, "u1", write_audit=False)
    fused_only = validate(spark, cat, "u1", write_audit=False,
                          clustered_checks=False)
    assert ([r.asDict() for r in healed.violations.collect()]
            == [r.asDict() for r in fused_only.violations.collect()])
    assert healed.violations.filter("check_id='turn_gap'").count() == 0


def _write_two_file_snapshot(root, snap, t0, t1):
    """One bucket, TWO parquet files listed in manifest order, manifest
    declaring the clustered write order — for engineering lies that exist
    only ACROSS a file boundary while each file is locally clean."""
    _write_files_snapshot(root, snap, [t0, t1])


def _write_files_snapshot(root, snap, tables):
    """One bucket, one parquet file per table in manifest order, manifest
    declaring the clustered write order."""
    import json
    import os

    import pyarrow.parquet as pq
    snap_dir = os.path.join(root, snap)
    os.makedirs(os.path.join(snap_dir, "bucket=0"), exist_ok=True)
    files = [f"part-{i}.parquet" for i in range(len(tables))]
    for t, f in zip(tables, files):
        pq.write_table(t, os.path.join(snap_dir, "bucket=0", f))
    n_rows = sum(t.num_rows for t in tables)
    manifest = {
        "snapshot_id": snap, "table": "transcripts", "format": "parquet",
        "n_buckets": 1, "partition_by": "bucket",
        "partitions": [{"partition_id": 0, "path": "bucket=0",
                        "files": files, "n_rows": n_rows}],
        "n_rows": n_rows,
        "write_order": {"clustered_by": ["conv_id"],
                        "sorted_by": ["conv_id", "turn_idx", "ts"]},
    }
    with open(os.path.join(snap_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)


def test_cross_split_sort_lie_raises(spark, tmp_path):
    """Each file is locally sorted, but the conv's key regresses at the
    file seam — the stitch must refuse, not emit divergent rows
    (regression: ADVICE r2 cross-split hole)."""
    t0 = _mk_table([("z", i, "user", None, i) for i in range(6)])
    t1 = _mk_table([("z", i, "user", None, 100 + i) for i in range(3, 7)])
    root = str(tmp_path)
    _write_two_file_snapshot(root, "xl", t0, t1)
    cat = SnapshotCatalog(root)
    with pytest.raises(Exception, match="regresses across a split"):
        _clustered(spark, cat, "xl")
    # validate() self-heals to the fused path, which emits the turn_dup /
    # unique_key rows the data actually contains
    healed = validate(spark, cat, "xl", write_audit=False)
    fused_only = validate(spark, cat, "xl", write_audit=False,
                          clustered_checks=False)
    assert ([r.asDict() for r in healed.violations.collect()]
            == [r.asDict() for r in fused_only.violations.collect()])
    assert healed.violations.filter("check_id='unique_key'").count() > 0


def test_nonadjacent_conv_reappearance_raises(spark, tmp_path):
    """A conv that is NOT the last of its file reappears in the next file
    — invisible to per-split seen-sets and to the adjacent-boundary
    stitch; the global extent verification must catch it."""
    t0 = _mk_table([("x", i, "user", None, i) for i in range(3)]
                   + [("y", i, "user", None, 50 + i) for i in range(3)])
    t1 = _mk_table([("x", i, "user", None, 100 + i) for i in range(3, 6)])
    root = str(tmp_path)
    _write_two_file_snapshot(root, "na", t0, t1)
    cat = SnapshotCatalog(root)
    with pytest.raises(Exception, match="non-adjacent segments"):
        _clustered(spark, cat, "na")


def test_null_sort_key_raises_and_heals(spark, tmp_path):
    """Null conv_id/turn_idx/ts would turn the numpy lag comparisons into
    NaN garbage — the UDF must refuse per batch; validate() falls back to
    the fused path's SQL null semantics (regression: ADVICE r2)."""
    import pyarrow as pa
    rows = [("n", 0, "user", None, 0), ("n", 1, "user", None, 1)]
    t = _mk_table(rows)
    idx = t.schema.get_field_index("turn_idx")
    t = t.set_column(idx, "turn_idx",
                     pa.array([0, None], pa.int32()))
    root = str(tmp_path)
    write_snapshot(root, "nu", t, n_buckets=1, declare_write_order=True)
    cat = SnapshotCatalog(root)
    with pytest.raises(Exception, match="null turn_idx"):
        _clustered(spark, cat, "nu")
    healed = validate(spark, cat, "nu", write_audit=False)
    fused_only = validate(spark, cat, "nu", write_audit=False,
                          clustered_checks=False)
    assert ([r.asDict() for r in healed.violations.collect()]
            == [r.asDict() for r in fused_only.violations.collect()])


def test_validate_auto_selects_clustered_and_matches(spark, catalog):
    """validate() picks the clustered path from the manifest's
    write_order; forcing either path yields identical violations."""
    assert manifest_declares_order(catalog.manifest("s1"))
    auto = validate(spark, catalog, "s1", write_audit=False,
                    clustered_checks=True)
    fused = validate(spark, catalog, "s1", write_audit=False,
                     clustered_checks=False)
    assert ([r.asDict() for r in auto.violations.collect()]
            == [r.asDict() for r in fused.violations.collect()])


def test_validate_type_conflict_falls_back(spark, catalog):
    """s2's physical-type conflict disables the layout fast path (the
    scan must widen); validate() must still complete via the fused path
    and report the planted schema_merge failure."""
    r = validate(spark, catalog, "s2", write_audit=False)
    kinds = {x.check_id for x in r.violations.collect()}
    assert "schema_merge" in kinds


def test_fused_scan_states_match_standalone_engines(spark, catalog):
    """collect_states=True computes the inference column states inside the
    check scan; the result must be the same monoid value the standalone
    SQL and Arrow state engines produce — schema, stats, violations, and
    the per-partition states themselves."""
    from schema_inference_spark.operators.infer import (
        finalize_infer,
        infer_snapshot,
        snapshot_census,
    )

    for snap in ("s1", "s4"):
        parts = catalog.partition_ids(snap)
        census = snapshot_census(spark, catalog, snap, parts)
        _, pstates = check_rowlevel_clustered(
            spark, catalog, snap, parts, ROLE_VOCAB, TOOL_VOCAB,
            collect_states=True)
        fused = finalize_infer(spark, snap, census, pstates)
        sql = infer_snapshot(spark, catalog, snap, census=census)
        assert fused.table_schema == sql.table_schema, snap
        assert fused.column_stats == sql.column_stats, snap
        assert fused.violations == sql.violations, snap
        # per-partition states compare against the SQL engine: its `phys`
        # comes from the footer census (the physical-truth source), which
        # is also where the fused scan takes it — the Spark Arrow feed
        # can rewrite e.g. large_string to string in memory
        assert fused.partition_states == sql.partition_states, snap


def test_validate_clustered_uses_one_fused_scan(spark, catalog):
    """validate() on a clustered snapshot returns the same verdicts,
    violations, and inferred schema whether the fused single-scan path or
    the forced shuffle path computes them."""
    a = validate(spark, catalog, "s1", resume=False, write_audit=False)
    b = validate(spark, catalog, "s1", resume=False, write_audit=False,
                 clustered_checks=False)
    assert a.table_schema == b.table_schema
    assert rows_of(a.violations) == rows_of(b.violations)
    av = {(r.partition_id, r.verdict, r.n_violations)
          for r in a.verdicts.collect()}
    bv = {(r.partition_id, r.verdict, r.n_violations)
          for r in b.verdicts.collect()}
    assert av == bv


def test_fused_states_many_partitions(spark, tmp_path):
    """300 partitions' splits pack into a few scan tasks, each emitting
    one state row per partition it read; the driver merge must equal the
    SQL state engine exactly."""
    from schema_inference_spark.operators.infer import (
        finalize_infer,
        infer_snapshot,
        snapshot_census,
    )
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )

    table = generate_turns(n_conv=300, seed=7)
    root = str(tmp_path / "many")
    write_snapshot(root, "m", table, n_buckets=300)
    cat = SnapshotCatalog(root)
    parts = cat.partition_ids("m")
    _, pstates = check_rowlevel_clustered(
        spark, cat, "m", parts, ROLE_VOCAB, TOOL_VOCAB,
        collect_states=True)
    census = snapshot_census(spark, cat, "m", parts)
    fused = finalize_infer(spark, "m", census, pstates)
    sql = infer_snapshot(spark, cat, "m", census=census)
    # empty buckets (hash collisions at 300 convs / 300 buckets) emit no
    # state on either engine
    assert len(pstates) == len(sql.partition_states)
    assert fused.partition_states == sql.partition_states
    assert fused.column_stats == sql.column_stats
    assert fused.table_schema == sql.table_schema


def test_packed_tasks_stitch_seam_anomalies(spark, tmp_path, monkeypatch):
    """Splits outnumber scan tasks, so several splits share one packed
    task, and every anomaly sits exactly on a split seam: the driver-side
    stitch must stay row-identical to the fused path."""
    from schema_inference_spark.operators import clustered
    from schema_inference_spark.operators.clustered import (
        _pack_tasks, _plan_splits)

    rows = [("a", i, "user", None, i) for i in range(16)]
    rows += [("a", 17 + i, "user", None, 20 + i) for i in range(16)]  # gap
    rows += [("a", 32, "user", None, 36 + i) for i in range(16)]      # dup
    rows += [("a", 33 + i, "user", None, 40 + i) for i in range(16)]  # ts
    rows += [("b", i, "moderator" if i == 0 else "user",
              "telepathy" if i == 16 else None, 100 + i)
             for i in range(32 * 8)]
    root = str(tmp_path)
    write_snapshot(root, "pk", _mk_table(rows), n_buckets=1,
                   row_group_size=16, declare_write_order=True)
    cat = SnapshotCatalog(root)
    splits = _plan_splits(cat, "pk", [0], 16)
    # a task per 16 footer rows: more splits than cores, not one task
    monkeypatch.setattr(clustered, "TASK_MIN_ROWS", 16)
    tasks = [t.splits for t in _pack_tasks(spark, splits).collect()]
    assert len(splits) > spark.sparkContext.defaultParallelism
    assert len(tasks) == spark.sparkContext.defaultParallelism
    assert sorted(s.split_id for t in tasks for s in t) == list(
        range(len(splits)))
    spark.conf.set("spark.schema_inference.clustered.splitTargetRows", "16")
    try:
        clu = _clustered(spark, cat, "pk")
    finally:
        spark.conf.unset("spark.schema_inference.clustered.splitTargetRows")
    assert clu == _fused(spark, cat, "pk")
    assert {r["check_id"] for r in clu} == {
        "turn_gap", "turn_dup", "unique_key", "ts_order", "ref_role",
        "ref_tool"}


def test_empty_split_between_seams(spark, tmp_path):
    """A zero-row file yields an empty split between two segments of one
    conversation; the seam across it is still stitched, row-identical to
    the fused path."""
    t0 = _mk_table([("z", i, "user", None, i) for i in range(5)])
    t2 = _mk_table([("z", i, "user", None, i) for i in range(7, 9)]
                   + [("y", 0, "user", None, 50)])
    root = str(tmp_path)
    _write_files_snapshot(root, "es", [t0, t0.slice(0, 0), t2])
    cat = SnapshotCatalog(root)
    clu = _clustered(spark, cat, "es")
    assert clu == _fused(spark, cat, "es")
    assert [(r["check_id"], r["turn_idx"]) for r in clu] == [("turn_gap", 7)]


def test_clustered_call_runs_at_most_five_jobs(spark, catalog):
    """A clustered validate() plus reading its violations and verdicts
    runs at most 5 Spark jobs: one scan, one collect, and nothing when
    the caller reads the (local) results."""
    sc = spark.sparkContext
    validate(spark, catalog, "s1", resume=False, write_audit=False)
    sc.setJobGroup("clustered-job-guard", "jobs of one clustered call")
    try:
        r = validate(spark, catalog, "s1", resume=False, write_audit=False)
        r.violations.collect()
        r.verdicts.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r.check_path == "clustered"
    jobs = sc.statusTracker().getJobIdsForGroup("clustered-job-guard")
    assert 0 < len(jobs) <= 5, jobs


def test_clustered_drift_call_runs_at_most_three_jobs(spark, catalog):
    """A clustered drift call runs the clustered call's jobs and no
    more: its scan counts the current rows at the baseline's edges, so
    no sketch aggregation of its own follows it."""
    from schema_inference_spark.pipeline import baseline_from_result
    base = baseline_from_result(validate(
        spark, catalog, "s1", resume=False, write_audit=False))["sketches"]
    sc = spark.sparkContext
    sc.setJobGroup("clustered-drift-guard", "jobs of one clustered drift call")
    try:
        r = validate(spark, catalog, "s4", baseline_sketches=base,
                     resume=False, write_audit=False)
        r.violations.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r.check_path == "clustered"
    assert "drift_psi" in {x.check_id for x in r.violations.collect()}
    jobs = sc.statusTracker().getJobIdsForGroup("clustered-drift-guard")
    assert 0 < len(jobs) <= 3, jobs


def test_clustered_calls_release_what_they_persist(spark, catalog):
    """The scan checkpoint is released before validate() returns: a
    long-lived session holds no more persisted RDDs after 3 calls than
    before them."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        r = validate(spark, catalog, "s1", resume=False, write_audit=False)
        assert r.check_path == "clustered"
        r.violations.collect()
    assert jsc.getPersistentRDDs().size() == before
