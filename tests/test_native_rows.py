"""The shuffle path's row source is the native split reader
(``clustered.native_rows``), not the JVM read plan: its column states must
be the SQL state engine's, and its check rows the read plan's, also on
files the two decode differently (a float64 ``turn_idx`` bucket, INT96
and nanosecond timestamps, a file that lacks a column)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from schema_inference_spark.operators import checks as C
from schema_inference_spark.operators.infer import (
    infer_snapshot,
    read_snapshot_tolerant,
    snapshot_census,
)
from schema_inference_spark.pipeline import ROLE_VOCAB, TOOL_VOCAB, validate
from schema_inference_spark.sources.catalog import SnapshotCatalog
from schema_inference_spark.sources.transcripts import (
    generate_turns,
    write_snapshot,
)

ROW_CHECKS = {"unique_key", "turn_dup", "turn_gap", "ts_order", "ref_role",
              "ref_tool"}


def _rewrite(root, snap, fn, **write_kw):
    """Rewrite every bucket file of ``snap`` as ``fn(pid, table)``."""
    cat = SnapshotCatalog(root)
    for p in cat.manifest(snap)["partitions"]:
        path = os.path.join(root, snap, p["path"], p["files"][0])
        pq.write_table(fn(p["partition_id"], pq.read_table(path)), path,
                       **write_kw)


@pytest.fixture(scope="module")
def odd_root(tmp_path_factory):
    """Snapshots of one table (not clustered, so validate() takes the
    shuffle path): as written, with bucket 1 lacking ``tool``, with INT96
    timestamps, and with nanosecond timestamps."""
    import numpy as np
    root = str(tmp_path_factory.mktemp("odd"))
    t = generate_turns(n_conv=40, seed=11)
    t = t.take(pa.array(np.random.default_rng(3).permutation(t.num_rows)))
    for snap in ("plain", "no_tool", "int96", "nanos"):
        write_snapshot(root, snap, t, n_buckets=4)
    _rewrite(root, "no_tool", lambda pid, tb: (
        tb.drop_columns(["tool"]) if pid == 1 else tb))
    _rewrite(root, "int96", lambda pid, tb: tb,
             use_deprecated_int96_timestamps=True)
    _rewrite(root, "nanos", lambda pid, tb: tb.set_column(
        tb.schema.get_field_index("ts"), "ts",
        tb.column("ts").cast(pa.timestamp("ns", "UTC"))), version="2.6")
    return root


def _row_checks(rows):
    return sorted((r["partition_id"], r["check_id"], r["conv_id"],
                   r["turn_idx"], r["payload"]) for r in rows
                  if r["check_id"] in ROW_CHECKS)


def _jvm_plan_rows(spark, cat, snap):
    parts = cat.partition_ids(snap)
    df = read_snapshot_tolerant(spark, cat, snap, parts,
                                snapshot_census(spark, cat, snap, parts))
    return _row_checks(r.asDict() for r in C.check_rowlevel_fused(
        df, snap, ROLE_VOCAB, TOOL_VOCAB).collect())


def _shuffle(spark, cat, snap):
    r = validate(spark, cat, snap, resume=False, write_audit=False,
                 clustered_checks=False)
    assert r.check_path == "fused" and not r.errors, (snap, r.errors)
    return r


def _assert_states_match_sql(spark, cat, snap):
    got = _shuffle(spark, cat, snap).infer
    want = infer_snapshot(spark, cat, snap, engine="sql")
    assert got.table_schema == want.table_schema, snap
    assert got.column_stats == want.column_stats, snap
    assert got.violations == want.violations, snap
    assert got.partition_states == want.partition_states, snap


def test_reader_states_match_sql_engine_on_fixtures(spark, catalog):
    """finalize_infer over the reader's states is infer_snapshot's sql
    engine, partition states included: s2's float64 bucket reads with
    its own schema, s3's tool is all-null."""
    for snap in ("s1", "s2", "s3", "s4"):
        _assert_states_match_sql(spark, catalog, snap)


def test_reader_states_match_sql_engine_with_a_missing_column(spark,
                                                              odd_root):
    """A file without ``tool`` gives that partition an all-null ``tool``
    state of the file's length, as the read plan's null column does."""
    cat = SnapshotCatalog(odd_root)
    r = _shuffle(spark, cat, "no_tool")
    st = r.infer.partition_states[1]["tool"]
    assert st["count"] == st["nulls"] > 0 and st["schema"] is None
    _assert_states_match_sql(spark, cat, "no_tool")


def test_reader_check_rows_match_jvm_read_plan(spark, catalog, odd_root):
    """The reader's casts feed the kernel what the read plan's projection
    does: same row-level violations on the fixtures (s2's float64
    turn_idx included), with a missing column and with INT96 files."""
    for snap in ("s1", "s2", "s3", "s4"):
        got = _row_checks(r.asDict()
                          for r in _shuffle(spark, catalog, snap)
                          .violations.collect())
        assert got and got == _jvm_plan_rows(spark, catalog, snap), snap
    cat = SnapshotCatalog(odd_root)
    for snap in ("no_tool", "int96"):
        got = _row_checks(r.asDict() for r in _shuffle(spark, cat, snap)
                          .violations.collect())
        assert got and got == _jvm_plan_rows(spark, cat, snap), snap


def test_reader_reads_int96_and_nanosecond_timestamps_as_micros(spark,
                                                                odd_root):
    """INT96 and nanosecond files give the violation rows (ts_order
    payloads included) and the inferred schema of the microsecond
    original."""
    cat = SnapshotCatalog(odd_root)
    plain = _shuffle(spark, cat, "plain")
    want = _row_checks(r.asDict() for r in plain.violations.collect())
    assert "ts_order" in {r[1] for r in want}
    for snap in ("int96", "nanos"):
        r = _shuffle(spark, cat, snap)
        assert _row_checks(x.asDict() for x in r.violations.collect()) \
            == want, snap
        assert r.table_schema == plain.table_schema, snap
