"""Per-partition verdict='error' path (SURVEY.md §2.B :throw analog at
partition granularity): an infrastructure failure — corrupt parquet
footer, corrupt data page — yields an error verdict row for THAT
partition while the run continues over the healthy ones, and resume
re-validates exactly the errored partitions after repair.

Two failure depths x both check paths:
- footer corruption: caught by the metadata census probe (works on the
  clustered AND the shuffle path — the partition never reaches a scan);
- data-page corruption (footer intact): caught executor-side by the
  clustered native reader's per-split by-value error rows.
"""

import contextlib
import glob
import os

import pytest

from schema_inference_spark.pipeline import validate
from schema_inference_spark.sources.catalog import SnapshotCatalog
from schema_inference_spark.sources.transcripts import (
    generate_turns,
    write_snapshot,
)


@pytest.fixture()
def snap(tmp_path):
    root = str(tmp_path)
    table = generate_turns(n_conv=40, seed=7)
    write_snapshot(root, "snap", table, n_buckets=4)
    files = {int(os.path.basename(os.path.dirname(f)).split("=")[1]): f
             for f in glob.glob(f"{root}/snap/bucket=*/*.parquet")}
    return SnapshotCatalog(root), files


def _verdicts(res):
    return {r.partition_id: r.verdict for r in res.verdicts.collect()
            if r.partition_id >= 0}


def _corrupt(path, mode):
    orig = open(path, "rb").read()
    if mode == "footer":
        open(path, "wb").write(b"this is not a parquet file")
    else:  # data page: keep the footer (tail) intact, garble a page
        bad = bytearray(orig)
        bad[200:400] = b"\xff" * 200
        open(path, "wb").write(bytes(bad))
    return orig


@pytest.mark.parametrize("clustered", [False, True],
                         ids=["shuffle", "clustered"])
def test_footer_corruption_errors_partition_and_resumes(
        spark, snap, clustered):
    cat, files = snap
    # clean-run baseline BEFORE corrupting (audit-free so the corrupted
    # run below still sees every partition pending): the healthy
    # partitions' violation rows must survive the error unchanged
    base = validate(spark, cat, "snap", clustered_checks=clustered,
                    resume=False, write_audit=False)
    base_rows = {tuple(r) for r in
                 base.violations.filter("partition_id in (0, 1, 3)")
                 .collect()}
    orig = _corrupt(files[2], "footer")

    res = validate(spark, cat, "snap", clustered_checks=clustered)
    assert set(res.errors) == {2}
    assert "part-0.parquet" in res.errors[2]
    v = _verdicts(res)
    assert v[2] == "error"
    assert all(v[p] in ("pass", "fail") for p in (0, 1, 3))
    # healthy partitions completed; the errored one is retried on resume
    assert 2 not in cat.completed_partitions(spark, "snap")
    assert cat.pending_partitions(spark, "snap") == [2]
    # violations from healthy partitions survived the error — identical
    # to the clean-run baseline — and the errored partition contributed
    # no violation rows (its rows never reached any check)
    got_rows = {tuple(r) for r in
                res.violations.filter("partition_id in (0, 1, 3)")
                .collect()}
    assert got_rows == base_rows and base_rows
    assert res.violations.filter("partition_id = 2").count() == 0

    open(files[2], "wb").write(orig)
    res2 = validate(spark, cat, "snap")     # resume: only partition 2
    assert res2.partitions == [2]
    assert res2.errors == {}
    assert _verdicts(res2)[2] in ("pass", "fail")
    assert cat.pending_partitions(spark, "snap") == []


def test_datapage_corruption_errors_partition_clustered(spark, snap):
    """Footer reads fine, a data page doesn't: the clustered native
    reader emits a by-value error row for the split; the partition gets
    verdict='error', its rows never reach any check, and resume
    re-validates it after repair."""
    cat, files = snap
    orig = _corrupt(files[1], "page")

    # precondition of the test: the census (footer) still succeeds
    import pyarrow.parquet as pq
    assert pq.ParquetFile(files[1]).metadata.num_rows > 0

    res = validate(spark, cat, "snap", clustered_checks=True)
    assert set(res.errors) == {1}
    v = _verdicts(res)
    assert v[1] == "error"
    assert all(v[p] in ("pass", "fail") for p in (0, 2, 3))
    assert res.violations.filter("partition_id = 1").count() == 0
    assert cat.pending_partitions(spark, "snap") == [1]

    open(files[1], "wb").write(orig)
    res2 = validate(spark, cat, "snap", clustered_checks=True)
    assert res2.partitions == [1]
    assert _verdicts(res2)[1] in ("pass", "fail")
    assert cat.pending_partitions(spark, "snap") == []


def test_datapage_corruption_errors_partition_shuffle(spark, snap):
    """The shuffle path's :throw analog: a JVM scan abort names no
    partition, so validate()'s probe-gated retry re-finds the corrupt
    partition by page-depth decode, errors it, and re-runs the scan over
    the healthy rest — same outcome the clustered native reader reaches
    inline."""
    cat, files = snap
    orig = open(files[1], "rb").read()
    _corrupt_cut(files[1])

    # precondition: the census (footer) still succeeds
    import pyarrow.parquet as pq
    assert pq.ParquetFile(files[1]).metadata.num_rows > 0

    res = validate(spark, cat, "snap", clustered_checks=False)
    assert set(res.errors) == {1}
    v = _verdicts(res)
    assert v[1] == "error"
    assert all(v[p] in ("pass", "fail") for p in (0, 2, 3))
    assert res.violations.filter("partition_id = 1").count() == 0
    assert cat.pending_partitions(spark, "snap") == [1]

    open(files[1], "wb").write(orig)
    res2 = validate(spark, cat, "snap", clustered_checks=False)
    assert res2.partitions == [1]
    assert _verdicts(res2)[1] in ("pass", "fail")
    assert cat.pending_partitions(spark, "snap") == []


def _corrupt_cut(path):
    """Cut bytes out of the file's middle: the footer (parsed from the
    tail) stays intact, but every page offset after the cut is wrong, so
    the native read fails with a hard decode error — unlike a byte
    garble, which can decode into garbage rows that trip the sort-lie
    refusal instead of the per-partition error path."""
    orig = open(path, "rb").read()
    open(path, "wb").write(orig[:200] + orig[456:])


def _mk_table(rows):
    """rows: (conv, turn, role, tool, ts_minutes)."""
    import datetime

    import pyarrow as pa
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


def _two_bucket_convs():
    """Deterministic conv names landing in different buckets (n=2):
    (x, y) share one bucket, h gets the other."""
    import numpy as np

    from schema_inference_spark.sources.transcripts import _hash_bucket

    def bucket(name):
        return int(_hash_bucket(np.array([name], dtype=object), 2)[0])

    x = next(f"x{i}" for i in range(100) if bucket(f"x{i}") == 0)
    y = next(f"y{i}" for i in range(100) if bucket(f"y{i}") == 0)
    h = next(f"h{i}" for i in range(100) if bucket(f"h{i}") == 1)
    return x, y, h


@contextlib.contextmanager
def _split64():
    """64-row scan splits: with 64-row row groups, one split per group."""
    from schema_inference_spark.operators import clustered
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(clustered, "SPLIT_TARGET_ROWS", 64)
        yield


def test_cross_split_checks_survive_read_error(spark, tmp_path):
    """Regression: the errored-partition row filter must be null-safe.
    kind=1/3 rows carry NO partition_id; a bare ~isin() predicate is NULL
    for them, dropping every boundary/extent row and silently disabling
    all cross-split checks for the HEALTHY partitions. A turn gap that
    exists only across a split boundary in a healthy partition must still
    be reported when another partition has a read error."""
    from schema_inference_spark.operators.clustered import (
        check_rowlevel_clustered,
    )
    from schema_inference_spark.pipeline import ROLE_VOCAB, TOOL_VOCAB

    x, _, h = _two_bucket_convs()
    rows = [(x, i, "user", None, i) for i in range(64)]
    # gap of exactly 2 turns precisely at the 64-row split boundary:
    # both splits are internally clean, only the boundary pair sees it
    rows += [(x, i, "user", None, i - 2) for i in range(66, 130)]
    rows += [(h, i, "user", None, 500 + i) for i in range(300)]
    write_snapshot(str(tmp_path), "xsnap", _mk_table(rows), n_buckets=2,
                   row_group_size=64, declare_write_order=True)
    cat = SnapshotCatalog(str(tmp_path))
    _corrupt_cut(glob.glob(f"{tmp_path}/xsnap/bucket=1/*.parquet")[0])

    with _split64():
        viols, errors = check_rowlevel_clustered(
            spark, cat, "xsnap", cat.partition_ids("xsnap"),
            ROLE_VOCAB, TOOL_VOCAB, with_errors=True)
        gaps = (viols.filter("check_id = 'turn_gap'")
                .select("conv_id", "turn_idx").collect())
    assert set(errors) == {1}
    assert [(r.conv_id, r.turn_idx) for r in gaps] == [(x, 66)]


def test_layout_lie_still_refuses_despite_read_error(spark, tmp_path):
    """An extent lie (conv in non-adjacent segments) in a healthy
    partition must still force the shuffle-path refusal when another
    partition has a read error — the re-run layout verification reads
    the null-partition_id kind=1/3 rows."""
    from schema_inference_spark.operators.clustered import (
        check_rowlevel_clustered,
    )
    from schema_inference_spark.pipeline import ROLE_VOCAB, TOOL_VOCAB

    x, y, h = _two_bucket_convs()
    rows = [(x, i, "user", None, i) for i in range(64)]
    rows += [(y, i, "user", None, 100 + i) for i in range(64)]
    rows += [(x, i, "user", None, 200 + i) for i in range(64, 128)]
    rows += [(h, i, "user", None, 500 + i) for i in range(300)]
    write_snapshot(str(tmp_path), "lsnap", _mk_table(rows), n_buckets=2,
                   row_group_size=64, declare_write_order=True)
    cat = SnapshotCatalog(str(tmp_path))
    _corrupt_cut(glob.glob(f"{tmp_path}/lsnap/bucket=1/*.parquet")[0])

    with _split64():
        with pytest.raises(ValueError, match="non-adjacent segments"):
            check_rowlevel_clustered(
                spark, cat, "lsnap", cat.partition_ids("lsnap"),
                ROLE_VOCAB, TOOL_VOCAB, with_errors=True)


def test_all_partitions_errored_still_returns(spark, snap):
    cat, files = snap
    origs = {p: _corrupt(f, "footer") for p, f in files.items()}
    res = validate(spark, cat, "snap")
    assert set(res.errors) == {0, 1, 2, 3}
    assert res.partitions == []
    assert all(v == "error" for v in _verdicts(res).values())
    assert res.violations.count() == 0
    for p, f in files.items():
        open(f, "wb").write(origs[p])
    res2 = validate(spark, cat, "snap")
    assert sorted(res2.partitions) == [0, 1, 2, 3]
    assert res2.errors == {}


def test_extent_lie_next_to_dropped_partition(spark, tmp_path):
    """Segments are ranked among the partitions left after a read error:
    an extent lie in the partition after the dropped one still refuses,
    and the same layout without the lie is row-identical to the fused
    path over the healthy partition."""
    from schema_inference_spark.operators import checks as C
    from schema_inference_spark.operators.clustered import (
        check_rowlevel_clustered,
    )
    from schema_inference_spark.pipeline import ROLE_VOCAB, TOOL_VOCAB

    import numpy as np

    from schema_inference_spark.sources.transcripts import _hash_bucket

    def in_bucket(prefix, b):
        return next(f"{prefix}{i}" for i in range(100) if int(_hash_bucket(
            np.array([f"{prefix}{i}"], dtype=object), 2)[0]) == b)

    # the errored partition (0) comes first in manifest (file) order
    x, y, h = in_bucket("x", 1), in_bucket("y", 1), in_bucket("h", 0)
    healthy = [(x, i, "user", None, i) for i in range(64)]
    healthy += [(y, i, "user", None, 100 + i) for i in range(64)]
    lie = healthy + [(x, i, "user", None, 200 + i) for i in range(64, 128)]
    clean = healthy + [(y, i, "user", None, 200 + i) for i in range(66, 130)]
    bad = [(h, i, "user", None, 500 + i) for i in range(300)]
    for snap, rows in (("lie", lie), ("clean", clean)):
        write_snapshot(str(tmp_path), snap, _mk_table(bad + rows),
                       n_buckets=2, row_group_size=64,
                       declare_write_order=True)
        _corrupt_cut(glob.glob(f"{tmp_path}/{snap}/bucket=0/*.parquet")[0])
    cat = SnapshotCatalog(str(tmp_path))

    with _split64():
        with pytest.raises(ValueError, match="non-adjacent segments"):
            check_rowlevel_clustered(
                spark, cat, "lie", cat.partition_ids("lie"),
                ROLE_VOCAB, TOOL_VOCAB, with_errors=True)
        viols, errors = check_rowlevel_clustered(
            spark, cat, "clean", cat.partition_ids("clean"),
            ROLE_VOCAB, TOOL_VOCAB, with_errors=True)
    assert set(errors) == {0}
    fused = C.check_rowlevel_fused(cat.read_snapshot(spark, "clean", [1]),
                                   "clean", ROLE_VOCAB, TOOL_VOCAB)
    got = [r.asDict() for r in C.stable_order(viols).collect()]
    assert got == [r.asDict() for r in C.stable_order(fused).collect()]
    assert [(r["check_id"], r["turn_idx"]) for r in got] == [
        ("turn_gap", 66)]
