"""The catalog's driver-side stores (sources/catalog.py): latest-wins
audit, read-back of stores written by the earlier Spark writer, and
crash safety of validate()'s persist steps.

A crash is injected at three points of a resumed run: before the
violation write, between the violation and audit writes, and inside the
audit write after its tmp file is written and before it is linked into
place. After
each, a resumed run must leave the same violation store and the same
latest audit rows as a run that never crashed."""

import glob
import hashlib
import json
import os
import subprocess
import sys

import pytest

from schema_inference_spark.pipeline import baseline_from_result, validate
from schema_inference_spark.sources.catalog import SnapshotCatalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Crash(Exception):
    pass


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows, key=repr)).encode()).hexdigest()


def _stable(row) -> tuple:
    """A violation row; of a drift row, only what does not vary between
    runs (its PSI/KS come from randomized KLL sketches)."""
    if row.check_id != "drift_psi":
        return tuple(row)
    p = json.loads(row.payload)
    return (row.partition_id, p["column"], p["psi"] > p["threshold"])


def _store_digests(spark, cat, sid):
    """(violation store, latest audit rows without wall_ms)."""
    v = [_stable(r) for r in cat.read_violations(spark, sid).collect()]
    a = [(r.partition_id, r.verdict, r.n_rows, r.n_violations, r.state_json)
         for r in cat.read_audit(spark, sid).collect()]
    return _digest(v), _digest(a)


def _stores(root, name):
    return SnapshotCatalog(root, audit_root=f"{root}/_audit_{name}",
                           violations_root=f"{root}/_vstore_{name}")


def _manifest(root, sid, pids):
    os.makedirs(f"{root}/{sid}", exist_ok=True)
    with open(f"{root}/{sid}/manifest.json", "w") as f:
        json.dump({"snapshot_id": sid, "partitions": [
            {"partition_id": p, "path": f"bucket={p}", "files": [],
             "n_rows": 1} for p in pids]}, f)


def _verdict(sid, pid, verdict, wall_ms=0):
    return (sid, pid, verdict, 1, int(verdict == "fail"), wall_ms, "{}")


# --- latest wins ----------------------------------------------------------------

def test_audit_latest_verdict_wins(spark, tmp_path):
    """pass, then error: the partition is pending again; a later pass
    completes it. Each write leaves one compacted run file."""
    root = str(tmp_path)
    _manifest(root, "s", [0, 1, 2])
    cat = SnapshotCatalog(root)
    cat.append_audit([_verdict("s", 0, "pass"), _verdict("s", 1, "fail"),
                      _verdict("s", 2, "error")], "s")
    assert cat.completed_partitions(spark, "s") == [0, 1]
    assert cat.pending_partitions(spark, "s") == [2]

    cat.append_audit([_verdict("s", 0, "error"), _verdict("s", 2, "pass")],
                     "s")
    assert cat.pending_partitions(spark, "s") == [0]
    latest = {r.partition_id: r.verdict
              for r in cat.read_audit(spark, "s").collect()}
    assert latest == {0: "error", 1: "fail", 2: "pass"}

    cat.append_audit([_verdict("s", 0, "pass", wall_ms=7)], "s")
    assert cat.pending_partitions(spark, "s") == []
    rows = cat.read_audit(spark, "s").collect()
    assert [(r.partition_id, r.verdict, r.wall_ms) for r in rows] == [
        (0, "pass", 7), (1, "fail", 0), (2, "pass", 0)]
    assert all(r.snapshot_id == "s" for r in rows)
    assert sorted(os.listdir(cat._audit_dir("s"))) == [
        f"run-{3:020d}.parquet"]


def test_audit_reads_superseded_files_after_a_crash(spark, tmp_path):
    """A write killed after its rename and before its deletes leaves
    older files next to the new one; they are read as older, and the next
    write removes them."""
    root = str(tmp_path)
    _manifest(root, "s", [0, 1])
    cat = SnapshotCatalog(root)
    cat.append_audit([_verdict("s", 0, "pass"), _verdict("s", 1, "pass")],
                     "s")
    d = cat._audit_dir("s")
    first = os.path.join(d, f"run-{1:020d}.parquet")
    kept = open(first, "rb").read()
    cat.append_audit([_verdict("s", 1, "error")], "s")
    open(first, "wb").write(kept)          # the delete that never ran
    assert cat.pending_partitions(spark, "s") == [1]
    cat.append_audit([_verdict("s", 0, "fail")], "s")
    assert sorted(os.listdir(d)) == [f"run-{3:020d}.parquet"]
    assert {r.partition_id: r.verdict
            for r in cat.read_audit(spark, "s").collect()} == {
        0: "fail", 1: "error"}


def test_two_audit_writers_keep_both_verdicts(tmp_path, monkeypatch):
    """Two writers that both read the store before either publishes pick
    the same run-<seq>; the one that loses re-reads and retries, so both
    verdicts land and neither writer raises."""
    import threading

    root = str(tmp_path)
    _manifest(root, "s", [0, 1, 2])
    cat = SnapshotCatalog(root)
    cat.append_audit([_verdict("s", 0, "pass")], "s")

    read = SnapshotCatalog._latest_audit
    barrier = threading.Barrier(2, timeout=60)
    first_read = {"w1", "w2"}

    def read_then_wait(self, files):
        latest = read(self, files)
        name = threading.current_thread().name
        if name in first_read:
            first_read.discard(name)
            barrier.wait()
        return latest
    monkeypatch.setattr(SnapshotCatalog, "_latest_audit", read_then_wait)

    raised = []

    def write(pid):
        try:
            cat.append_audit([_verdict("s", pid, "pass")], "s")
        except Exception as exc:  # noqa: BLE001 — reported below
            raised.append(exc)
    threads = [threading.Thread(target=write, args=(p,), name=f"w{p}")
               for p in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert raised == []
    assert cat.completed_partitions(None, "s") == [0, 1, 2]
    assert [n for n in os.listdir(cat._audit_dir("s"))
            if not n.startswith("run-")] == []


def test_many_audit_writers_keep_every_verdict(tmp_path):
    """More writers than cores, each appending its own partition a few
    times with frequent thread switches: every verdict lands and no
    writer raises."""
    import threading

    root = str(tmp_path)
    n = 2 * (os.cpu_count() or 4)
    _manifest(root, "s", list(range(n)))
    cat = SnapshotCatalog(root)
    raised = []

    def write(pid):
        try:
            for verdict in ("error", "fail", "pass"):
                cat.append_audit([_verdict("s", pid, verdict)], "s")
        except Exception as exc:  # noqa: BLE001 — reported below
            raised.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=write, args=(p,))
                   for p in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert raised == []
    latest = cat._latest_audit(cat._audit_files(cat._audit_dir("s")))
    assert {p: row[1] for p, row in latest.items()} == {
        p: "pass" for p in range(n)}


# --- stores written by the earlier Spark writer -------------------------------------

def _spark_append_violations(violations_df, d):
    """The Spark writer of the earlier violation store (oracle)."""
    (violations_df.drop("snapshot_id")
     .repartition(1)
     .write
     .option("partitionOverwriteMode", "dynamic")
     .mode("overwrite")
     .partitionBy("partition_id")
     .parquet(d))


def _spark_append_audit(audit_df, d):
    """The Spark writer of the earlier audit store (oracle)."""
    (audit_df.drop("snapshot_id")
     .repartition(1)
     .write.mode("append").parquet(d))


@pytest.fixture(scope="module")
def drift_base(spark, catalog):
    """s1's drift baseline: s4 drifts against it, one row at partition -1."""
    r1 = validate(spark, catalog, "s1", write_audit=False)
    return baseline_from_result(r1)["sketches"]


def test_spark_written_stores_read_back(spark, fixture_root, drift_base):
    cat = _stores(fixture_root, "legacy")
    r = validate(spark, cat, "s4", resume=False, write_audit=False,
                 baseline_sketches=drift_base)
    assert r.violations.filter("partition_id = -1").count() == 1
    _spark_append_violations(r.violations, cat._violations_dir("s4"))
    _spark_append_audit(r.verdicts.filter("partition_id < 4"),
                        cat._audit_dir("s4"))
    _spark_append_audit(r.verdicts.filter("partition_id >= 4"),
                        cat._audit_dir("s4"))

    C = validate.__globals__["C"]
    want = [x.asDict() for x in r.violations.collect()]
    assert [x.asDict() for x in C.stable_order(
        cat.read_violations(spark, "s4")).collect()] == want
    assert [x.asDict() for x in C.stable_order(cat.read_violations(
        spark, "s4", partitions=[-1, 2])).collect()] == [
        x for x in want if x["partition_id"] in (-1, 2)]
    verdicts = sorted(tuple(x) for x in r.verdicts.collect())
    assert sorted(tuple(x) for x in cat.read_audit(
        spark, "s4").collect()) == verdicts
    assert cat.completed_partitions(spark, "s4") == sorted(
        x.partition_id for x in r.verdicts.collect()
        if x.verdict in ("pass", "fail"))
    assert cat.pending_partitions(spark, "s4") == []

    # the next writes compact the audit and replace partition files
    cat.append_audit(r.verdicts.filter("partition_id = 0"), "s4")
    assert [os.path.basename(f) for f in glob.glob(
        cat._audit_dir("s4") + "/*.parquet")] == [f"run-{1:020d}.parquet"]
    assert sorted(tuple(x) for x in cat.read_audit(
        spark, "s4").collect()) == verdicts
    cat.append_violations(r.violations, "s4")
    assert [x.asDict() for x in C.stable_order(
        cat.read_violations(spark, "s4")).collect()] == want
    assert all(len(os.listdir(p)) == 1 for p in glob.glob(
        cat._violations_dir("s4") + "/partition_id=*"))


# --- crash and resume ------------------------------------------------------------

def _run(spark, cat, base, **kw):
    return validate(spark, cat, "s4", baseline_sketches=base, **kw)


@pytest.fixture(scope="module")
def clean_digests(spark, fixture_root, drift_base):
    """A run over partitions 0-3, then a resumed run, with no crash."""
    cat = _stores(fixture_root, "crash_clean")
    _run(spark, cat, drift_base, partitions=[0, 1, 2, 3])
    r = _run(spark, cat, drift_base)
    assert r.partitions == [4, 5, 6, 7]
    assert r.violations.filter("partition_id = -1").count() == 1
    return _store_digests(spark, cat, "s4")


def _crash_before_violations(monkeypatch):
    def crash(self, rows, snapshot_id):
        raise Crash("before append_violations")
    monkeypatch.setattr(SnapshotCatalog, "append_violations", crash)


def _crash_before_audit(monkeypatch):
    def crash(self, *args, **kwargs):
        raise Crash("between append_violations and append_audit")
    monkeypatch.setattr(SnapshotCatalog, "append_audit", crash)


def _crash_before_audit_link(monkeypatch):
    real = os.link

    def link(src, dst, *args, **kwargs):
        if os.path.basename(dst).startswith("run-"):
            raise Crash("audit tmp written, not linked")
        return real(src, dst, *args, **kwargs)
    monkeypatch.setattr(os, "link", link)


CRASH_POINTS = {"before_violations": _crash_before_violations,
                "before_audit": _crash_before_audit,
                "mid_audit": _crash_before_audit_link}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_resume_after_crash_matches_clean_run(spark, fixture_root,
                                              drift_base, clean_digests,
                                              monkeypatch, point):
    cat = _stores(fixture_root, f"crash_{point}")
    _run(spark, cat, drift_base, partitions=[0, 1, 2, 3])
    with monkeypatch.context() as m:
        CRASH_POINTS[point](m)
        with pytest.raises(Crash):
            _run(spark, cat, drift_base)
    assert cat.pending_partitions(spark, "s4") == [4, 5, 6, 7]
    tmp = glob.glob(cat._audit_dir("s4") + "/.run-*.tmp")
    assert bool(tmp) == (point == "mid_audit")

    r = _run(spark, cat, drift_base)
    assert r.partitions == [4, 5, 6, 7]
    assert _store_digests(spark, cat, "s4") == clean_digests
    assert not glob.glob(cat._audit_dir("s4") + "/.*")


_KILL_DRIVER = """
import os, runpy, sys
from schema_inference_spark.sources.catalog import SnapshotCatalog

append_audit = SnapshotCatalog.append_audit
link = os.link


def killed_before_link(src, dst, *args, **kwargs):
    if os.path.basename(dst).startswith("run-"):
        os._exit(137)
    return link(src, dst, *args, **kwargs)


def append_audit_killed(self, *args, **kwargs):
    os.link = killed_before_link
    return append_audit(self, *args, **kwargs)


SnapshotCatalog.append_audit = append_audit_killed
sys.argv = sys.argv[1:]
runpy.run_path(sys.argv[0], run_name="__main__")
"""


def test_submit_killed_mid_audit_resumes_to_clean_stores(spark, tmp_path):
    """The deployed job killed (exit 137) after the audit tmp file is
    written and before it is linked into place; the resubmitted job
    leaves the stores a clean run leaves."""
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )
    table = generate_turns(n_conv=40, seed=11)
    roots = {}
    for name in ("clean", "killed"):
        roots[name] = str(tmp_path / name)
        write_snapshot(roots[name], "s1", table, n_buckets=4)
    clean = SnapshotCatalog(roots["clean"])
    validate(spark, clean, "s1")

    driver = tmp_path / "kill_mid_audit.py"
    driver.write_text(_KILL_DRIVER)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_IP="127.0.0.1",
               PYTHONPATH=REPO)
    submit = [os.path.join(REPO, "submit_validate.py"),
              "--root", roots["killed"], "--snapshot", "s1"]

    def run(*argv):
        return subprocess.run([sys.executable, *argv], capture_output=True,
                              text=True, cwd=REPO, env=env, timeout=420)

    killed = SnapshotCatalog(roots["killed"])
    res = run(str(driver), *submit)
    assert res.returncode == 137, res.stderr[-2000:]
    assert glob.glob(killed._audit_dir("s1") + "/.run-*.tmp")
    assert not glob.glob(killed._audit_dir("s1") + "/run-*")
    assert killed.read_violations(spark, "s1").count() > 0

    res = run(*submit)
    assert res.returncode == 1, res.stderr[-2000:]  # planted anomalies fail
    assert json.loads(res.stdout.splitlines()[-1])["partitions_validated"] == 4
    assert _store_digests(spark, killed, "s1") == _store_digests(
        spark, clean, "s1")
