"""The deployment entry point (submit_validate.py) end-to-end, as a
subprocess — the same process shape as `spark-submit` local mode (the
module runs its own session and stops it, so it must NOT share the test
session). Asserts the north-rule deployment contract: data errors are
verdicts (exit 1, never an exception), the metrics JSON self-reports
engine wall + throughput, an idempotent rerun resumes off the audit
table and exits 0 with nothing pending, and an unreadable partition keeps
every run at exit 1."""
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_IP="127.0.0.1")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "submit_validate.py")] + args,
        capture_output=True, text=True, cwd=REPO, env=env, timeout=420)
    line = next((ln for ln in res.stdout.splitlines()
                 if ln.startswith("{")), None)
    return res.returncode, (json.loads(line) if line else None), res


@pytest.fixture(scope="module")
def submit_root(tmp_path_factory):
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )
    root = str(tmp_path_factory.mktemp("submit_cat"))
    table = generate_turns(n_conv=40, seed=11)
    write_snapshot(root, "s1", table, n_buckets=4)
    return root, int(table.num_rows)


def test_submit_validate_verdict_exit_and_metrics(submit_root, tmp_path):
    root, n_turns = submit_root
    rc, out, res = _run(["--root", root, "--snapshot", "s1",
                         "--violations-out", str(tmp_path / "viol")])
    # generate_turns plants violations -> failing partitions -> exit 1,
    # reached normally (a traceback would surface as a different rc and
    # no JSON line)
    assert rc == 1, res.stderr[-2000:]
    assert out["partitions_validated"] == 4
    assert out["partitions_failed"] >= 1
    assert out["turns"] == n_turns
    assert out["wall_sec_validate"] > 0
    assert out["turns_per_sec"] == pytest.approx(
        n_turns / out["wall_sec_validate"], rel=0.01)
    assert out["schema"]["conv_id"] == {"type": "string"}
    # the external sink materialized
    files = [f for _, _, fs in os.walk(tmp_path / "viol") for f in fs
             if f.endswith(".parquet")]
    assert files


def test_submit_validate_idempotent_rerun_resumes(submit_root):
    root, _ = submit_root
    # first run (above) wrote the audit table; a rerun with resume ON
    # finds nothing pending and exits 0 — the "interrupted jobs resume
    # without rescanning validated partitions" clause at the entry point
    rc, out, res = _run(["--root", root, "--snapshot", "s1"])
    assert rc == 0, res.stderr[-2000:]
    assert out["already_complete"] is True
    assert out["partitions_validated"] == 0
    assert out["turns"] == 0


def test_submit_unreadable_partition_exits_1_on_every_run(tmp_path):
    """A partition whose parquet footer is unreadable gets verdict
    'error' and stays pending: the run and every resubmit until it is
    repaired exit 1, count it in ``partitions_errored`` and do not report
    the snapshot complete."""
    import glob

    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )
    root = str(tmp_path / "cat")
    write_snapshot(root, "s1", generate_turns(n_conv=40, seed=11),
                   n_buckets=4)
    (path,) = glob.glob(f"{root}/s1/bucket=2/*.parquet")
    size = os.path.getsize(path)
    with open(path, "r+b") as f:        # zero the footer and its magic
        f.seek(size - 64)
        f.write(b"\0" * 64)
    args = ["--root", root, "--snapshot", "s1",
            "--audit", str(tmp_path / "audit")]
    for run in ("first", "resubmit"):
        rc, out, res = _run(args)
        assert rc == 1, (run, res.stderr[-2000:])
        assert out["partitions_errored"] == 1, run
        assert out["already_complete"] is False, run
    assert out["partitions_validated"] == 0


def test_submit_snapshot_level_failure_is_not_a_partition(spark, tmp_path):
    """A snapshot that drifts against its baseline fails at the snapshot
    level (verdict partition -1): the job reports ``snapshot_failed`` and
    exits 1, and ``partitions_failed`` counts validated partitions only.
    A resubmit with nothing pending reports no failure of its own (the
    stored -1 verdict belongs to the first run) and exits 0."""
    from schema_inference_spark.pipeline import baseline_from_result, validate
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )
    base_root, root = str(tmp_path / "base"), str(tmp_path / "cat")
    write_snapshot(base_root, "s0", generate_turns(n_conv=40, seed=11),
                   n_buckets=4)
    write_snapshot(root, "s1", generate_turns(n_conv=40, seed=11,
                                              text_len_scale=1.6),
                   n_buckets=4)
    r0 = validate(spark, SnapshotCatalog(base_root), "s0", write_audit=False)
    baseline = tmp_path / "baseline.json"
    baseline.write_text(json.dumps({
        c: b.hex() if b else None
        for c, b in baseline_from_result(r0)["sketches"].items()}))
    args = ["--root", root, "--snapshot", "s1",
            "--audit", str(tmp_path / "audit"), "--baseline", str(baseline)]
    rc, out, res = _run(args)
    assert rc == 1, res.stderr[-2000:]
    assert out["snapshot_failed"] is True
    assert out["partitions_validated"] == 4
    assert out["partitions_failed"] <= out["partitions_validated"]

    rc, out, res = _run(args)
    assert rc == 0, res.stderr[-2000:]
    assert out["snapshot_failed"] is False
    assert out["already_complete"] is True


def test_submit_replica_mode(submit_root, tmp_path):
    """--replica-of runs the replica-verification job: a faithful copy
    exits 0 with zero violations; a copy with one corrupted turn exits
    1 and its metrics JSON counts it."""
    import pyarrow as pa

    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )
    root, _ = submit_root
    table = generate_turns(n_conv=40, seed=11)
    write_snapshot(root, "s1copy", table, n_buckets=4)    # faithful copy

    pdf = table.to_pandas()
    bad = (pdf.conv_id == "c000004") & (pdf.turn_idx == 2)
    assert bad.sum() == 1
    pdf.loc[bad, "text"] = "tampered"
    write_snapshot(root, "s1bad",
                   pa.Table.from_pandas(pdf, schema=table.schema,
                                        preserve_index=False), n_buckets=4)

    rc, out, res = _run(["--root", root, "--snapshot", "s1copy",
                         "--replica-of", "s1"])
    assert rc == 0, res.stderr[-2000:]
    assert out["n_violations"] == 0 and out["replica_of"] == "s1"
    assert out["turns_per_sec"] > 0

    rc, out, res = _run(["--root", root, "--snapshot", "s1bad",
                         "--replica-of", "s1",
                         "--violations-out", str(tmp_path / "rviol")])
    assert rc == 1, res.stderr[-2000:]
    assert out["n_violations"] == 1
    files = [f for _, _, fs in os.walk(tmp_path / "rviol") for f in fs
             if f.endswith(".parquet")]
    assert files
