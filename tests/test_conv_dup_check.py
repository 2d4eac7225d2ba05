"""check_conv_dup (operators/checks.py): whole-conversation duplicate
members as pipeline violation rows, and the validate(conv_dedup=True)
opt-in. The signature fold (conv_sigs) is checked against a hashlib
model in tests/test_conversations.py; this file covers the
violation-store shape and the planted end-to-end path."""

import datetime as dt
import json

import pyarrow as pa
from pyspark.sql import functions as F

from schema_inference_spark.operators.checks import check_conv_dup


def _turn(bucket, conv, idx, role, text):
    return (bucket, conv, idx, role, text,
            dt.datetime(2026, 1, 1) + dt.timedelta(seconds=idx))


def test_check_conv_dup_shape_and_role_sensitivity(spark):
    rows = [
        _turn(0, "a", 0, "user", "hi"),
        _turn(0, "a", 1, "assistant", "yo"),
        _turn(0, "b", 0, "user", "hi"),          # b duplicates a
        _turn(0, "b", 1, "assistant", "yo"),
        _turn(1, "c", 0, "system", "hi"),        # same texts, different
        _turn(1, "c", 1, "assistant", "yo"),     # role -> NOT a dup
    ]
    df = spark.createDataFrame(
        rows, "bucket int, conv_id string, turn_idx int, "
              "role string, text string, ts timestamp")
    out = check_conv_dup(df, "snap").collect()
    assert len(out) == 1
    (v,) = out
    assert (v.check_id, v.conv_id, v.partition_id, v.turn_idx) == \
        ("conv_dup", "b", 0, 2)
    payload = json.loads(v.payload)
    assert payload["canonical_id"] == "a" and payload["n_convs"] == 2


def test_pipeline_conv_dedup_optin(spark, tmp_path):
    """Planted whole-conversation dups in a real snapshot: two existing
    conversations re-ingested under new conv_ids must surface as
    conv_dup violations naming their canonicals; the canonicals never
    self-report; a re-run without the flag emits no conv_dup rows."""
    from schema_inference_spark.pipeline import validate
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )

    table = generate_turns(n_conv=40, seed=7)
    pdf = table.to_pandas()
    dup = {"c000003": "zdup0003", "c000010": "zdup0010"}
    planted = pdf[pdf.conv_id.isin(dup)].copy()
    planted["conv_id"] = planted["conv_id"].map(dup)
    merged = pa.Table.from_pandas(
        __import__("pandas").concat([pdf, planted], ignore_index=True),
        schema=table.schema, preserve_index=False)
    root = str(tmp_path / "snap")
    write_snapshot(root, "s1", merged, n_buckets=4)
    cat = SnapshotCatalog(root)

    res = validate(spark, cat, "s1", conv_dedup=True,
                   resume=False, write_audit=False)
    v = res.violations.filter("check_id = 'conv_dup'").collect()
    got = {r.conv_id: json.loads(r.payload)["canonical_id"] for r in v}
    assert got == {"zdup0003": "c000003", "zdup0010": "c000010"}

    res_off = validate(spark, cat, "s1",
                       resume=False, write_audit=False)
    assert res_off.violations.filter("check_id = 'conv_dup'").count() == 0


def test_validate_replica_localizes_planted_divergence(spark, tmp_path):
    """validate_replica: a migrated copy with one corrupted turn, one
    lost turn, and one fabricated turn yields exactly three violation
    rows with the right check_ids, keys, and digests."""
    import pandas as pd

    from schema_inference_spark.pipeline import validate_replica
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )

    table = generate_turns(n_conv=30, seed=11)
    root = str(tmp_path / "snap")
    write_snapshot(root, "ref", table, n_buckets=4)

    pdf = table.to_pandas()
    # the candidate copy: corrupt c000005 turn 1, lose c000008 turn 0,
    # fabricate a turn the reference never had (c000002, turn 999)
    mut = (pdf.conv_id == "c000005") & (pdf.turn_idx == 1)
    assert mut.sum() == 1
    pdf.loc[mut, "text"] = pdf.loc[mut, "text"] + " CORRUPTED"
    pdf = pdf[~((pdf.conv_id == "c000008") & (pdf.turn_idx == 0))]
    extra = pdf[(pdf.conv_id == "c000002") & (pdf.turn_idx == 0)].copy()
    extra["turn_idx"] = 999
    pdf = pd.concat([pdf, extra], ignore_index=True)
    copy_table = pa.Table.from_pandas(pdf, schema=table.schema,
                                      preserve_index=False)
    write_snapshot(root, "copy", copy_table, n_buckets=4)

    cat = SnapshotCatalog(root)
    v = validate_replica(spark, cat, "copy", "ref").collect()
    got = {(r.check_id, r.conv_id, r.turn_idx) for r in v}
    assert got == {
        ("replica_text_mismatch", "c000005", 1),
        ("replica_missing_turn", "c000008", 0),
        ("replica_extra_turn", "c000002", 999),
    }
    # digests present on both sides only for the mismatch row
    by_check = {r.check_id: r for r in v}
    mm = json.loads(by_check["replica_text_mismatch"].payload)
    assert mm["copy_md5"] and mm["reference_md5"] \
        and mm["copy_md5"] != mm["reference_md5"]
    # to_json drops NULL fields: the lost turn has no copy-side digest
    assert json.loads(
        by_check["replica_missing_turn"].payload).get("copy_md5") is None


def test_conv_dedup_detects_cross_partition_dup_on_subset_run(spark, tmp_path):
    """The check is cross-partition (dup members hash to different
    buckets): a run validating ONLY the member's partition must still
    detect the dup against the unread canonical's bucket — signatures
    fold over the FULL corpus — while emitting rows only for pending
    partitions (so the store's per-partition overwrite never touches
    completed partitions' rows)."""
    import pandas as pd

    from schema_inference_spark.pipeline import validate
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )

    table = generate_turns(n_conv=40, seed=7)
    pdf = table.to_pandas()
    planted = pdf[pdf.conv_id == "c000003"].copy()
    planted["conv_id"] = "zdup0003"
    merged = pa.Table.from_pandas(
        pd.concat([pdf, planted], ignore_index=True),
        schema=table.schema, preserve_index=False)
    root = str(tmp_path / "snap")
    write_snapshot(root, "s1", merged, n_buckets=4)
    cat = SnapshotCatalog(root)

    # locate the two members' buckets; the planting is only meaningful
    # for this test if they differ (hash("c000003") != hash("zdup0003"))
    full = cat.read_snapshot(spark, "s1")
    buckets = {r.conv_id: r.bucket for r in
               full.filter(F.col("conv_id").isin("c000003", "zdup0003"))
               .select("conv_id", "bucket").distinct().collect()}
    assert buckets["c000003"] != buckets["zdup0003"]

    member_bucket = buckets["zdup0003"]
    res = validate(spark, cat, "s1", conv_dedup=True, resume=False,
                   write_audit=False, partitions=[member_bucket])
    v = res.violations.filter("check_id = 'conv_dup'").collect()
    assert {r.conv_id for r in v} == {"zdup0003"}
    assert {r.partition_id for r in v} == {member_bucket}

    # the canonical's bucket alone emits nothing (its member is the
    # canonical — never reported), even though the dup spans into it
    res2 = validate(spark, cat, "s1", conv_dedup=True, resume=False,
                    write_audit=False,
                    partitions=[buckets["c000003"]])
    assert res2.violations.filter("check_id = 'conv_dup'").count() == 0


def test_conv_sig_index_version_guard(spark):
    """A persisted index built under a different signature fold must
    fail LOUDLY at probe time: silence would admit every duplicate as
    novel (the index matches nothing)."""
    import pytest as _pytest

    from schema_inference_spark.operators.conversations import (
        build_conv_sig_index,
        conv_dup_against_index,
        conv_sigs,
    )
    df = spark.createDataFrame(
        [("a", 0, "x", dt.datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, text string, ts timestamp")
    args = dict(key_col="conv_id", ts_col="ts", text_col="text",
                tiebreak_col="turn_idx")
    sigs = conv_sigs(df, **args)
    ok = build_conv_sig_index(sigs)
    assert conv_dup_against_index(sigs, ok).count() == 0  # version match

    legacy = ok.drop("sig_v")            # pre-marker index: treated as v1
    with _pytest.raises(ValueError, match="signature-fold version"):
        conv_dup_against_index(sigs, legacy)
    v1 = build_conv_sig_index(sigs, sig_version=1)
    with _pytest.raises(ValueError, match="signature-fold version"):
        conv_dup_against_index(sigs, v1)
    # both sides explicitly v1 (raw-text fold) is a valid pairing
    assert conv_dup_against_index(sigs, v1, sig_version=1).count() == 0


def test_validate_replica_store_isolated_from_validate_store(spark, tmp_path):
    """write_violations=True persists to a (snapshot, reference)-keyed
    store of its own: it must never wipe validate()'s persisted
    violations for partitions where the replica run has findings."""
    import pandas as pd

    from schema_inference_spark.pipeline import validate, validate_replica
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )

    table = generate_turns(n_conv=40, seed=11)
    root = str(tmp_path / "snap")
    write_snapshot(root, "ref", table, n_buckets=4)
    pdf = table.to_pandas()
    bad = (pdf.conv_id == "c000004") & (pdf.turn_idx == 2)
    pdf.loc[bad, "text"] = "tampered"
    write_snapshot(root, "copy",
                   pa.Table.from_pandas(pdf, schema=table.schema,
                                        preserve_index=False), n_buckets=4)
    cat = SnapshotCatalog(root)

    res = validate(spark, cat, "copy", resume=False)  # persists its store
    before = {(r.check_id, r.conv_id, r.turn_idx)
              for r in cat.read_violations(spark, "copy").collect()}
    assert before  # generate_turns plants violations

    rv = validate_replica(spark, cat, "copy", "ref",
                          write_violations=True).collect()
    assert {r.check_id for r in rv} == {"replica_text_mismatch"}
    assert all(r.snapshot_id == "copy" for r in rv)

    after = {(r.check_id, r.conv_id, r.turn_idx)
             for r in cat.read_violations(spark, "copy").collect()}
    assert after == before  # validate()'s store untouched


def test_conv_near_dedup_detects_planted_rerollout(spark, tmp_path):
    """validate(conv_near_dedup=...) flags a conversation that is a
    near-copy of an earlier one (verbatim except a divergent final
    turn) — the re-rollout conv_dedup's exact-signature check cannot
    see — with the same cross-partition subset-run contract."""
    import pandas as pd

    from schema_inference_spark.pipeline import validate
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )

    table = generate_turns(n_conv=40, seed=13)
    pdf = table.to_pandas()
    planted = pdf[pdf.conv_id == "c000003"].copy()
    planted["conv_id"] = "znear03a"
    last = planted.turn_idx == planted.turn_idx.max()
    planted.loc[last, "text"] = "totally divergent rerollout tail here"
    merged = pa.Table.from_pandas(
        pd.concat([pdf, planted], ignore_index=True),
        schema=table.schema, preserve_index=False)
    root = str(tmp_path / "snap")
    write_snapshot(root, "s1", merged, n_buckets=4)
    cat = SnapshotCatalog(root)

    res = validate(spark, cat, "s1", conv_near_dedup=0.5, resume=False,
                   write_audit=False)
    v = res.violations.filter("check_id = 'conv_near_dup'").collect()
    assert {r.conv_id for r in v} == {"znear03a"}
    info = json.loads(v[0].payload)
    assert info["matched_id"] == "c000003"
    assert 0.5 <= info["jaccard"] < 1.0   # near, not exact
    # invisible to the exact check
    res2 = validate(spark, cat, "s1", conv_dedup=True, resume=False,
                    write_audit=False)
    assert res2.violations.filter(
        "check_id = 'conv_dup' and conv_id = 'znear03a'").count() == 0

    # cross-partition subset run: validating only the member's bucket
    # still detects it against the unread canonical's bucket
    full = cat.read_snapshot(spark, "s1")
    buckets = {r.conv_id: r.bucket for r in
               full.filter(F.col("conv_id").isin("c000003", "znear03a"))
               .select("conv_id", "bucket").distinct().collect()}
    assert buckets["c000003"] != buckets["znear03a"]
    res3 = validate(spark, cat, "s1", conv_near_dedup=0.5, resume=False,
                    write_audit=False,
                    partitions=[buckets["znear03a"]])
    v3 = res3.violations.filter("check_id = 'conv_near_dup'").collect()
    assert {r.conv_id for r in v3} == {"znear03a"}
    assert {r.partition_id for r in v3} == {buckets["znear03a"]}
    # the canonical's bucket alone emits nothing (earliest never reports)
    res4 = validate(spark, cat, "s1", conv_near_dedup=0.5, resume=False,
                    write_audit=False, partitions=[buckets["c000003"]])
    assert res4.violations.filter(
        "check_id = 'conv_near_dup'").count() == 0


def test_validate_replica_subset_rerun_clears_repaired_partition(spark,
                                                                 tmp_path):
    """A partitions= subset re-run is a true per-partition REPLACE:
    after the replica is repaired in place, the same subset run must
    read back ZERO rows for that partition — dynamic partition
    overwrite alone would leave the stale divergence rows (nothing is
    written for a clean partition) and report the repaired replica as
    still divergent."""
    import shutil

    from schema_inference_spark.pipeline import validate_replica
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )

    table = generate_turns(n_conv=24, seed=7)
    root = str(tmp_path / "snap")
    write_snapshot(root, "ref", table, n_buckets=4)

    pdf = table.to_pandas()
    mut = (pdf.conv_id == "c000004") & (pdf.turn_idx == 1)
    assert mut.sum() == 1
    pdf.loc[mut, "text"] = pdf.loc[mut, "text"] + " CORRUPTED"
    bad = pa.Table.from_pandas(pdf, schema=table.schema,
                               preserve_index=False)
    write_snapshot(root, "copy", bad, n_buckets=4)
    cat = SnapshotCatalog(root)

    first = validate_replica(spark, cat, "copy", "ref",
                             write_violations=True).collect()
    assert {(r.check_id, r.conv_id) for r in first} \
        == {("replica_text_mismatch", "c000004")}
    bucket = first[0].partition_id

    # repair the copy IN PLACE (re-migrate the same snapshot id)
    shutil.rmtree(str(tmp_path / "snap" / "copy"))
    write_snapshot(root, "copy", table, n_buckets=4)
    again = validate_replica(spark, cat, "copy", "ref",
                             partitions=[bucket],
                             write_violations=True).collect()
    assert again == []
    # and the persisted store agrees (the stale rows were cleared)
    assert cat.read_violations(
        spark, "copy--replica--ref").count() == 0


def test_check_conv_near_dup_whale_cap_prefix_semantics(spark):
    """The max_turns whale guard compares PREFIXES: a pair identical
    through the cap but divergent beyond it reports as a near-dup
    (jaccard ~1.0) under the cap, while the uncapped check sees the
    divergence — and the cap is a map-side turn_idx filter, so the
    whale's tail never reaches the fold's exchange."""
    from schema_inference_spark.operators.checks import check_conv_near_dup

    shared = [(0, "a", i, "user", f"common words alpha beta tok{i} gamma")
              for i in range(20)]
    tail = [(0, "b", i, "user",
             f"entirely different divergent content piece{i} here")
            for i in range(20, 120)]
    a = [(0, "a", i, ro, t) for (_, _, i, ro, t) in shared]
    b = ([(1, "b", i, ro, t) for (_, _, i, ro, t) in shared]
         + [(1, "b", i, ro, t) for (_, _, i, ro, t) in tail])
    df = spark.createDataFrame(
        [(bk, cv, ix, ro, tx,
          dt.datetime(2026, 1, 1) + dt.timedelta(seconds=ix))
         for (bk, cv, ix, ro, tx) in a + b],
        "bucket int, conv_id string, turn_idx int, role string, "
        "text string, ts timestamp")

    capped = check_conv_near_dup(df, "s", threshold=0.5,
                                 max_turns=20).collect()
    assert {r.conv_id for r in capped} == {"b"}
    info = json.loads(capped[0].payload)
    assert info["matched_id"] == "a" and info["jaccard"] >= 0.99
    # turn_idx reports the COMPARED prefix's turn count
    assert capped[0].turn_idx == 20

    # uncapped: the 100 divergent turns dilute jaccard below threshold
    assert check_conv_near_dup(df, "s", threshold=0.5,
                               max_turns=None).count() == 0


def test_validate_conv_near_dedup_max_turns_plumbs_through(spark, tmp_path):
    """validate(conv_near_dedup_max_turns=...) reaches the check: a
    pair identical through the cap but divergent beyond it flags under
    a small cap and does NOT flag uncapped (<=0 disables the guard)."""
    import pandas as pd

    from schema_inference_spark.pipeline import validate
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )

    base = dt.datetime(2026, 1, 1)
    rows = []
    for conv in ("a", "b"):
        for i in range(20):
            rows.append((conv, i, "user",
                         f"common words alpha beta tok{i} gamma",
                         None, base + dt.timedelta(seconds=i)))
    for i in range(20, 120):  # b's divergent tail
        rows.append(("b", i, "user",
                     f"entirely different divergent content piece{i}",
                     None, base + dt.timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    schema = generate_turns(n_conv=1, seed=1).schema
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    root = str(tmp_path / "snap")
    write_snapshot(root, "s1", table, n_buckets=2)
    cat = SnapshotCatalog(root)

    capped = validate(spark, cat, "s1", conv_near_dedup=0.5,
                      conv_near_dedup_max_turns=20,
                      resume=False, write_audit=False)
    assert {r.conv_id for r in capped.violations.filter(
        "check_id = 'conv_near_dup'").collect()} == {"b"}
    uncapped = validate(spark, cat, "s1", conv_near_dedup=0.5,
                        conv_near_dedup_max_turns=0,
                        resume=False, write_audit=False)
    assert uncapped.violations.filter(
        "check_id = 'conv_near_dup'").count() == 0
