"""Footer census row-group statistics (SURVEY.md §2.D1/D7): the parquet
footer's per-row-group min/max/null-count is a scan-less stats source at
100 TB — it must AGREE with the scan-path stats wherever it claims
exactness.
"""

from schema_inference_spark.operators.infer import (
    census_read_schema,
    census_stats,
    infer_snapshot,
    physical_census,
)


def _census(spark, catalog, snap):
    files = []
    for p in catalog.manifest(snap)["partitions"]:
        for fname in p["files"]:
            files.append((p["partition_id"],
                          f"{catalog.root}/{snap}/{p['path']}/{fname}"))
    return physical_census(spark, files)


def _one_partition_snapshot(root, sid, tables):
    """Write ``tables`` as the files of partition 0 of snapshot ``sid``
    (no declared write order) and return its catalog."""
    import json
    import os

    import pyarrow.parquet as pq

    from schema_inference_spark.sources.catalog import SnapshotCatalog

    os.makedirs(f"{root}/{sid}/bucket=0")
    files = [f"part-{i}.parquet" for i in range(len(tables))]
    for f, t in zip(files, tables):
        pq.write_table(t, f"{root}/{sid}/bucket=0/{f}")
    n_rows = sum(t.num_rows for t in tables)
    with open(f"{root}/{sid}/manifest.json", "w") as fh:
        json.dump({"snapshot_id": sid, "partitions": [
            {"partition_id": 0, "path": "bucket=0", "files": files,
             "n_rows": n_rows}], "n_rows": n_rows}, fh)
    return SnapshotCatalog(root)


def test_census_stats_agree_with_scan(spark, catalog):
    """count/nulls always exact; numeric + timestamp min/max exact; string
    min/max are bounds containing the scan extremes."""
    inf = infer_snapshot(spark, catalog, "s1")
    cs = census_stats(_census(spark, catalog, "s1"))
    for col, scan in inf.column_stats.items():
        c = cs[col]
        assert c["count"] == scan["count"], col
        assert c["nulls"] == scan["nulls"], col
        if col in ("turn_idx",):
            assert c["exact"] and c["min"] == scan["min"]
            assert c["max"] == scan["max"]
        if col == "ts":
            assert c["min"] == scan["min"] and c["max"] == scan["max"]
        if col in ("conv_id", "role", "text"):
            # string stats may be writer-truncated: bounds, not values
            assert c["min"] <= scan["min"]
            assert c["max"] >= scan["max"]


def test_census_stats_all_null_column(spark, catalog):
    """s3's all-NULL tool column: footer knows the null count without any
    scan; min/max stay None."""
    cs = census_stats(_census(spark, catalog, "s3"))
    tool = cs["tool"]
    assert tool["count"] == tool["nulls"] > 0
    assert tool["min"] is None and tool["max"] is None


def test_census_rg_merge_across_files(spark, tmp_path):
    """Many-files-per-partition: row-group stats aggregate across a
    partition's files (the 100TB layout)."""
    from schema_inference_spark.sources.transcripts import generate_turns

    table = generate_turns(n_conv=20, seed=11)
    half = table.num_rows // 2
    cat = _one_partition_snapshot(str(tmp_path), "c1", [
        table.slice(0, half), table.slice(half)])
    cs = census_stats(_census(spark, cat, "c1"))
    assert cs["turn_idx"]["count"] == table.num_rows
    import pyarrow.compute as pc
    assert cs["turn_idx"]["min"] == pc.min(table["turn_idx"]).as_py()
    assert cs["turn_idx"]["max"] == pc.max(table["turn_idx"]).as_py()


def test_census_read_schema_is_the_inferred_one(spark, catalog):
    """The read schema built from the footer census is the schema Spark's
    mergeSchema read infers, column order included: per partition of s2
    (turn_idx int32 in all but partition 2, double there) and per snapshot
    of the others."""
    for snap in ("s1", "s2", "s3", "s4"):
        census = _census(spark, catalog, snap)
        pids = catalog.partition_ids(snap)
        for group in ([[p] for p in pids] if snap == "s2" else [pids]):
            assert census_read_schema(census, group) == \
                catalog.read_snapshot(spark, snap, group).schema, (snap, group)
    # partitions that disagree on a type have no one read schema
    census = _census(spark, catalog, "s2")
    assert census_read_schema(census, pids) is None


def test_census_read_schema_falls_back_on_mixed_files(spark, tmp_path):
    """A partition whose files disagree on a column's arrow type (string
    in one file, large_string in the other) gets no census schema, so the
    read merges the footers and still scans both files."""
    import pyarrow as pa

    from schema_inference_spark.operators.infer import read_snapshot_tolerant

    cat = _one_partition_snapshot(str(tmp_path), "m", [
        pa.table({"conv_id": pa.array([f"c{i}"], t), "turn_idx": [i]})
        for i, t in enumerate((pa.string(), pa.large_string()))])
    census = _census(spark, cat, "m")
    assert census_read_schema(census, [0]) is None
    df = read_snapshot_tolerant(spark, cat, "m", [0], census)
    assert sorted(tuple(r) for r in df.collect()) == [
        ("c0", 0, 0), ("c1", 1, 0)]


def test_census_phys_of_a_two_file_partition(spark, tmp_path):
    """A column's census ``phys`` is a list of arrow type strings merged
    across a partition's files, so a type whose string holds a comma
    (``timestamp[us, tz=UTC]``) survives the merge, and the partition
    state validate() stores for a two-file partition equals that of the
    same rows in one file."""
    import json

    from schema_inference_spark.pipeline import validate
    from schema_inference_spark.sources.transcripts import generate_turns

    table = generate_turns(n_conv=20, seed=11)
    assert str(table.schema.field("ts").type) == "timestamp[us, tz=UTC]"
    half = table.num_rows // 2
    _one_partition_snapshot(str(tmp_path), "one", [table])
    cat = _one_partition_snapshot(str(tmp_path), "two", [
        table.slice(0, half), table.slice(half)])
    assert _census(spark, cat, "two")[0]["ts"]["phys"] == [
        "timestamp[us, tz=UTC]"]

    def state_json(sid):
        r = validate(spark, cat, sid, write_audit=False)
        return [v.state_json for v in r.verdicts.collect()]

    one, two = state_json("one"), state_json("two")
    assert json.loads(two[0])["ts"]["phys"] == ["timestamp[us, tz=UTC]"]
    assert two == one
