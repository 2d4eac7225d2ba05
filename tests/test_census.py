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
    import json
    import os

    import pyarrow.parquet as pq

    from schema_inference_spark.sources.catalog import SnapshotCatalog
    from schema_inference_spark.sources.transcripts import generate_turns

    root = str(tmp_path)
    table = generate_turns(n_conv=20, seed=11)
    snap = f"{root}/c1"
    os.makedirs(f"{snap}/bucket=0", exist_ok=True)
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), f"{snap}/bucket=0/part-0.parquet")
    pq.write_table(table.slice(half), f"{snap}/bucket=0/part-1.parquet")
    with open(f"{snap}/manifest.json", "w") as f:
        json.dump({"snapshot_id": "c1", "partitions": [
            {"partition_id": 0, "path": "bucket=0",
             "files": ["part-0.parquet", "part-1.parquet"],
             "n_rows": table.num_rows}], "n_rows": table.num_rows}, f)
    cat = SnapshotCatalog(root)
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
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from schema_inference_spark.operators.infer import read_snapshot_tolerant
    from schema_inference_spark.sources.catalog import SnapshotCatalog

    root = str(tmp_path)
    os.makedirs(f"{root}/m/bucket=0")
    for i, t in enumerate((pa.string(), pa.large_string())):
        pq.write_table(pa.table({"conv_id": pa.array([f"c{i}"], t),
                                 "turn_idx": [i]}),
                       f"{root}/m/bucket=0/part-{i}.parquet")
    with open(f"{root}/m/manifest.json", "w") as f:
        json.dump({"snapshot_id": "m", "partitions": [
            {"partition_id": 0, "path": "bucket=0",
             "files": ["part-0.parquet", "part-1.parquet"], "n_rows": 2}]},
            f)
    cat = SnapshotCatalog(root)
    census = _census(spark, cat, "m")
    assert census_read_schema(census, [0]) is None
    df = read_snapshot_tolerant(spark, cat, "m", [0], census)
    assert sorted(tuple(r) for r in df.collect()) == [
        ("c0", 0, 0), ("c1", 1, 0)]
