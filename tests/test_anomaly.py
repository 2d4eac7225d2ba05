"""Anomaly/change family (operators/anomaly.py): unit semantics on
constructed frames and plan-shape regressions."""

import datetime

from pyspark.sql import functions as F

from schema_inference_spark.operators import anomaly as A


# ---------------------------------------------------------------------------
# outlier_fences
# ---------------------------------------------------------------------------

def test_outlier_fences_counts(spark):
    # 1..8 plus two far outliers; q1=2.75, q3=7.25 over the 10 values
    vals = list(range(1, 9)) + [-100, 1000]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    row = A.outlier_fences(df, ["x"], k=1.5).collect()[0]
    assert row.col_name == "x"
    assert row.n_rows == 10
    # sorted: -100,1..8,1000 -> q1 = 2.25, q3 = 6.75, iqr = 4.5
    assert (row.q1, row.q3) == (2.25, 6.75)
    assert (row.lo, row.hi) == (-4.5, 13.5)
    assert (row.n_below, row.n_above) == (1, 1)


def test_outlier_fences_null_and_multi(spark):
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, None), (3.0, 30.0), (None, 40.0)],
        "a double, b double")
    out = {r.col_name: r for r in A.outlier_fences(df, ["a", "b"]).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"].n_rows == 3 and out["b"].n_rows == 3
    assert out["a"].n_below == 0 and out["a"].n_above == 0


def test_outlier_fences_no_collect_in_plan(spark):
    """The fence scalars ride a broadcast join, not a driver collect:
    the whole operator is ONE plan (and the fence side shows up as a
    broadcast nested-loop join of the 1-row aggregate)."""
    df = spark.range(100).select(F.col("id").cast("double").alias("x"))
    plan = A.outlier_fences(df, ["x"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


# ---------------------------------------------------------------------------
# volume_anomaly
# ---------------------------------------------------------------------------

def _day_rows(day_counts):
    rows = []
    for day, n in day_counts.items():
        for i in range(n):
            rows.append((datetime.datetime(2024, 3, day, 12,
                                           (i // 60) % 60, i % 60),))
    return rows


def test_volume_anomaly_verdicts(spark):
    # days 1-5 at 100 rows, day 3 absent, day 4 thin, day 5 heavy
    counts = {1: 100, 2: 100, 4: 10, 5: 300, 6: 100}
    df = spark.createDataFrame(_day_rows(counts), "ts timestamp")
    out = {r.day: r for r in A.volume_anomaly(df, "ts").collect()}
    # calendar densified: day 3 exists with zero rows
    assert len(out) == 6
    assert out["2024-03-03"].verdict == "missing"
    assert out["2024-03-03"].n_rows == 0
    assert out["2024-03-04"].verdict == "low"
    assert out["2024-03-05"].verdict == "high"
    assert out["2024-03-01"].verdict == "ok"
    # median over observed (nonzero) days: 100, 100, 10, 300, 100 -> 100
    assert out["2024-03-01"].median_n == 100.0
    assert out["2024-03-04"].ratio_bp == 1000


def test_volume_anomaly_single_scan(spark, tmp_path):
    """One corpus scan: both downstream subtrees (calendar/median and
    the join) read the persisted |days|-row counts frame instead of
    re-scanning the files."""
    p = str(tmp_path / "va.parquet")
    spark.createDataFrame(_day_rows({1: 5, 2: 7}), "ts timestamp") \
        .write.parquet(p)
    df = A.volume_anomaly(spark.read.parquet(p), "ts")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both consumer subtrees read the cached counts (the FileScan text
    # inside InMemoryRelation's stored plan is representation, not an
    # executed node — the corpus is scanned once to build the cache)
    assert plan.count("InMemoryTableScan") >= 2


# ---------------------------------------------------------------------------
# key_skew_profile
# ---------------------------------------------------------------------------

def test_key_skew_ranks_and_ties(spark):
    rows = [("hot",)] * 6 + [("b",)] * 2 + [("a",)] * 2
    df = spark.createDataFrame(rows, "k string")
    out = A.key_skew_profile(df, "k", top_k=2).collect()
    assert [(r.rank, r.key, r.n_rows) for r in out] == \
        [(1, "hot", 6), (2, "a", 2)]  # tie a/b breaks by key asc
    assert out[0].share_bp == 6000


def test_key_skew_top_k_plan(spark, tmp_path):
    """Top-k compiles to TakeOrderedAndProject, never a global sort."""
    p = str(tmp_path / "ks.parquet")
    spark.range(1000).select((F.col("id") % 37).alias("k")) \
        .write.parquet(p)
    plan = A.key_skew_profile(spark.read.parquet(p), "k", top_k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# snapshot_row_diff
# ---------------------------------------------------------------------------

def test_snapshot_row_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "h1"), (2, "h2"), (3, "h3")], "id bigint, row_hash string")
    new = spark.createDataFrame(
        [(2, "h2"), (3, "HX"), (4, "h4")], "id bigint, row_hash string")
    out = {r.id: r.status for r in
           A.snapshot_row_diff(old, new, ["id"]).collect()}
    assert out == {1: "removed", 3: "changed", 4: "added"}


def test_snapshot_row_diff_identical_is_empty(spark):
    df = spark.range(50).select("id", F.md5(F.col("id").cast("string"))
                                .alias("row_hash"))
    assert A.snapshot_row_diff(df, df, ["id"]).count() == 0


def test_row_hash_null_sentinel(spark):
    """NULL cannot alias a neighbor under concat_ws's null-skipping."""
    df = spark.createDataFrame([("a", None), (None, "a")],
                               "x string, y string")
    hashes = [r[0] for r in df.select(A.row_hash_col(["x", "y"])).collect()]
    assert hashes[0] != hashes[1]


# ---------------------------------------------------------------------------
# reconcile_checksum
# ---------------------------------------------------------------------------

def test_reconcile_identical_content_different_layout(spark):
    """Repartitioned/reordered copies are checksum-identical: the
    operator must be blind to layout, order, and partition count."""
    from schema_inference_spark.operators.anomaly import reconcile_checksum
    left = spark.createDataFrame(
        [(i, f"v{i % 7}") for i in range(500)], "id bigint, v string")
    right = left.orderBy(F.desc("id")).repartition(13)
    assert reconcile_checksum(left, right, ["id", "v"]).count() == 0


def test_reconcile_detects_one_lost_and_one_altered_row(spark):
    from schema_inference_spark.operators.anomaly import reconcile_checksum
    left = spark.createDataFrame(
        [(i, f"v{i}") for i in range(300)], "id bigint, v string")
    # right loses id=7 and alters id=11's payload
    right = (left.filter("id <> 7")
             .withColumn("v", F.when(F.col("id") == 11, F.lit("CORRUPT"))
                         .otherwise(F.col("v"))))
    bad = reconcile_checksum(left, right, ["id", "v"]).collect()
    # deterministic md5 geometry: the lost row's bucket drops one; the
    # altered row MOVES buckets (old bucket -1, new bucket +1) — three
    # disagreeing buckets, net count delta exactly the one lost row
    assert len(bad) == 3
    assert sum(r.n_left - r.n_right for r in bad) == 1
    assert all(r.n_left != r.n_right or r.sum_left != r.sum_right
               for r in bad)


def test_reconcile_empty_side_buckets_coalesce(spark):
    from schema_inference_spark.operators.anomaly import reconcile_checksum
    left = spark.createDataFrame([(1, "a")], "id bigint, v string")
    right = left.filter("false")
    rows = reconcile_checksum(left, right, ["id", "v"]).collect()
    assert len(rows) == 1
    assert rows[0].n_right == 0 and int(rows[0].sum_right) == 0
    assert rows[0].n_left == 1 and int(rows[0].sum_left) > 0
