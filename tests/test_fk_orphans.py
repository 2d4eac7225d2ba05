"""fk_orphans (operators/checks.py): large-dimension FK orphan check —
unit semantics (incl. NULL keys), aggregation-sized output, and the
shuffle anti-join plan shape with broadcast disabled. The driver
query's oracle gate runs in tests/test_driver_queries.py."""

from pyspark.sql import functions as F

from schema_inference_spark.operators.checks import fk_orphans


def test_orphan_groups_and_null_keys(spark):
    fact = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,), (None,), (None,)],
        "k bigint")
    dim = spark.createDataFrame([(1,), (4,)], "dk bigint")
    out = {r.k: r.n_orphan_rows
           for r in fk_orphans(fact, dim, "k", "dk").collect()}
    # key 1 resolves; 2 and 3 are orphans; NULLs surface as one group
    assert out == {2: 1, 3: 1, None: 3}


def test_no_orphans_empty_output(spark):
    fact = spark.createDataFrame([(1,), (2,)], "k bigint")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "dk bigint")
    assert fk_orphans(fact, dim, "k", "dk").count() == 0


def test_plan_is_shuffle_anti_join_without_broadcast(spark, sf_dir):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold",
                             None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        fact = spark.read.parquet(f"{sf_dir}/events.parquet")
        dim = spark.read.parquet(f"{sf_dir}/customer.parquet")
        plan = (fk_orphans(fact, dim, "user_id", "c_custkey")
                ._jdf.queryExecution().executedPlan().toString())
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        # the per-key count reuses the join's key partitioning: exactly
        # the two key exchanges (fact side + dim side), none for the agg
        assert plan.count("Exchange hashpartitioning") == 2, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                           old_aqe)


def test_bloom_identity_with_exact(spark):
    """fk_orphans_bloom is an EXACT hybrid: identical output to
    fk_orphans on a fixture with orphans, NULL keys, and dup dim keys."""
    from schema_inference_spark.operators.checks import fk_orphans_bloom
    fact = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,), (None,), (None,)], "k bigint")
    dim = spark.createDataFrame([(1,), (1,), (4,)], "dk bigint")
    exact = {r.k: r.n_orphan_rows
             for r in fk_orphans(fact, dim, "k", "dk").collect()}
    bloom = {r.k: r.n_orphan_rows
             for r in fk_orphans_bloom(fact, dim, "k", "dk").collect()}
    assert exact == bloom == {2: 1, 3: 1, None: 3}


def test_bloom_exact_under_total_collision(spark):
    """num_bits=8 saturates the bitset (every key bloom-positive), so
    the result rests entirely on the residual broadcast-anti path —
    exactness must not depend on the false-positive rate."""
    from schema_inference_spark.operators.checks import fk_orphans_bloom
    fact = spark.createDataFrame([(i,) for i in range(50)], "k bigint")
    dim = spark.createDataFrame([(i,) for i in range(0, 50, 2)],
                                "dk bigint")
    out = {r.k for r in
           fk_orphans_bloom(fact, dim, "k", "dk",
                            num_bits=8, num_hashes=2).collect()}
    assert out == set(range(1, 50, 2))


def test_bloom_plan_never_shuffles_a_join_side(spark, sf_dir):
    """The 100-TB contract of the bloom form: the dim is scanned (bloom
    build + semi-join filter), never exchanged; both joins are broadcast;
    the only hash exchange is the fact-side per-key aggregation (its
    cached plan is referenced from both branches)."""
    from schema_inference_spark.operators.checks import fk_orphans_bloom
    fact = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = (spark.read.parquet(f"{sf_dir}/customer.parquet")
           .filter(F.col("c_custkey") % 13 != 0))
    out = fk_orphans_bloom(fact, dim, "user_id", "c_custkey")
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert plan.count("BroadcastHashJoin") == 2, plan
    finally:
        spark.catalog.clearCache()  # drop the operator's per_key persist
