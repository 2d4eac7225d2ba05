"""Column-profile goldens (SURVEY.md §2.D7-D9).

Round-2 regression suite for the profile path: typed (non-lexicographic)
min/max through both aggregation levels, agreement with the typed
``sql_partition_states`` path, and merge-order invariance of the two-level
sketch merge (N vs 4N partitions; SURVEY.md §5.2-6).
"""

import datetime
import json

import pytest
from pyspark.sql import functions as F

from schema_inference_spark.operators.stats import (
    partition_profile,
    snapshot_profile,
)


@pytest.fixture(scope="module")
def mixed_df(spark):
    """Values chosen so lexicographic and numeric order DISAGREE across
    partitions: max('99.93','490.02') is '99.93' as strings, 490.02 typed.
    The all-NULL partition (bucket 2) exercises the min_by/max_by guard."""
    rows = [
        (0, 99.93, 7, "banana", datetime.datetime(2026, 1, 2, 0, 0, 0, 500000)),
        (0, 0.5, 12, "apple", datetime.datetime(2026, 1, 1)),
        (1, 490.02, 103, "Cherry", datetime.datetime(2025, 12, 31)),
        (1, 3.25, 20, "date", datetime.datetime(2026, 2, 1)),
        (2, None, None, None, None),
    ]
    return spark.createDataFrame(
        rows, "bucket int, value double, n bigint, name string, ts timestamp")


def _snap(df):
    prof = snapshot_profile(partition_profile(df, "t"))
    return {r["column"]: r.asDict() for r in prof.collect()}


def test_profile_min_max_is_typed_not_lexicographic(mixed_df):
    s = _snap(mixed_df)
    # doubles: 490.02 > 99.93 numerically though '490.02' < '99.93' as text
    assert s["value"]["min_num"] == 0.5
    assert s["value"]["max_num"] == 490.02
    assert s["value"]["min_str"] == "0.5"
    assert s["value"]["max_str"] == "490.02"
    # bigints: 103 > 20 though '103' < '20' lexicographically
    assert s["n"]["min_num"] == 7.0
    assert s["n"]["max_num"] == 103.0
    assert s["n"]["min_str"] == "7" and s["n"]["max_str"] == "103"
    # strings stay lexicographic (binary order: 'Cherry' < lowercase)
    assert s["name"]["min_str"] == "Cherry"
    assert s["name"]["max_str"] == "date"
    assert s["name"]["min_num"] is None
    # timestamps order chronologically with sub-second precision intact
    assert s["ts"]["min_str"].startswith("2025-12-31")
    assert s["ts"]["max_str"].startswith("2026-02-01")
    # null accounting includes the all-NULL partition
    assert s["value"]["n_rows"] == 5 and s["value"]["n_nulls"] == 1


def test_profile_agrees_with_typed_state_path(spark, catalog):
    """The D7 profile and the inference state engine are the same monoid
    over native-type extremes — they must emit identical min/max (the two
    paths disagreed in round 1: profile was lexicographic)."""
    from schema_inference_spark.operators.infer import infer_snapshot

    inf = infer_snapshot(spark, catalog, "s1")
    df = catalog.read_snapshot(spark, "s1")
    s = _snap(df)
    for col, st in inf.column_stats.items():
        assert s[col]["n_rows"] - s[col]["n_nulls"] == st["count"] - st["nulls"]
        if col == "turn_idx":
            assert s[col]["min_num"] == float(st["min"])
            assert s[col]["max_num"] == float(st["max"])
        if col in ("conv_id", "role"):
            assert s[col]["min_str"] == st["min"]
            assert s[col]["max_str"] == st["max"]


def test_two_level_merge_invariant_under_partitioning(spark, sf_dir):
    """Merge-order invariance (SURVEY.md §5.2-6): the two-level profile over
    N partitions and over 4N partitions yields the SAME snapshot stats —
    HLL estimates exactly (union is exact-deterministic on merge), KLL
    quantiles within sketch tolerance, typed min/max exactly."""
    from schema_inference_spark.operators.stats import kll_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def profile(n_buckets):
        df = ev.withColumn(
            "bucket", F.pmod(F.crc32(F.col("event_id").cast("string")),
                             F.lit(n_buckets)))
        prof = snapshot_profile(partition_profile(df, "t", columns=["value"]))
        return prof.collect()[0].asDict()

    a, b = profile(4), profile(16)
    assert a["min_num"] == b["min_num"]
    assert a["max_num"] == b["max_num"]
    assert a["n_rows"] == b["n_rows"] and a["n_nulls"] == b["n_nulls"]
    # HLL register unions are associative but the sketch's internal mode
    # (sparse vs dense) depends on per-partition cardinality, so estimates
    # agree within sketch error, and both within 5% of the exact count
    exact = ev.select("value").distinct().count()
    assert abs(a["distinct_est"] - b["distinct_est"]) <= 0.02 * exact
    assert abs(a["distinct_est"] - exact) <= 0.05 * exact
    assert abs(b["distinct_est"] - exact) <= 0.05 * exact
    # KLL is randomized internally; quantiles agree within sketch error
    qa = kll_quantiles(spark, bytes(a["kll"]), [0.5])[0]
    qb = kll_quantiles(spark, bytes(b["kll"]), [0.5])[0]
    spread = a["max_num"] - a["min_num"]
    assert abs(qa - qb) <= 0.05 * spread


def test_grouped_quantiles_exact_selection(spark):
    """Ordinal selection ('lower' method): rank 1+floor(q*(n-1)), always
    an element of the group; singleton groups return that element for
    every q."""
    from pyspark.sql import functions as F

    from schema_inference_spark.operators.stats import grouped_quantiles

    rows = [("a", v) for v in [10, 20, 30, 40, 50]] + [("b", 7)]
    df = spark.createDataFrame(rows, "g string, v int")
    out = {(r.g, r.q): r.value for r in
           grouped_quantiles(df, "g", F.col("v"),
                             qs=(0.0, 0.25, 0.5, 0.75, 1.0)).collect()}
    # n=5: ranks 1, 2, 3, 4, 5
    assert [out[("a", q)] for q in (0.0, 0.25, 0.5, 0.75, 1.0)] == \
        [10, 20, 30, 40, 50]
    assert all(out[("b", q)] == 7 for q in (0.0, 0.25, 0.5, 0.75, 1.0))


def test_grouped_quantiles_even_group_lower_method(spark):
    from pyspark.sql import functions as F

    from schema_inference_spark.operators.stats import grouped_quantiles

    df = spark.createDataFrame([("a", v) for v in [1, 2, 3, 4]],
                               "g string, v int")
    out = {r.q: r.value for r in
           grouped_quantiles(df, "g", F.col("v"), qs=(0.5,)).collect()}
    assert out[0.5] == 2   # rank 1+floor(0.5*3) = 2 — lower, not midpoint


def test_sketch_comparison_runs_no_spark_job(spark):
    """Drift's baseline side (the KLL quantiles that become the bin edges
    and the baseline's ranks there) is one projection over literals,
    which Spark evaluates on the driver without a job."""
    from schema_inference_spark.operators.drift import (
        baseline_bins,
        drift_violations,
    )

    def kll(lo):
        return bytes(spark.range(lo, lo + 1000).select(
            F.kll_sketch_agg_double(F.col("id").cast("double"))).first()[0])

    sketches = {"a": kll(0), "b": kll(500)}
    sc = spark.sparkContext
    sc.setJobGroup("kll-local", "sketch comparison")
    try:
        bins, skipped = baseline_bins(spark, sketches)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(bins) == ["a", "b"] and skipped == {}
    assert list(sc.statusTracker().getJobIdsForGroup("kll-local")) == []
    # 1000 current values 500..1499 against a's bins (0..999): drifted
    edges = bins["a"][0]
    le = [sum(1 for v in range(500, 1500) if v <= e) for e in edges]
    rows, _ = drift_violations("s", {"a": bins["a"]}, {"a": (1000, le)})
    assert json.loads(rows[0]["payload"])["psi"] > 0.25


def _psi_ks_per_column_queries(spark, base, cur, n_bins=10):
    """The earlier drift comparison, kept as the oracle: three local
    projections per column (baseline quantiles, then each sketch's ranks
    at the deduped edges)."""
    import math

    from schema_inference_spark.functions.frames import local_frame

    def one(kll, exprs):
        return list(local_frame(spark, [(bytes(kll),)], "kll binary")
                    .select(*exprs).first())

    probs = [i / n_bins for i in range(1, n_bins)]
    edges = one(base, [F.kll_sketch_get_quantile_double("kll", F.lit(p))
                       for p in probs])
    uniq = []
    for e in edges:
        if not uniq or e > uniq[-1]:
            uniq.append(e)

    def cdf(kll):
        return [0.0] + one(kll, [F.kll_sketch_get_rank_double(
            "kll", F.lit(float(e))) for e in uniq]) + [1.0]

    b, c = cdf(base), cdf(cur)
    psi = ks = 0.0
    for i in range(1, len(b)):
        p = max(b[i] - b[i - 1], 1e-6)
        q = max(c[i] - c[i - 1], 1e-6)
        psi += (q - p) * math.log(q / p)
        ks = max(ks, abs(b[i] - c[i]))
    return {"psi": psi, "ks": ks, "n_bins": len(uniq) + 1}


def test_one_projection_drift_equals_per_column_queries(spark, catalog):
    """Every compared column's baseline bins from ONE projection, with
    the current sketch ranked at those edges, give exactly the PSI/KS of
    the per-column query oracle: rank and quantile queries are
    deterministic over fixed sketch bytes, and deduping equal edges
    afterwards leaves the ranks at the kept edges unchanged."""
    from schema_inference_spark.functions.frames import local_frame
    from schema_inference_spark.operators.drift import baseline_bins, psi_ks
    from schema_inference_spark.pipeline import baseline_from_result, validate

    sk = {s: baseline_from_result(validate(spark, catalog, s,
                                           write_audit=False))["sketches"]
          for s in ("s1", "s4")}
    cols = sorted(c for c, v in sk["s1"].items() if v is not None)
    assert "text_len" in cols and "turn_idx" in cols
    for a, b in (("s1", "s4"), ("s4", "s1"), ("s1", "s1")):
        bins, skipped = baseline_bins(spark, {c: sk[a][c] for c in cols})
        assert not skipped
        for c in cols:
            edges, base_cdf = bins[c]
            cur = local_frame(spark, [(bytes(sk[b][c]),)], "k binary").select(
                F.kll_sketch_get_rank_double(
                    "k", F.array(*[F.lit(e) for e in edges]))).first()[0]
            psi, ks = psi_ks(base_cdf, [0.0] + list(cur) + [1.0])
            assert {"psi": psi, "ks": ks, "n_bins": len(edges) + 1} == \
                _psi_ks_per_column_queries(spark, sk[a][c], sk[b][c]), \
                (a, b, c)


def test_reading_snapshot_stats_persists_nothing(spark, catalog):
    """The lazy full profile caches nothing: building and reading
    ``snapshot_stats`` leaves the session's persistent RDDs as they were."""
    from schema_inference_spark.pipeline import validate

    r = validate(spark, catalog, "s1", write_audit=False)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    assert r.snapshot_stats.collect()
    assert jsc.getPersistentRDDs().size() == before
