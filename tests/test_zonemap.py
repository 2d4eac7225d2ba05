"""sources/zonemap.py: file-level min/max data skipping. Exactness must
never depend on the stats (the residual predicate is always applied);
the keep-rule must be conservative for statless footers; all-null and
disjoint files must actually be skipped. The driver query's oracle gate
(zonemap_scan vs the full-scan SQL) ran in `git show
3abe443:BENCH/preflight.py`."""

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from schema_inference_spark.sources.zonemap import (
    micros_to_naive_ts,
    zonemap_prune,
    zonemap_scan,
)


def _write(path, lo_us, hi_us, n=10, stats=True, all_null=False):
    if all_null:
        ts = pa.array([None] * n, type=pa.timestamp("us"))
    else:
        step = max((hi_us - lo_us) // max(n - 1, 1), 1)
        ts = pa.array([micros_to_naive_ts(lo_us + i * step)
                       for i in range(n)], type=pa.timestamp("us"))
    t = pa.table({"ts": ts, "v": pa.array(range(n), type=pa.int64())})
    pq.write_table(t, path, write_statistics=stats)
    return str(path)


US_H = 3_600_000_000  # one hour in micros


def test_prune_decisions_and_identity(spark, tmp_path):
    """Four files: disjoint-below, overlapping, all-null, statless.
    Pruning keeps exactly {overlapping, statless}; the pruned scan is
    row-identical to the unpruned filtered scan."""
    f_below = _write(tmp_path / "a.parquet", 0, US_H)
    f_hit = _write(tmp_path / "b.parquet", 2 * US_H, 3 * US_H)
    f_null = _write(tmp_path / "c.parquet", 0, 0, all_null=True)
    f_nostat = _write(tmp_path / "d.parquet", 10 * US_H, 11 * US_H,
                      stats=False)
    files = [f_below, f_hit, f_null, f_nostat]
    lo, hi = micros_to_naive_ts(2 * US_H), micros_to_naive_ts(4 * US_H)

    kept, audit = zonemap_prune(spark, files, "ts", lo, hi)
    assert set(kept) == {f_hit, f_nostat}
    assert audit["decisions"][f_below] == "pruned:disjoint"
    assert audit["decisions"][f_null] == "pruned:all_null"
    assert audit["decisions"][f_nostat] == "kept:no_stats"

    pruned = zonemap_scan(spark, files, "ts", lo, hi)
    full = (spark.read.parquet(*files)
            .filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))))
    assert (sorted(map(str, pruned.collect()))
            == sorted(map(str, full.collect())))
    # the statless file's out-of-range rows were kept at FILE level but
    # removed by the residual predicate — conservatism, not wrong rows
    assert pruned.count() == 10


def test_empty_survivor_set_returns_typed_empty(spark, tmp_path):
    f1 = _write(tmp_path / "a.parquet", 0, US_H)
    lo, hi = micros_to_naive_ts(5 * US_H), micros_to_naive_ts(6 * US_H)
    out = zonemap_scan(spark, [f1], "ts", lo, hi)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["ts", "v"]


def test_clustered_snapshot_prunes_and_matches_full_scan(spark, sf_dir):
    """The driver-query shape: a ts-range-clustered 8-file snapshot of
    events — the middle-fifth probe must open a strict minority of the
    files and still return the full scan's exact rows."""
    import glob

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    snap = "/tmp/zm_unit_snapshot.parquet"
    ev.repartitionByRange(8, "ts").write.mode("overwrite").parquet(snap)
    files = sorted(glob.glob(f"{snap}/*.parquet"))
    assert len(files) == 8

    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    epoch = dt.datetime(1970, 1, 1)
    us = dt.timedelta(microseconds=1)
    mn_us, mx_us = (mn - epoch) // us, (mx - epoch) // us
    lo = micros_to_naive_ts(mn_us + (mx_us - mn_us) * 2 // 5)
    hi = micros_to_naive_ts(mn_us + (mx_us - mn_us) * 3 // 5)

    audit: dict = {}
    pruned = zonemap_scan(spark, files, "ts", lo, hi, audit_out=audit)
    assert 1 <= audit["n_kept"] <= 3, audit  # a fifth of 8 zones + edges
    full = ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    assert (sorted(map(str, pruned.collect()))
            == sorted(map(str, full.collect())))
