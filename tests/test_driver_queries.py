"""Driver-contract gate, locally reproduced: every queries() entry with an
oracle must match DuckDB row-for-row at test scale (the driver does the
same at sf0.01 -> CORRECTNESS_r{N}.json)."""

import math

import duckdb
import pytest

from schema_inference_spark.driver_queries import CORE_ORACLES, CORE_QUERIES

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def duck_conn(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(rows, colnames):
    """Column-name-sorted, order-insensitive value normalization mirroring
    the driver's compare."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 6)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize("name", sorted(CORE_ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    sdf = CORE_QUERIES[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_conn(sf_dir)
    res = con.execute(CORE_ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), \
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), \
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    assert normalize(spark_rows, spark_cols) == normalize(duck_rows, duck_cols), \
        f"{name}: value mismatch"


def test_sketch_estimates_bounded_error(spark, sf_dir):
    """Rows-only queries still get gated: HLL within 5% of exact."""
    exact = CORE_QUERIES["distinct_exact"](spark, sf_dir).first()
    est = CORE_QUERIES["distinct_hll"](spark, sf_dir).first()
    assert abs(est.d_users_est - exact.d_users) / max(exact.d_users, 1) < 0.05
    assert abs(est.d_types_est - exact.d_types) / max(exact.d_types, 1) < 0.05
    q = CORE_QUERIES["quantiles_value"](spark, sf_dir).first()
    k = CORE_QUERIES["quantiles_kll"](spark, sf_dir).first()
    spread = abs(q.p75 - q.p25) or 1.0
    assert abs(k.p50_est - q.p50) <= 0.1 * spread
