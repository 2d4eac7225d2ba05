"""Oracle gate for the training-data operators, plus recall/property tests
for the hash-seeded (rows-only) ones."""

import pytest

from schema_inference_spark.driver_queries_extras import EXTRA_ORACLES, EXTRA_QUERIES
from tests.test_driver_queries import duck_conn, normalize


@pytest.mark.parametrize("name", sorted(EXTRA_ORACLES))
def test_extra_matches_oracle(spark, sf_dir, name):
    sdf = EXTRA_QUERIES[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_conn(sf_dir)
    res = con.execute(EXTRA_ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), \
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), \
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    assert normalize(spark_rows, spark_cols) == normalize(duck_rows, duck_cols), \
        f"{name}: value mismatch"


def test_winnow_seam_sf_switch_not_stale(spark):
    """Regression: the winnow fingerprint cache hands out lazy frames
    over ONE shared export path; switching scale factors in one session
    must recompute (path ownership), not serve the overwritten files of
    the other sf."""
    a, b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    fa1 = EXTRA_QUERIES["winnow_fingerprints"](spark, a).count()
    fb = EXTRA_QUERIES["winnow_fingerprints"](spark, b).count()
    fa2 = EXTRA_QUERIES["winnow_fingerprints"](spark, a).count()
    assert fa1 == fa2
    assert fa1 != fb


def test_minhash_lsh_recall(spark, sf_dir):
    """LSH-verified pairs must be a subset of exact-jaccard pairs, with
    high recall at this band setting (16 bands x 4 rows, t=0.5)."""
    exact = {(r.d1, r.d2) for r in
             EXTRA_QUERIES["dedup_jaccard"](spark, sf_dir).collect()}
    lsh = {(r.d1, r.d2) for r in
           EXTRA_QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()}
    assert lsh <= exact                     # verify step guarantees precision
    if exact:
        assert len(lsh) / len(exact) >= 0.8  # recall at threshold 0.5


def test_dedup_incremental_semantics(spark):
    """build_hash_index + dedup_against_index: re-ingesting the indexed
    corpus reports only non-canonical copies (idempotent, no
    self-reports); a fresh batch reports indexed dups against the index
    canonical and batch-internal dups against the min new id."""
    from schema_inference_spark.operators.dedup import (
        build_hash_index,
        dedup_against_index,
    )

    corpus = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa  BB"), (3, "cc")], "doc_id bigint, text string")
    idx = build_hash_index(corpus)
    assert idx.count() == 2                       # every hash, not just dups

    reingest = dedup_against_index(corpus, idx).collect()
    assert {(r.doc_id, r.canonical_id, r.source)
            for r in reingest} == {(2, 1, "index")}

    new = spark.createDataFrame(
        [(10, "AA bb"), (11, "dd"), (12, "dd"), (13, "ee")],
        "doc_id bigint, text string")
    rep = dedup_against_index(new, idx).collect()
    assert {(r.doc_id, r.canonical_id, r.source)
            for r in rep} == {(10, 1, "index"), (12, 11, "batch")}
