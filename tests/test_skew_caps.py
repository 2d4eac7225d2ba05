"""Skew guards for the similarity self-joins (VERDICT r1 items 2-3).

Fixtures plant the two crawl-corpus pathologies:
- a STOP-SHINGLE shared by every document (quadratic reducer input for the
  inverted-index join without the df cap);
- a BOILERPLATE LSH bucket (hundreds of near-identical docs agreeing on
  whole bands — quadratic pair expansion without the bucket cap).

Each guard is asserted twice: the bounded path emits no quadratic blowup,
AND the result semantics survive (exact pairs unchanged / duplicate group
still fully connected).
"""

import pytest
from pyspark.sql import functions as F

from schema_inference_spark.operators.dedup import (
    drop_hot_tokens,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_lsh_dedup,
    with_shingles,
)
from schema_inference_spark.operators.textstats import winnow_similar_pairs

BOILER = "as an ai language model i cannot help with that request today"


@pytest.fixture(scope="module")
def hot_shingle_docs(spark):
    """60 docs, ALL sharing one boilerplate sentence (hot shingles,
    df=60); docs 2i/2i+1 are near-dup pairs sharing rare content."""
    rows = []
    for i in range(30):
        uniq = f"report {i} covers alpha{i} beta{i} gamma{i} delta{i} " \
               f"epsilon{i} zeta{i} eta{i} theta{i}"
        rows.append((2 * i, f"{BOILER} {uniq}"))
        rows.append((2 * i + 1, f"{BOILER} {uniq} extra"))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_hot_shingles_dropped_from_candidate_join(hot_shingle_docs):
    sh = (with_shingles(hot_shingle_docs)
          .select("doc_id", F.explode("shingles").alias("sh")))
    kept = drop_hot_tokens(sh, "sh", max_df=10)
    # every boilerplate shingle (df=60 > 10) is gone from the join input
    boiler_sh = {f"{a} {b} {c}" for a, b, c in
                 zip(BOILER.split(), BOILER.split()[1:], BOILER.split()[2:])}
    remaining = {r.sh for r in kept.select("sh").distinct().collect()}
    assert not (boiler_sh & remaining)
    # bounded reducer input: no shingle exceeds the cap
    max_freq = (kept.groupBy("sh").count()
                .agg(F.max("count")).first()[0])
    assert max_freq <= 10


def test_jaccard_pairs_exact_despite_cap(hot_shingle_docs):
    """The cap only gates CANDIDATE generation; verification computes
    Jaccard over the full shingle sets, so the capped result equals the
    uncapped result pair-for-pair and score-for-score."""
    capped = [(r.d1, r.d2, r.jaccard) for r in
              jaccard_pairs(hot_shingle_docs, threshold=0.5,
                            max_df=10).collect()]
    uncapped = [(r.d1, r.d2, r.jaccard) for r in
                jaccard_pairs(hot_shingle_docs, threshold=0.5,
                              max_df=None).collect()]
    assert capped == uncapped
    # the planted near-dup pairs are found (they share rare shingles)
    found = {(d1, d2) for d1, d2, _ in capped}
    assert all((2 * i, 2 * i + 1) in found for i in range(30))


@pytest.fixture(scope="module")
def boilerplate_bucket_docs(spark):
    """200 identical docs (one LSH bucket per band holds all 200) plus a
    normal near-dup pair."""
    rows = [(i, BOILER + " exactly repeated paragraph body") for i in range(200)]
    rows += [(500, "unique tail alpha beta gamma delta epsilon zeta eta"),
             (501, "unique tail alpha beta gamma delta epsilon zeta theta")]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_lsh_bucket_cap_bounds_pair_expansion(boilerplate_bucket_docs):
    capped = lsh_candidate_pairs(boilerplate_bucket_docs,
                                 bucket_cap=32, chain=4)
    n = capped.count()
    # 200-doc bucket all-pairs would be 19,900 pairs; the chain emits at
    # most 200*4 per band and the dedup collapses identical bands
    assert n <= 200 * 4 + 10
    # the normal near-dup pair is still a candidate (its bucket is tiny)
    pairs = {(r.d1, r.d2) for r in capped.collect()}
    assert (500, 501) in pairs


def test_lsh_chained_bucket_stays_connected(boilerplate_bucket_docs):
    """Dedup semantics: the verified pair graph over the oversized bucket
    must remain one connected component so transitive closure recovers
    the full duplicate group."""
    verified = minhash_lsh_dedup(boilerplate_bucket_docs, threshold=0.9,
                                 bucket_cap=32, chain=4)
    edges = [(r.d1, r.d2) for r in verified.collect()]
    parent = {i: i for i in range(200)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a < 200 and b < 200:
            parent[find(a)] = find(b)
    roots = {find(i) for i in range(200)}
    assert len(roots) == 1


def test_lsh_cap_noop_on_small_buckets(spark, sf_dir):
    """With the default cap, real sf-corpus buckets are all below it:
    capped output == uncapped output (the guard costs nothing when the
    pathology is absent)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {(r.d1, r.d2) for r in
         lsh_candidate_pairs(docs, bucket_cap=64, chain=8).collect()}
    b = {(r.d1, r.d2) for r in
         lsh_candidate_pairs(docs, bucket_cap=None).collect()}
    assert a == b


def test_winnow_fp_cap(spark):
    """Hot winnow fingerprints (shared by every doc) are excluded from
    n_shared; docs sharing enough RARE fingerprints still pair."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{BOILER} filler{i} noise{i} pad{i} word{i} item{i} "
                f"thing{i} stuff{i} other{i}") for i in range(40)]
    rows += [(100, f"{BOILER} {shared} one"),
             (101, f"{BOILER} {shared} two")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = winnow_similar_pairs(docs, min_shared=3, max_df=10)
    got = {(r.d1, r.d2) for r in pairs.collect()}
    # boilerplate-only overlap (df=42 > 10) cannot create pairs...
    assert all(a >= 100 for a, _ in got)
    # ...but the rare shared run still does
    assert (100, 101) in got


def test_curation_summary_plan_shape(spark):
    """curation_summary's 100-TB shape: every per-document signal is a
    column expression (no Window, no UDF markers in the plan) and the
    only wide ops are the content-hash winner aggregate and the source
    rollup."""
    from schema_inference_spark.operators.curation import curation_summary

    docs = spark.createDataFrame(
        [(i, f"s{i % 2}", f"the w{i} and x{i} of y{i}")
         for i in range(6)],
        "doc_id bigint, source string, text string")
    plan = (curation_summary(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
