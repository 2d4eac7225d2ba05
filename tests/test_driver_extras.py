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


def test_simhash_identical_docs_same_fp(spark):
    df = spark.createDataFrame(
        [(1, "alpha bravo charlie delta"),
         (2, "alpha bravo charlie delta"),
         (3, "totally different words here now")],
        "doc_id bigint, text string")
    from schema_inference_spark.operators.dedup import simhash, simhash_near_pairs
    fp = {r.doc: r.simhash for r in simhash(df).collect()}
    assert fp[1] == fp[2]
    pairs = {(r.d1, r.d2): r.hamming for r in simhash_near_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0


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


def test_near_dup_incremental_semantics(spark):
    """build_minhash_index + near_dup_against_index: a new doc one word
    off an indexed doc is detected with a high jaccard estimate; an
    unrelated doc is not reported; re-runs are deterministic."""
    from schema_inference_spark.operators.dedup import (
        build_minhash_index,
        build_minhash_sigs,
        near_dup_against_index,
    )

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away home tonight")
    corpus = spark.createDataFrame(
        [(1, base),
         (2, "completely different words in this other document about "
             "spark engines")],
        "doc_id bigint, text string")
    idx = build_minhash_index(corpus)
    sigs = build_minhash_sigs(corpus)

    new = spark.createDataFrame(
        [(10, base.replace("tonight", "today")),
         (11, "utterly unrelated text about databases and storage "
              "formats")],
        "doc_id bigint, text string")
    rep = near_dup_against_index(new, idx, sigs).collect()
    assert {(r.doc_id, r.index_id) for r in rep} == {(10, 1)}
    assert all(r.est_jaccard >= 0.5 for r in rep)
    again = near_dup_against_index(new, idx, sigs).collect()
    assert sorted(map(tuple, rep)) == sorted(map(tuple, again))


_BASE = ("the quick brown fox jumps over the lazy dog and runs far "
         "away home tonight")


def test_minhash_index_compaction_recall(spark):
    """compact_minhash_index re-enforces bucket_cap over an appended
    index (VERDICT r4 #3): several ingests push a bucket past the cap,
    compaction restores the bound, and a planted near-dup of the capped
    bucket is still detected via the retained representatives.
    Compaction is idempotent and collapses re-appended duplicates."""
    from schema_inference_spark.operators.dedup import (
        build_minhash_index,
        build_minhash_sigs,
        compact_minhash_index,
        near_dup_against_index,
        update_minhash_index,
    )

    cap = 4
    # 12 identical docs: every band's bucket holds all of them
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [(i, _BASE) for i in ids], "doc_id bigint, text string")
    idx = build_minhash_index(mk(range(1, 1 + cap)), bucket_cap=cap)

    # two append-shaped ingests WITHOUT compaction: buckets go oversized
    appended = idx
    for lo in (10, 20):
        appended = appended.unionByName(
            build_minhash_index(mk(range(lo, lo + cap)), bucket_cap=cap))
    over = (appended.groupBy("band", "bucket").count()
            .agg({"count": "max"}).collect()[0][0])
    assert over > cap

    compacted = compact_minhash_index(appended, bucket_cap=cap)
    sizes = compacted.groupBy("band", "bucket").count().collect()
    assert max(r["count"] for r in sizes) <= cap
    # the cap rule is the builder's: lowest doc ids survive
    assert sorted({r.doc for r in compacted.select("doc").collect()}) \
        == [1, 2, 3, 4]

    # planted near-dup of the capped bucket: still detected
    probe = spark.createDataFrame(
        [(100, _BASE.replace("tonight", "today"))],
        "doc_id bigint, text string")
    # signatures for every doc ever indexed (the sig table is not
    # capped — it is one row per doc, the verify lookup side)
    all_sigs = build_minhash_sigs(mk(list(range(1, 1 + cap))
                                     + list(range(10, 10 + cap))
                                     + list(range(20, 20 + cap))))
    hits = near_dup_against_index(probe, compacted, all_sigs).collect()
    assert {r.doc_id for r in hits} == {100}
    assert {r.index_id for r in hits} <= {1, 2, 3, 4} and hits

    # idempotent: compacting a compacted index is a no-op
    twice = compact_minhash_index(compacted, bucket_cap=cap)
    assert sorted(map(tuple, twice.collect())) \
        == sorted(map(tuple, compacted.collect()))

    # re-appending already-indexed docs consumes no cap slots
    re_ingested = update_minhash_index(compacted, mk(range(1, 1 + cap)),
                                       bucket_cap=cap)
    assert sorted(map(tuple, re_ingested.collect())) \
        == sorted(map(tuple, compacted.collect()))


def test_near_dup_two_ingest_round_trip(spark):
    """The multi-ingest contract end-to-end (VERDICT r4 #5): ingest A
    probes the index and is appended (update_minhash_index); ingest B
    then detects a near-dup of an A-document through the UPDATED index;
    re-ingesting A is idempotent (no self-reports, no index growth)."""
    from schema_inference_spark.operators.dedup import (
        build_minhash_index,
        build_minhash_sigs,
        near_dup_against_index,
        update_minhash_index,
        update_minhash_sigs,
    )

    other = ("completely different words in this other document about "
             "spark engines and their shuffle behavior at scale")
    seed = spark.createDataFrame(
        [(1, _BASE)], "doc_id bigint, text string")
    idx0, sigs0 = build_minhash_index(seed), build_minhash_sigs(seed)

    batch_a = spark.createDataFrame(
        [(10, _BASE.replace("tonight", "today")), (11, other)],
        "doc_id bigint, text string")
    rep_a = near_dup_against_index(batch_a, idx0, sigs0).collect()
    assert {(r.doc_id, r.index_id) for r in rep_a} == {(10, 1)}

    idx1 = update_minhash_index(idx0, batch_a)
    sigs1 = update_minhash_sigs(sigs0, batch_a)
    assert sorted({r.doc for r in idx1.select("doc").collect()}) \
        == [1, 10, 11]
    assert sorted(r.doc for r in sigs1.select("doc").collect()) \
        == [1, 10, 11]

    # ingest B: near-dup of a doc indexed in the SECOND ingest
    batch_b = spark.createDataFrame(
        [(20, other.replace("scale", "volume")), (21, "short unrelated")],
        "doc_id bigint, text string")
    rep_b = near_dup_against_index(batch_b, idx1, sigs1).collect()
    assert {r.doc_id for r in rep_b} == {20}
    assert 11 in {r.index_id for r in rep_b}

    # idempotent re-ingest of A: its docs are in the index now; they
    # never self-report, and neither index table grows
    rep_again = near_dup_against_index(batch_a, idx1, sigs1).collect()
    assert all(r.doc_id != r.index_id for r in rep_again)
    idx2 = update_minhash_index(idx1, batch_a)
    sigs2 = update_minhash_sigs(sigs1, batch_a)
    assert sorted(map(tuple, idx2.collect())) \
        == sorted(map(tuple, idx1.collect()))
    assert sorted(r.doc for r in sigs2.select("doc").collect()) \
        == sorted(r.doc for r in sigs1.select("doc").collect())


def test_segment_dedup_planted(spark):
    """Segment-level dedup semantics on a planted corpus: first
    corpus-wide occurrence (by (doc_id, seg_idx)) of each 10-word
    segment wins; an exact duplicate document loses every segment;
    reconstruction preserves original segment order."""
    from schema_inference_spark.operators.dedup import segment_dedup

    seg_a = " ".join(f"a{i}" for i in range(10))   # doc 1 seg 0
    seg_b = " ".join(f"b{i}" for i in range(10))   # doc 1 seg 1
    seg_c = " ".join(f"c{i}" for i in range(10))   # doc 2's own segment
    tail = "t0 t1 t2"                              # short trailing segment
    docs = spark.createDataFrame(
        [(1, f"{seg_a} {seg_b} {tail}"),
         (2, f"{seg_a} {seg_c}"),                  # seg_a stolen by doc 1
         (3, f"{seg_a} {seg_b} {tail}"),           # exact dup of doc 1
         (4, tail)],                               # dup of doc 1's tail
        "doc_id bigint, text string")

    got = {r.doc_id: r for r in segment_dedup(docs).collect()}
    assert got[1].n_segs == 3 and got[1].n_kept == 3
    assert got[1].clean_text == f"{seg_a} {seg_b} {tail}"
    # doc 2 keeps only its unique second segment, order preserved
    assert got[2].n_segs == 2 and got[2].n_kept == 1
    assert got[2].clean_text == seg_c
    # exact duplicate: everything first occurred in doc 1
    assert got[3].n_segs == 3 and got[3].n_kept == 0
    assert got[3].clean_text == ""
    assert got[4].n_segs == 1 and got[4].n_kept == 0


def test_segment_dedup_exact_first_identical(spark):
    """exact_first=True must be output-identical to the plain pass on a
    dup-heavy corpus (the proof in the docstring, checked end-to-end:
    verbatim copies collapse to empty, partial overlaps unaffected)."""
    from schema_inference_spark.operators.dedup import segment_dedup

    seg = lambda c, k=10: " ".join(f"{c}{i}" for i in range(k))  # noqa: E731
    rows = [(1, f"{seg('a')} {seg('b')}")]
    rows += [(i, rows[0][1]) for i in range(2, 6)]      # 4 verbatim copies
    rows += [(6, f"{seg('a')} {seg('c')}"),             # partial overlap
             (7, seg('d', 7)),                          # unique short doc
             (8, seg('d', 7))]                          # its verbatim copy
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    plain = sorted(map(tuple, segment_dedup(docs).collect()))
    fast = sorted(map(tuple,
                      segment_dedup(docs, exact_first=True).collect()))
    assert fast == plain
    got = dict((r[0], r) for r in fast)
    assert got[2][2] == 0 and got[2][3] == ""
    assert got[6][2] == 1                                # kept seg_c only


def test_segment_index_two_ingest_cycle(spark):
    """The segment-index maintenance cycle: ingest A cleans against the
    initial index, the index updates, ingest B drops segments first
    seen in A, and re-ingesting A's docs yields empty cleans
    (idempotence) while the index does not grow."""
    from schema_inference_spark.operators.dedup import (
        build_segment_index,
        segment_dedup_against_index,
        update_segment_index,
    )

    seg = lambda c: " ".join(f"{c}{i}" for i in range(10))  # noqa: E731
    hist = spark.createDataFrame([(1, f"{seg('a')} {seg('b')}")],
                                 "doc_id bigint, text string")
    idx0 = build_segment_index(hist)

    batch_a = spark.createDataFrame(
        [(10, f"{seg('a')} {seg('c')}")],  # seg_a indexed, seg_c new
        "doc_id bigint, text string")
    got_a = segment_dedup_against_index(batch_a, idx0).collect()[0]
    assert (got_a.n_segs, got_a.n_kept, got_a.clean_text) \
        == (2, 1, seg('c'))

    idx1 = update_segment_index(idx0, batch_a)
    # seg_c now indexed and attributed to doc 10; a/b keep doc 1
    owners = {r.seg_hash: r.doc for r in idx1.collect()}
    assert sorted(owners.values()) == [1, 1, 10]

    batch_b = spark.createDataFrame(
        [(20, f"{seg('c')} {seg('d')}")],  # seg_c seen in ingest A
        "doc_id bigint, text string")
    got_b = segment_dedup_against_index(batch_b, idx1).collect()[0]
    assert (got_b.n_kept, got_b.clean_text) == (1, seg('d'))

    # idempotent re-ingest: everything already indexed -> empty clean,
    # and updating with the same batch changes nothing
    again = segment_dedup_against_index(batch_a, idx1).collect()[0]
    assert (again.n_kept, again.clean_text) == (0, "")
    idx2 = update_segment_index(idx1, batch_a)
    assert sorted(map(tuple, idx2.collect())) \
        == sorted(map(tuple, idx1.collect()))


def test_minhash_index_params_guard(spark):
    """A persisted MinHash artifact probed under different parameters
    must fail loudly: a k or bands mismatch scrambles every bucket
    hash, so the silent outcome is every duplicate admitted as novel."""
    import pytest as _pytest

    from schema_inference_spark.operators.dedup import (
        build_minhash_index,
        build_minhash_sigs,
        near_dup_against_index,
        update_minhash_index,
    )
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f h")],
        "doc_id int, text string")
    hist, new = docs.filter("doc_id = 1"), docs.filter("doc_id = 2")
    idx = build_minhash_index(hist)
    sigs = build_minhash_sigs(hist)
    assert near_dup_against_index(new, idx, sigs).count() == 1

    with _pytest.raises(ValueError, match="MinHash index"):
        near_dup_against_index(new, idx, sigs, k=5).count()
    with _pytest.raises(ValueError, match="MinHash index"):
        near_dup_against_index(new, idx, sigs, bands=32).count()
    with _pytest.raises(ValueError, match="signature table"):
        near_dup_against_index(new, idx.drop("mh_params"),
                               build_minhash_sigs(hist, k=5)).count()
    with _pytest.raises(ValueError, match="MinHash index"):
        update_minhash_index(idx, new, k=5).count()
    # the signature-table update has the same guard as the index update:
    # a mismatched append would build a mixed-lane table whose probe-time
    # check reads only one row's stamp
    from pyspark.sql import functions as F

    from schema_inference_spark.operators.dedup import (
        near_dup_candidates_from_sigs,
        update_minhash_sigs,
    )
    with _pytest.raises(ValueError, match="signature table"):
        update_minhash_sigs(sigs, new, k=5).count()
    # probing from precomputed signatures with an EXPLICIT k trips the shingle-width comparison that
    # k=None would skip
    with _pytest.raises(ValueError, match="MinHash index"):
        near_dup_candidates_from_sigs(
            build_minhash_sigs(new).select(F.col("doc").alias("doc_id"),
                                           "minhash"),
            build_minhash_index(hist, k=5),
            build_minhash_sigs(hist, k=5), k=3).count()

    # the fold tag: a probe that DECLARES its assembled-fold prefix cap
    # must match the artifact's (untagged artifact = whole transcript);
    # mismatched capped/uncapped folds silently degrade Jaccard, the
    # hazard class the stamp exists to make loud
    probe_sigs = build_minhash_sigs(new).select(
        F.col("doc").alias("doc_id"), "minhash")
    capped_idx = build_minhash_index(hist, fold_cap=1024)
    capped_sigs = build_minhash_sigs(hist, fold_cap=1024)
    # declared-capped probe vs capped artifact: passes
    near_dup_candidates_from_sigs(probe_sigs, capped_idx, capped_sigs,
                                  fold_cap=1024).count()
    # declared-uncapped probe vs capped artifact: loud
    with _pytest.raises(ValueError, match="prefix cap"):
        near_dup_candidates_from_sigs(probe_sigs, capped_idx,
                                      capped_sigs, fold_cap=0).count()
    # declared-capped probe vs untagged (whole-transcript) artifact: loud
    with _pytest.raises(ValueError, match="prefix cap"):
        near_dup_candidates_from_sigs(probe_sigs, idx, sigs,
                                      fold_cap=1024).count()
    # undeclared probe (document-level callers): unchecked, as before
    near_dup_candidates_from_sigs(probe_sigs, capped_idx,
                                  capped_sigs).count()

    # pre-marker artifacts (no column) pass unchecked — documented
    legacy_idx, legacy_sigs = idx.drop("mh_params"), sigs.drop("mh_params")
    assert near_dup_against_index(new, legacy_idx, legacy_sigs).count() == 1
    # legacy + stamped union: null rows don't trip the guard
    merged = update_minhash_index(legacy_idx, new)
    assert near_dup_against_index(
        hist, merged, build_minhash_sigs(docs)).count() == 1
