"""Curation cascade: the single-scan column builders must agree
doc-for-doc with the canonical textstats operators (they restate the
formulas to avoid three doc_id joins; these tests pin them together),
and the summary must partition the corpus exactly."""

from pyspark.sql import functions as F


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_quality_bp_parity(spark):
    from schema_inference_spark.operators.curation import quality_bp_col
    from schema_inference_spark.operators.textstats import quality_score

    docs = _docs(spark)
    canonical = {r.doc_id: r.quality_bp
                 for r in quality_score(docs).collect()}
    cascade = {r.doc_id: r.quality_bp
               for r in quality_bp_col(docs).select("doc_id",
                                                    "quality_bp").collect()}
    assert cascade == canonical


def test_lang_pred_parity(spark):
    from schema_inference_spark.operators.curation import lang_pred_col
    from schema_inference_spark.operators.textstats import lang_id

    docs = _docs(spark)
    canonical = {r.doc_id: r.lang_pred for r in lang_id(docs).collect()}
    cascade = {r.doc_id: r.p for r in
               docs.select("doc_id", lang_pred_col().alias("p")).collect()}
    assert cascade == canonical


def test_distinct_ratio_parity(spark):
    from schema_inference_spark.operators.curation import (
        distinct_ratio_bp_col,
    )
    from schema_inference_spark.operators.textstats import repetition_stats

    docs = _docs(spark)
    canonical = {r.doc_id: 10000 * r.distinct_words // r.n_words
                 for r in repetition_stats(docs).collect()}
    cascade = {r.doc_id: r.ratio for r in
               docs.select("doc_id",
                           distinct_ratio_bp_col().alias("ratio")).collect()}
    assert cascade == canonical


def test_curation_summary_partitions_corpus(spark):
    """Buckets are disjoint and exhaustive: per-source counts sum to
    n_docs; a planted exact duplicate lands in the dup bucket; the
    kept token sum counts only surviving docs."""
    from schema_inference_spark.operators.curation import curation_summary

    # >= 200 chars (full length marks), no punctuation, high distinct
    # ratio, English stopwords -> survives every stage
    text_en = ("the quick brown fox jumps over a lazy dog and the old "
               "sailor walks to the harbor in the morning light while "
               "it rains softly on green hills and tall trees of the "
               "northern valley where children play games near a quiet "
               "river")
    rows = [
        (1, "s1", text_en),                       # kept
        (2, "s1", text_en),                       # exact dup of 1
        (3, "s1", "el la de que y en un es si no"),  # spanish -> lang
        # English ('the') but 1 distinct word in 40 -> repetitive;
        # long enough that quality passes first
        (4, "s2", "the " * 40),
        # English ('it'), distinct tokens, but short + punct-heavy
        # -> quality
        (5, "s2", "it !!!! ???? ,,,, ;;;;"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    got = {r.source: r for r in curation_summary(df).collect()}

    s1 = got["s1"]
    assert (s1.n_docs, s1.n_dup, s1.n_lang, s1.n_kept) == (3, 1, 1, 1)
    assert s1.n_docs == s1.n_dup + s1.n_lang + s1.n_quality \
        + s1.n_repetitive + s1.n_kept
    assert s1.tokens_kept == len(text_en.split())

    s2 = got["s2"]
    assert s2.n_docs == 2 and s2.n_kept == 0
    assert s2.n_repetitive == 1 and s2.n_quality == 1
    assert s2.tokens_kept == 0


def test_token_budget_sample_greedy_prefix(spark):
    """Budget semantics: docs are taken in md5(id) order per source and
    the INCLUSIVE running sum must stay within budget — the first
    overshooting doc is dropped AND nothing after it re-enters, even a
    smaller doc that would still fit (strict prefix, reproducibility
    over packing)."""
    from pyspark.sql import functions as F

    from schema_inference_spark.operators.curation import (
        token_budget_sample,
    )

    docs = spark.createDataFrame(
        [(i, "s", "w " * n) for i, n in
         [(1, 10), (2, 10), (3, 10), (4, 3), (5, 10)]],
        "doc_id bigint, source string, text string")
    budgets = spark.createDataFrame([("s", 25)],
                                    "source string, token_budget bigint")
    got = token_budget_sample(docs, budgets).collect()

    hash_order = [r.doc_id for r in docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h"))
        .orderBy("h", "doc_id").collect()]
    sizes = {1: 10, 2: 10, 3: 10, 4: 3, 5: 10}
    expect, cum = [], 0
    for d in hash_order:
        cum += sizes[d]
        if cum > 25:
            break           # strict prefix: stop at first overshoot
        expect.append(d)

    assert [r.doc_id for r in got] == expect
    assert all(r.cum_tokens <= r.token_budget for r in got)
    assert [r.mix_rank for r in got] == list(range(1, len(expect) + 1))


def test_curation_summary_incremental_against_index(spark):
    """Ingest-time cascade: dup verdicts come from the hash index
    (dedup_against_index semantics — indexed copies report, the
    canonical never self-reports on re-ingest, batch-internal dups keep
    their min id), every other stage is per-document."""
    from schema_inference_spark.operators.curation import (
        curation_summary_incremental,
    )
    from schema_inference_spark.operators.dedup import build_hash_index

    good = ("the quick brown fox jumps over a lazy dog and the old "
            "sailor walks to the harbor in the morning light while it "
            "rains softly on green hills and tall trees of the northern "
            "valley where children play games near a quiet river")
    hist = spark.createDataFrame([(1, "s", good)],
                                 "doc_id bigint, source string, text string")
    index = build_hash_index(hist)

    batch = spark.createDataFrame(
        [(1, "s", good),     # the index canonical re-ingested: NOT dup
         (10, "s", good),    # indexed copy -> dup
         (11, "s", good + " extra tail words here we go now today"),
         (12, "s", good + " extra tail words here we go now today")],
        "doc_id bigint, source string, text string")
    got = curation_summary_incremental(batch, index).collect()
    assert len(got) == 1
    r = got[0]
    # 10 dups the index; 12 dups batch-mate 11; 1 and 11 survive
    assert (r.n_docs, r.n_dup, r.n_kept) == (4, 2, 2)
    assert r.n_docs == r.n_dup + r.n_lang + r.n_quality \
        + r.n_repetitive + r.n_kept


def test_packing_plan_boundaries(spark):
    """Concat-and-cut semantics: offsets tile the token stream with no
    gaps or overlaps in id order; a document straddling a pack boundary
    spans both packs; pack ids follow integer division of the interval
    endpoints."""
    from schema_inference_spark.operators.curation import packing_plan

    # token counts 6, 3, 4, 10 at seq_len 8:
    # doc1 [0,5] pack 0; doc2 [6,8] packs 0-1 (straddles);
    # doc3 [9,12] pack 1; doc4 [13,22] packs 1-2
    docs = spark.createDataFrame(
        [(1, "a " * 6), (2, "b " * 3), (3, "c " * 4), (4, "d " * 10)],
        "doc_id bigint, text string")
    got = {r.doc_id: r for r in
           packing_plan(docs, seq_len=8, n_buckets=3).collect()}

    assert (got[1].start_offset, got[1].end_offset) == (0, 5)
    assert (got[1].first_pack, got[1].last_pack) == (0, 0)
    assert (got[2].start_offset, got[2].end_offset) == (6, 8)
    assert (got[2].first_pack, got[2].last_pack) == (0, 1)
    assert (got[3].first_pack, got[3].last_pack) == (1, 1)
    assert (got[4].start_offset, got[4].end_offset) == (13, 22)
    assert (got[4].first_pack, got[4].last_pack) == (1, 2)
    # the stream tiles exactly: next start = prev end + 1
    ordered = [got[i] for i in sorted(got)]
    for prev, cur in zip(ordered, ordered[1:]):
        assert cur.start_offset == prev.end_offset + 1


def test_packing_plan_no_global_window(spark):
    """The distributed-prefix-sum contract: the plan must not contain an
    unpartitioned window (which would funnel the corpus through one
    task) — every Window partitions by the range bucket."""
    from schema_inference_spark.operators.curation import packing_plan

    docs = spark.createDataFrame(
        [(i, "w " * (i + 1)) for i in range(20)],
        "doc_id bigint, text string")
    plan = (packing_plan(docs, seq_len=16, n_buckets=4)
            ._jdf.queryExecution().executedPlan().toString())
    import re
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "_bkt" in m.group(1), plan
    assert "Window" in plan  # the bucket-local cumsum is a window


def test_curation_summary_best_quality_canonical(spark):
    """canonical='best_quality' keeps each exact-dup group's highest-
    quality_bp copy (ties -> min id); min_id keeps the smallest id.
    The planted twins normalize identically (so they ARE an exact dup
    group) but the higher-id copy carries more raw characters, lifting
    its quality_bp length term."""
    from schema_inference_spark.operators.curation import curation_summary

    rows = [(10, "short dup text body", "a"),
            (11, "short  dup   text  body", "b"),   # same normalized
            (12, "an unrelated singleton document xyz", "a")]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")

    m = {r.source: r.n_dup for r in curation_summary(df).collect()}
    assert m == {"a": 0, "b": 1}          # min id 10 survives

    q = {r.source: r.n_dup for r in curation_summary(
        df, canonical="best_quality").collect()}
    assert q == {"a": 1, "b": 0}          # higher-quality id 11 survives

    # identical quality (byte-identical text) -> tie falls back to min id
    tie = spark.createDataFrame(
        [(20, "same exact text", "a"), (21, "same exact text", "b")],
        "doc_id bigint, text string, source string")
    qt = {r.source: r.n_dup for r in curation_summary(
        tie, canonical="best_quality").collect()}
    assert qt == {"a": 0, "b": 1}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="canonical"):
        curation_summary(df, canonical="nonsense")
