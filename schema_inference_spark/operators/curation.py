"""End-to-end corpus curation: the composed filter cascade a training-data
pipeline actually runs — exact dedup, language filter, quality filter,
repetition filter — with a per-source audit summary of what each stage
dropped and how many tokens survive.

Shape: ONE corpus scan computes every per-document signal as pure column
expressions (the same formulas as ``textstats.quality_score`` /
``textstats.lang_id`` / ``textstats.repetition_stats`` — parity is pinned
by tests, see tests/test_curation.py), the duplicate-winner decision is
the only extra shuffle (groupBy-min on content hash, partial aggregation
absorbs hot boilerplate map-side), and the summary is a partial-aggregated
groupBy on the low-cardinality source key. Nothing leaves the JVM; at
100 TB the cascade is scan -> one hash exchange -> one tiny rollup.

Drop precedence is fixed (duplicate > language > quality > repetitive) so
a document is counted in exactly one bucket and the summary columns sum
to n_docs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalized
from .textstats import STOPWORDS, _tokens

# default thresholds (basis points); callers tune per corpus
QUALITY_MIN_BP = 7000
RATIO_MIN_BP = 3300
LANG_KEEP = "en"


def quality_bp_col(df: DataFrame, text_col: str = "text",
                   out: str = "quality_bp",
                   tokens: Column | None = None,
                   norm: Column | None = None) -> DataFrame:
    """Append ``textstats.quality_score``'s integer quality_bp (same
    formula, same bigint div arithmetic) without collapsing the frame to
    the metric projection — the cascade form that composes in one scan.
    ``tokens``/``norm`` optionally supply already-materialized token
    array / normalized-text columns (see dedup.eval_once) so the cascade
    does not re-run tokenization per signal."""
    t = F.col(text_col)
    toks = _tokens(t) if tokens is None else tokens
    nrm = normalized(t) if norm is None else norm
    from .textstats import ALNUM_WS
    tmp = (df
           .withColumn("_qc", F.length(t).cast("bigint"))
           .withColumn("_qt", F.size(toks).cast("bigint"))
           # translate, not negated-class regexp_replace — identical
           # count, ~4x cheaper (see textstats.ALNUM_WS)
           .withColumn("_qp", F.length(
               F.translate(t, ALNUM_WS, "")).cast("bigint"))
           .withColumn("_qw", F.length(
               F.translate(nrm, " ", "")).cast("bigint")))
    punct_term = F.when(F.col("_qc") > 0,
                        F.least(F.expr("(15000 * _qp) div _qc"),
                                F.lit(3000))).otherwise(F.lit(0))
    wlen_term = F.when(F.col("_qt") > 0,
                       F.least(F.expr("(375 * _qw) div _qt"),
                               F.lit(3000))).otherwise(F.lit(0))
    qbp = (F.least(20 * F.col("_qc"), F.lit(4000))
           + (F.lit(3000) - punct_term) + wlen_term).cast("bigint")
    return (tmp.withColumn(out, qbp)
            .drop("_qc", "_qt", "_qp", "_qw"))


def lang_pred_col(text_col: str = "text",
                  tokens: Column | None = None) -> Column:
    """``textstats.lang_id``'s argmax stopword vote as a single column
    expression (same deterministic tiebreak: earlier language wins).
    ``tokens`` optionally supplies a materialized token array column."""
    toks = F.array_distinct(
        _tokens(F.col(text_col)) if tokens is None else tokens)
    votes = {lang: F.size(F.array_intersect(
        toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]])))
        for lang in sorted(STOPWORDS)}
    best = F.greatest(*votes.values())
    pred = F.lit("und")
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when((votes[lang] == best) & (best > 0),
                      F.lit(lang)).otherwise(pred)
    return pred


def distinct_ratio_bp_col(text_col: str = "text",
                          tokens: Column | None = None) -> Column:
    """Distinct-word ratio in basis points over normalized tokens — the
    ``repetition_stats`` signal as one expression (n_words >= 1 always:
    split of an empty normalized string is ['']). ``tokens`` optionally
    supplies a materialized token array column."""
    w = _tokens(F.col(text_col)) if tokens is None else tokens
    return ((F.lit(10000) * F.size(F.array_distinct(w)).cast("bigint"))
            / F.size(w).cast("bigint")).cast("bigint")


def token_budget_sample(df: DataFrame, budgets: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        source_col: str = "source") -> DataFrame:
    """Deterministic token-budget mixture sampling — the "data mixing"
    step that assembles a training corpus to target per-source token
    weights. Documents are scanned per source in md5(id) pseudo-random
    order (same re-run months later picks the same docs, the
    ``stratified_sample`` reproducibility contract) and kept while the
    INCLUSIVE running token total stays within that source's budget
    (greedy prefix: a document that would overshoot is dropped, as is
    everything after it in the order).

    ``budgets``: a small (source, token_budget) frame — broadcast to
    the scan, never shuffling the corpus for it.

    Returns kept docs: (doc_id, source, ws_tokens, cum_tokens, mix_rank,
    token_budget).

    Scale: the running sum is a per-source window — fine up to sources
    of ~10^7 docs; for a mega-source the window serializes on one task."""
    t = F.col(text_col)
    base = df.select(
        F.col(id_col), F.col(source_col),
        F.size(_tokens(t)).cast("bigint").alias("ws_tokens"),
        F.md5(F.col(id_col).cast("string")).alias("_h"))
    joined = base.join(F.broadcast(budgets), source_col)
    from pyspark.sql import Window
    w = Window.partitionBy(source_col).orderBy("_h", id_col)
    ranked = (joined
              .withColumn("cum_tokens", F.sum("ws_tokens").over(w))
              .withColumn("mix_rank", F.row_number().over(w)))
    return (ranked.filter(F.col("cum_tokens") <= F.col("token_budget"))
            .select(id_col, F.col(source_col).alias("source"),
                    "ws_tokens", "cum_tokens", "mix_rank", "token_budget")
            .orderBy("source", "mix_rank"))


def _signal_frame(df: DataFrame, id_col: str, text_col: str,
                  source_col: str) -> DataFrame:
    """One-scan per-document signals for the cascade: (id, source, _h
    content hash, _ws whitespace tokens, _lang, _ratio, quality_bp).

    The normalized text and token array each materialize ONCE per row
    behind eval_once barriers — the hash, token-count, language-vote,
    ratio and quality signals all consume the attributes instead of each
    re-running the tokenize tree (~12 evaluations per row before)."""
    from .dedup import eval_once

    t = F.col(text_col)
    base = eval_once(df.select(F.col(id_col), F.col(source_col), t),
                     "_norm", normalized(t))
    base = eval_once(base, "_toks", F.split(F.col("_norm"), " "))
    toks = F.col("_toks")
    return (quality_bp_col(base.select(
        F.col(id_col), F.col(source_col),
        F.md5(F.col("_norm")).alias("_h"),
        F.size(toks).cast("bigint").alias("_ws"),
        lang_pred_col(text_col, tokens=toks).alias("_lang"),
        distinct_ratio_bp_col(text_col, tokens=toks).alias("_ratio"),
        t.alias(text_col), F.col("_norm"), toks.alias("_toks2")),
        text_col=text_col, tokens=F.col("_toks2"), norm=F.col("_norm"))
        .drop(text_col, "_norm", "_toks2"))


def _summarize(verdict: DataFrame, source_col: str) -> DataFrame:
    b = F.col("_bucket")
    cnt = lambda name: F.sum(  # noqa: E731
        F.when(b == name, 1).otherwise(0)).cast("bigint")
    return (verdict.groupBy(F.col(source_col).alias("source"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 cnt("dup").alias("n_dup"),
                 cnt("lang").alias("n_lang"),
                 cnt("quality").alias("n_quality"),
                 cnt("repetitive").alias("n_repetitive"),
                 cnt("kept").alias("n_kept"),
                 F.sum(F.when(b == "kept", F.col("_ws"))
                       .otherwise(F.lit(0))).cast("bigint")
                 .alias("tokens_kept"))
            .orderBy("source"))


def _bucketize(sig: DataFrame, dup_cond, lang_keep: str,
               quality_min_bp: int, ratio_min_bp: int) -> DataFrame:
    return sig.withColumn("_bucket", F.when(dup_cond, F.lit("dup"))
                          .when(F.col("_lang") != lang_keep,
                                F.lit("lang"))
                          .when(F.col("quality_bp") < quality_min_bp,
                                F.lit("quality"))
                          .when(F.col("_ratio") < ratio_min_bp,
                                F.lit("repetitive"))
                          .otherwise(F.lit("kept")))


def packing_plan(df: DataFrame, seq_len: int, id_col: str = "doc_id",
                 text_col: str = "text", n_buckets: int = 64) -> DataFrame:
    """Sequence-packing plan: documents are concatenated in id order
    into fixed ``seq_len``-token training sequences (documents split
    across pack boundaries — the standard concat-and-cut packing), and
    each document gets its token interval and pack span WITHOUT the
    planner ever touching token text:
    (doc_id, ws_tokens, start_offset, end_offset, first_pack,
    last_pack).

    The global running offset is a DISTRIBUTED prefix sum, not a
    single-task global window: per-id-range bucket token totals (one
    tiny row per bucket) collect to the driver, prefix-sum there, and
    broadcast back as a literal bucket->offset map; inside a bucket the
    cumsum is a bucket-partitioned window. At 100 TB, n_buckets scales
    with the partition count and the driver still only sees one long
    per bucket — no exchange ever carries more than the per-doc rows it
    already had. (A plain ``sum() over (order by id)`` window would
    funnel the whole corpus through ONE task; the plan test asserts no
    unpartitioned window exists.)"""
    t = F.col(text_col)
    base = df.select(F.col(id_col),
                     F.size(_tokens(t)).cast("bigint").alias("ws_tokens"))
    lo, hi = base.agg(F.min(id_col), F.max(id_col)).first()
    width = max(1, (int(hi) - int(lo) + n_buckets) // n_buckets)
    b = base.withColumn(
        "_bkt", ((F.col(id_col) - F.lit(int(lo))) / width).cast("bigint"))
    sums = {int(r["_bkt"]): int(r["s"]) for r in
            b.groupBy("_bkt").agg(F.sum("ws_tokens").alias("s")).collect()}
    offsets, acc = {}, 0
    for k in sorted(sums):
        offsets[k] = acc
        acc += sums[k]
    omap = F.create_map(*[F.lit(x) for kv in sorted(offsets.items())
                          for x in kv])
    from pyspark.sql import Window
    w = Window.partitionBy("_bkt").orderBy(id_col)
    start = (F.sum("ws_tokens").over(w) - F.col("ws_tokens")
             + omap[F.col("_bkt")])
    return (b.withColumn("start_offset", start)
            .withColumn("end_offset",
                        F.col("start_offset") + F.col("ws_tokens") - 1)
            .select(F.col(id_col).alias("doc_id"), "ws_tokens",
                    "start_offset", "end_offset",
                    F.expr(f"start_offset div {seq_len}")
                    .alias("first_pack"),
                    F.expr(f"end_offset div {seq_len}").alias("last_pack"))
            .orderBy("doc_id"))


def curation_summary(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", source_col: str = "source",
                     lang_keep: str = LANG_KEEP,
                     quality_min_bp: int = QUALITY_MIN_BP,
                     ratio_min_bp: int = RATIO_MIN_BP,
                     canonical: str = "min_id") -> DataFrame:
    """Per-source curation audit: (source, n_docs, n_dup, n_lang,
    n_quality, n_repetitive, n_kept, tokens_kept). Buckets are disjoint
    and exhaustive (fixed precedence), tokens_kept sums whitespace
    tokens over surviving documents only.

    ``canonical`` picks each exact-dup group's survivor: ``min_id``
    (the default, stable across ingests) or ``best_quality`` (keep the
    highest-quality_bp copy, ties -> min id — the components.keep_best
    policy applied inside the cascade; same map-side max(struct)
    argmax, still one aggregate on the hash)."""
    if canonical not in ("min_id", "best_quality"):
        raise ValueError(f"canonical must be min_id|best_quality: "
                         f"{canonical}")
    sig = _signal_frame(df, id_col, text_col, source_col)
    if canonical == "best_quality":
        best = F.max(F.struct(F.col("quality_bp").alias("q"),
                              (-F.col(id_col)).alias("neg_id")))
        winners = (sig.groupBy("_h").agg(best.alias("_b"))
                   .select("_h", (-F.col("_b.neg_id")).alias("_canon")))
    else:
        winners = sig.groupBy("_h").agg(F.min(id_col).alias("_canon"))
    verdict = _bucketize(sig.join(winners, "_h"),
                         F.col(id_col) != F.col("_canon"),
                         lang_keep, quality_min_bp, ratio_min_bp)
    return _summarize(verdict, source_col)


def curation_summary_incremental(new_df: DataFrame, index: DataFrame,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 source_col: str = "source",
                                 lang_keep: str = LANG_KEEP,
                                 quality_min_bp: int = QUALITY_MIN_BP,
                                 ratio_min_bp: int = RATIO_MIN_BP
                                 ) -> DataFrame:
    """The ingest-time form of ``curation_summary``: the dup stage
    probes the persistent content-hash index (``build_hash_index``)
    instead of re-shuffling the full corpus — a new document is a dup
    if its hash is indexed (unless it IS the index canonical:
    re-ingest idempotence) or a lower-id batch-mate shares the hash,
    exactly ``dedup_against_index``'s verdict set. O(new) per ingest;
    every other stage is stateless per document. Cross-batch dup
    memory is the index's job — append it off-path
    (``build_hash_index`` union) like the MinHash cycle."""
    from .dedup import dedup_against_index

    dups = (dedup_against_index(new_df, index, id_col, text_col)
            .select(F.col("doc_id").alias(id_col)).distinct()
            .withColumn("_isdup", F.lit(True)))
    sig = _signal_frame(new_df, id_col, text_col, source_col)
    verdict = _bucketize(sig.join(dups, id_col, "left"),
                         F.col("_isdup").isNotNull(),
                         lang_keep, quality_min_bp, ratio_min_bp)
    return _summarize(verdict, source_col)

