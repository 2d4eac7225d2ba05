"""Text analysis operators: language ID, quality scoring, token counting,
fingerprinting. All pure column expressions (JVM, codegen) — text analysis
at 100 TB must not leave the executor JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import normalized

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans"],
}

# BPE-ish tokenizer regex: letter runs, digit runs, single non-space symbol
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# the 68 characters Java-regex `[A-Za-z0-9\s]` matches (no UNICODE flag:
# \s is exactly [ \t\n\x0B\f\r]) — spelled out so the punctuation count
# can be a `translate` (per-char map lookup in codegen) instead of a
# negated-class `regexp_replace`, which measured ~4x the cost of the
# whole rest of quality_score. `length(translate(t, ALNUM_WS, ''))`
# counts characters OUTSIDE the class — identical, for any input, to
# `length(t) - length(regexp_replace(t, '[^A-Za-z0-9\\s]', ''))`.
ALNUM_WS = ("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
            "0123456789 \t\n\x0b\f\r")


def _tokens(text: Column) -> Column:
    return F.split(normalized(text), " ")


def token_counts(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per doc."""
    t = F.col(text_col)
    return (df.select(
        F.col(id_col),
        F.size(_tokens(t)).alias("ws_tokens"),
        F.regexp_count(t, F.lit(TOKEN_RE)).alias("re_tokens"),
        F.length(t).alias("n_chars"))
        .orderBy(id_col))


def quality_score(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Deterministic quality heuristics: length, punctuation ratio, mean
    word length, stopword ratio — combined into a basis-point score
    (0..10000).

    All arithmetic is INTEGER (bigint division), never float: a score that
    lands on a rounding boundary must not flip between engines, so ratios
    are emitted as floor-divided basis points and the composite is a sum
    of exactly-computed integer terms:

        quality_bp = least(20*n_chars, 4000)                      # length
                   + 3000 - least(15000*n_punct div n_chars, 3000)  # punct
                   + least(375*word_chars div n_tokens, 3000)       # word len
    """
    t = F.col(text_col)
    n_chars = F.length(t).cast("bigint")
    # only TWO tokenizations here — an eval_once barrier was measured
    # slightly SLOWER (5.3s vs 4.5s at the proxy): the Generate's
    # per-row overhead exceeds one saved tokenize; the regex passes
    # dominate this operator, not the token array
    toks = _tokens(t)
    n_tokens = F.size(toks).cast("bigint")
    n_punct = F.length(F.translate(t, ALNUM_WS, "")).cast("bigint")
    word_chars = (F.length(F.translate(normalized(t), " ", ""))
                  .cast("bigint"))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(_tokens(t)), en_stop))

    div = lambda a, b: F.expr(f"CAST(({a}) AS BIGINT) div CAST(({b}) AS BIGINT)")  # noqa: E731
    out = df.select(
        F.col(id_col), n_chars.alias("n_chars"), n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"), word_chars.alias("word_chars"),
        n_stop.cast("bigint").alias("n_stop"))
    punct_bp = F.when(F.col("n_chars") > 0,
                      div("10000 * n_punct", "n_chars")).otherwise(F.lit(0))
    punct_term = F.when(F.col("n_chars") > 0,
                        F.least(div("15000 * n_punct", "n_chars"),
                                F.lit(3000))).otherwise(F.lit(0))
    wlen_x100 = F.when(F.col("n_tokens") > 0,
                       div("100 * word_chars", "n_tokens")).otherwise(F.lit(0))
    wlen_term = F.when(F.col("n_tokens") > 0,
                       F.least(div("375 * word_chars", "n_tokens"),
                               F.lit(3000))).otherwise(F.lit(0))
    quality_bp = (F.least(20 * F.col("n_chars"), F.lit(4000))
                  + (F.lit(3000) - punct_term) + wlen_term)
    return (out.select(
        F.col(id_col), "n_chars", "n_tokens",
        punct_bp.cast("bigint").alias("punct_bp"),
        wlen_x100.cast("bigint").alias("mean_word_len_x100"),
        (F.lit(1250) * F.col("n_stop")).cast("bigint").alias("stop_bp"),
        quality_bp.cast("bigint").alias("quality_bp"))
        .orderBy(id_col))


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: count per-language stopword hits over the
    distinct token set, argmax with deterministic tiebreak; 'und' when no
    hits. A real deployment swaps in char-n-gram profiles — the *shape*
    (vectorized votes + argmax) is what scales."""
    from .dedup import eval_once

    # distinct token set materializes once (eval_once barrier) — each
    # language's intersection would otherwise re-tokenize the text
    base = eval_once(df.select(F.col(id_col), F.col(text_col)),
                     "_toks", F.array_distinct(_tokens(F.col(text_col))))
    toks = F.col("_toks")
    votes = []
    for lang in sorted(STOPWORDS):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        votes.append(F.size(F.array_intersect(toks, arr)).alias(f"v_{lang}"))
    out = base.select(F.col(id_col), *votes)
    best = F.greatest(*[F.col(f"v_{lang}") for lang in sorted(STOPWORDS)])
    pred = F.lit("und")
    # reversed order so earlier languages win ties via later overwrite
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when((F.col(f"v_{lang}") == best) & (best > 0),
                      F.lit(lang)).otherwise(pred)
    return (out.withColumn("lang_pred", pred)
            .select(id_col, "lang_pred", *[f"v_{lang}" for lang in sorted(STOPWORDS)])
            .orderBy(id_col))


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the normalized text plus a coarse
    length band — the dedup-join key for exact + near-layout duplicates."""
    t = normalized(F.col(text_col))
    return (df.select(
        F.col(id_col),
        F.md5(t).alias("fp"),
        (F.floor(F.length(t) / 32) * 32).cast("bigint").alias("len_band"))
        .orderBy(id_col))


def _positional_shingles(df: DataFrame, text_col: str, k: int):
    """Token k-grams in document order (no dedup — winnowing is
    positional). Same zip_with-over-slices construction as dedup.py to
    avoid the lambda-inlining O(len^2) trap; the token array itself
    materializes once behind an eval_once barrier."""
    from .dedup import eval_once

    base = eval_once(df, "_pos_toks",
                     F.split(normalized(F.col(text_col)), " "))
    tokens = F.col("_pos_toks")
    n_sh = F.size(tokens) - (k - 1)
    sh = F.slice(tokens, 1, n_sh)
    for j in range(1, k):
        sh = F.zip_with(sh, F.slice(tokens, j + 1, n_sh),
                        lambda a, b: F.concat(a, F.lit(" "), b))
    return (base.withColumn(
        "_sh", F.when(F.size(tokens) >= k, sh)
        .otherwise(F.array().cast("array<string>")))
        .drop("_pos_toks"))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 4,
                        window: int = 4, sort: bool = True) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken MOSS
    scheme): hash every token k-gram (rolling position), take the minimum
    hash of each sliding window of ``window`` consecutive k-grams, emit
    the distinct selected minima as the doc's fingerprint set.

    Guarantees: any shared run of >= k+window-1 tokens between two docs
    shares at least one fingerprint. Execution: fully ROW-LOCAL, no
    shuffle before the final sort. The k-gram hashes stay JVM
    `xxhash64` (bit-exact vs every other consumer of the same hashes);
    the per-position sliding-window minima and the per-doc dedup run as
    ONE vectorized Arrow kernel (guide §4.2) — the previous
    `transform(sequence, i -> array_min(slice(_h, i, window)))` form
    was a CodegenFallback HOF chain allocating a fresh slice per
    position (~10M interpreted evaluations at the 50k-doc proxy, and
    the trailing orderBy's range sampler evaluated it all twice). The
    emitted (doc, fp) rows are identical: same xxhash64 values, the
    same truncated tail windows (`slice` past the end == a window
    clipped at the row boundary), the same per-doc distinct set.
    """
    from .dedup import eval_once

    import pyarrow as pa

    base = _positional_shingles(df.select(id_col, text_col), text_col, k)
    hashed = (eval_once(base, "_h",
                        F.transform("_sh", lambda s: F.xxhash64(s)))
              # NULL/short texts fold to an empty (or NULL) _sh and
              # produced no exploded rows before; drop them pre-kernel
              .filter(F.size("_h") > 0)
              .select(F.col(id_col), F.col("_h")))
    id_field = hashed.schema[id_col]
    out_schema = T.StructType([
        T.StructField("doc", id_field.dataType),
        T.StructField("fp", T.LongType())])
    w = int(window)

    def _fps(batches):
        import numpy as np
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            hl = batch.column(1)
            flat = hl.flatten().to_numpy(zero_copy_only=False) \
                .astype(np.int64, copy=False)
            lens = hl.value_lengths().to_numpy(zero_copy_only=False) \
                .astype(np.int64, copy=False)
            n = flat.shape[0]
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            row_idx = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            row_end = np.repeat(starts + lens, lens)
            # out[j] = min(h[j .. min(j+w-1, row_end))) — w-1 shifted
            # minimums with the shift masked at each row's boundary
            # (truncated tail windows, same as slice past the end)
            m = flat.copy()
            pos = np.arange(n, dtype=np.int64)
            big = np.iinfo(np.int64).max
            for s in range(1, w):
                src = pos + s
                shifted = np.where(src < row_end,
                                   flat[np.minimum(src, n - 1)], big)
                np.minimum(m, shifted, out=m)
            # distinct per (row, fp): lexsort + neighbor mask
            order = np.lexsort((m, row_idx))
            ri, mi = row_idx[order], m[order]
            keep = np.ones(len(order), dtype=bool)
            keep[1:] = (ri[1:] != ri[:-1]) | (mi[1:] != mi[:-1])
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(ri[keep])),
                 pa.array(mi[keep], pa.int64())],
                names=["doc", "fp"])

    out = hashed.mapInArrow(_fps, out_schema)
    # sort=False for consumers that re-order or aggregate downstream
    # (the fingerprint SEAM is re-sorted after its parquet round-trip
    # and aggregated by the pair stage): the global sort's range
    # sampler would run the Python stage twice and shuffle the whole
    # fingerprint table for an ordering nobody reads.
    return out.orderBy("doc", "fp") if sort else out


def winnow_pairs_from_fp(fp: DataFrame, min_shared: int = 3,
                         max_df: int = 1024) -> DataFrame:
    """The pair-counting stage of ``winnow_similar_pairs``, over an
    already-computed fingerprint table (columns ``doc``, ``fp``). Split
    out so the stage can be oracle-gated over an exported fingerprint
    seam: the fingerprints are engine-hash-seeded (xxhash64), but the
    hot-fingerprint cap + self-join + count is plain relational algebra
    any engine reproduces exactly.

    Fingerprints appearing in more than ``max_df`` documents are dropped
    before the self-join (the ``drop_hot_tokens`` skew guard): a
    boilerplate fingerprint shared by 10^5 docs is pure noise for
    similarity ranking but quadratic for the join. n_shared therefore
    counts DISCRIMINATIVE shared fingerprints — corpus-wide boilerplate
    doesn't make two documents "similar". ``max_df=None`` disables."""
    from .dedup import drop_hot_tokens

    if max_df is not None:
        fp = drop_hot_tokens(fp, "fp", max_df)
    from .dedup import ordered_output

    a, b = fp.alias("a"), fp.alias("b")
    # same SHUFFLE_HASH rationale as dedup.jaccard_pairs' posting join
    return (a.hint("SHUFFLE_HASH").join(
                   b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .transform(lambda d: ordered_output(d, "d1", "d2")))


def winnow_similar_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 4,
                         window: int = 4,
                         min_shared: int = 3,
                         max_df: int = 1024) -> DataFrame:
    """Doc pairs sharing >= min_shared winnowing fingerprints — the
    plagiarism/boilerplate detector: inverted-index equi-join on the
    fingerprint (same shape and skew profile as the shingle join); see
    ``winnow_pairs_from_fp`` for the skew-cap semantics."""
    return winnow_pairs_from_fp(
        winnow_fingerprints(df, id_col, text_col, k, window),
        min_shared, max_df)


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Intra-document repetition: distinct/total ratios for words and word
    bigrams, in exact integer basis points (10000 = fully repeated).

    Looping agents and boilerplate-heavy crawl text score high and get
    filtered before training. Pure JVM column expressions (codegen); the
    bigram array comes from zip_with over shifted slices (O(len), the same
    shape as dedup.shingles), and the ratios are floor-divided integers so
    the score never flips between engines on a rounding boundary.
    """
    from .dedup import eval_once

    # token and bigram arrays each materialize once per row (eval_once
    # barriers) — the distinct/size/ratio consumers below referenced the
    # inlined tokenize tree ~15x before (12.2s -> 5.2s at proxy scale)
    b1 = eval_once(df.select(F.col(id_col), F.col(text_col)),
                   "_toks", _tokens(F.col(text_col)))
    toks = F.col("_toks")
    grams_e = F.when(
        F.size(toks) > 1,
        F.zip_with(F.slice(toks, 1, F.size(toks) - 1),
                   F.slice(toks, 2, F.size(toks) - 1),
                   lambda a, b: F.concat(a, F.lit(" "), b))
    ).otherwise(F.array().cast("array<string>"))
    b2 = eval_once(b1, "_grams", grams_e)
    grams = F.col("_grams")
    n_words = F.size(toks).cast("bigint")
    d_words = F.size(F.array_distinct(toks)).cast("bigint")
    n_bi = F.greatest(n_words - 1, F.lit(0)).cast("bigint")
    d_bi = F.size(F.array_distinct(grams)).cast("bigint")
    word_rep = F.when(
        n_words > 0,
        F.lit(10000) - F.floor(F.lit(10000) * d_words / n_words)
    ).otherwise(F.lit(0)).cast("bigint")
    bi_rep = F.when(
        n_bi > 0,
        F.lit(10000) - F.floor(F.lit(10000) * d_bi / n_bi)
    ).otherwise(F.lit(0)).cast("bigint")
    return (b2.select(
        F.col(id_col),
        n_words.alias("n_words"),
        d_words.alias("distinct_words"),
        n_bi.alias("n_bigrams"),
        d_bi.alias("distinct_bigrams"),
        word_rep.alias("word_rep_bp"),
        bi_rep.alias("bigram_rep_bp"))
        .orderBy(id_col))


def top_ngrams(df: DataFrame, n: int = 2, k: int = 50,
               text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k n-gram frequencies with document frequency —
    the vocabulary-statistics pass (stop-shingle calibration, boilerplate
    discovery, tokenizer sanity checks) over normalized tokens.

    Returns (rank, gram, n_occurrences, n_docs), deterministic tiebreak
    (count desc, gram asc). Scale shape: the n-gram array is a zip_with
    over shifted slices (O(len), no per-position re-split); occurrences
    aggregate with map-side partials — a boilerplate mega-gram collapses
    to one row per map task before the exchange; doc frequency counts
    the DISTINCT per-doc grams (array_distinct before the explode, so
    the df-side traffic is bounded by vocabulary, not corpus length);
    top-k executes as TakeOrderedAndProject, never a global sort. The
    final rank window is deliberately unpartitioned: it runs AFTER
    limit(k), over k rows on one task — the corpus never sees it."""
    from .dedup import eval_once

    b1 = eval_once(df.select(F.col(text_col)), "_toks",
                   _tokens(F.col(text_col)))
    toks = F.col("_toks")
    joined = F.slice(toks, 1, F.size(toks) - (n - 1)) if n > 1 else toks
    for i in range(1, n):
        # zip_with is strictly binary: fold the n shifted slices
        joined = F.zip_with(joined,
                            F.slice(toks, 1 + i, F.size(toks) - (n - 1)),
                            lambda a, b: F.concat(a, F.lit(" "), b))
    grams_e = F.when(F.size(toks) >= n, joined).otherwise(
        F.array().cast("array<string>"))
    # token + gram arrays each evaluate once per row per branch (the
    # occurrence and doc-frequency branches are separate subtrees)
    b2 = eval_once(b1, "_grams", grams_e)
    grams = F.col("_grams")
    occ = (b2.select(F.explode(grams).alias("gram"))
           .groupBy("gram")
           .agg(F.count(F.lit(1)).alias("n_occurrences")))
    docs = (b2.select(F.explode(F.array_distinct(grams)).alias("gram"))
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("n_docs")))
    ranked = (occ.join(docs, "gram")
              .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
              .limit(k))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("gram"))
    return (ranked.withColumn("rank", F.row_number().over(w))
            .select("rank", "gram", "n_occurrences", "n_docs")
            .orderBy("rank"))


def top_terms_per_doc(df: DataFrame, k: int = 3,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document keyword extraction: top-k terms by an integer-exact
    tf/df salience score, ``score_bp = (10000 * tf) // df`` — the
    tf-idf ranking shape without float logarithms (a log-based idf can
    flip ties between engines/libms; the floor-divided ratio cannot).
    Deterministic tiebreak (score desc, term asc).

    Returns (doc_id, rank, term, tf, df, score_bp). Scale: term counts
    are one partial+final aggregate on (doc, term); the document
    frequency table is vocabulary-sized and joins on the term key
    (broadcast under AQE at small vocabularies); the top-k window
    partitions by document, so its partitions are bounded by document
    length."""
    toks = _tokens(F.col(text_col))
    tf = (df.select(F.col(id_col), F.explode(toks).alias("term"))
          .groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (df.select(F.explode(F.array_distinct(toks)).alias("term"))
             .groupBy("term")
             .agg(F.count(F.lit(1)).alias("df")))
    from pyspark.sql import Window
    scored = (tf.join(dfreq, "term")
              .withColumn("score_bp",
                          F.expr("(10000 * tf) div df").cast("bigint")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_bp").desc(), F.col("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col(id_col).alias("doc_id"), "rank", "term",
                    F.col("tf").cast("bigint").alias("tf"),
                    F.col("df").cast("bigint").alias("df"), "score_bp")
            .orderBy("doc_id", "rank"))


# control chars except \t \n \r — the bytes a healthy transcript never
# contains; identical character-class semantics in Java regex and RE2,
# so the Spark expression and the DuckDB oracle count the same matches
CONTROL_CHAR_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
REPLACEMENT_CHAR = "�"


def text_validity(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Encoding-corruption verdicts per document: value-domain checks
    the type system cannot see. Catches how transcript text actually
    rots: NULL payloads, whitespace-only/empty turns from truncated writes,
    raw control bytes from terminal capture or binary bleed-through,
    and U+FFFD replacement characters — the scar tissue a lossy
    re-encode leaves behind (mojibake's tombstone).

    Verdict priority: null_text > empty > control_chars >
    replacement_char > ok; measurement columns (``n_chars``,
    ``n_control``, ``n_replacement``) ride along so fences can run on
    the same scan.

    Scale shape: one scan, pure JVM regex/string expressions in
    WholeStageCodegen — no shuffle, no Python, no collect; consumers
    filter ``verdict != 'ok'`` so output is |bad|-sized.
    """
    return df.select(F.col(id_col), *text_validity_columns(text_col))


def text_validity_columns(text_col: str = "text") -> list:
    """The four validity columns (n_chars, n_control, n_replacement,
    verdict) as reusable expressions."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("bigint")
    n_control = F.regexp_count(t, F.lit(CONTROL_CHAR_RE)).cast("bigint")
    n_replacement = F.regexp_count(
        t, F.lit(REPLACEMENT_CHAR)).cast("bigint")
    verdict = (F.when(t.isNull(), "null_text")
               .when(F.length(F.trim(t)) == 0, "empty")
               .when(n_control > 0, "control_chars")
               .when(n_replacement > 0, "replacement_char")
               .otherwise("ok"))
    return [
        F.when(t.isNull(), None).otherwise(n_chars).alias("n_chars"),
        F.coalesce(n_control, F.lit(0)).alias("n_control"),
        F.coalesce(n_replacement, F.lit(0)).alias("n_replacement"),
        verdict.alias("verdict"),
    ]

