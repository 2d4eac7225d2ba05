"""Deduplication operators for training-data pipelines.

All Spark-first, no Python in the hot path:

- exact:        md5 hash-groupBy duplicate groups
- set-sim:      inverted-index shingle join, the standard distributed
                set-similarity join (explode distinct shingles, equi-join
                on shingle, count intersections IN the aggregation). Skew
                guard: shingles with document frequency > max_df are
                dropped from the join (drop_hot_tokens — the stop-shingle
                / prefix-filter cap) and re-enter exactly via tiny
                per-doc hot-shingle sets, so scores stay exact.
- MinHash+LSH:  per-doc signature via array_min over hashed shingles
                (NO explode, narrow transform), banded bucket join for
                candidates, exact-Jaccard verification of candidates.
                Skew guard: buckets above bucket_cap members switch from
                all-pairs to chained pairing (linear, still connected).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BIG = 2_147_483_647


def normalized(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def eval_once(df: DataFrame, alias: str, col: Column) -> DataFrame:
    """Append ``col`` to ``df`` evaluated exactly ONCE per row.

    Catalyst's CollapseProject inlines a projected expression into every
    downstream use, and neither the interpreted path (higher-order
    functions are CodegenFallback) nor codegen subexpression elimination
    recovers the sharing across a collapsed projection — so an expensive
    array expression referenced N times (tokenize -> slice -> zip_with
    chains) is re-evaluated N times per row. Measured on the 50k-doc
    proxy: repetition_stats 12.2s -> 5.2s, shingling similarly, once the
    token array is forced to evaluate once.

    A Generate (explode of a one-element array) is the barrier: the
    generator's output is a real attribute of the child plan, so every
    downstream expression references the materialized value instead of
    inlining the tree. Row multiplicity is unchanged for ANY input —
    ``array(col)`` always has exactly one element (a NULL value yields
    one row with a NULL attribute), unlike exploding ``col`` itself."""
    return df.select("*", F.explode(F.array(col)).alias(alias))


def ordered_output(df: DataFrame, *cols: str) -> DataFrame:
    """Globally ordered result via a single-partition sort — for
    BOUNDED outputs whose upstream is expensive.

    ``orderBy`` plans a range exchange whose partitioner SAMPLES the
    child: every partition of the unsorted result is fully evaluated
    once for the sample and again for the real pass — for a pair join
    that emits 100 thresholded rows from a 10^8-row intermediate, the
    sort's sampling pass doubles the whole query. Collapsing the
    (small) result to one partition and sorting within it yields the
    exact same collected row order with ONE evaluation of the child
    and no sampling. Only for outputs far smaller than their upstream
    (threshold-filtered pair lists, top-k tables); corpus-sized results
    keep orderBy's parallel range sort."""
    return df.repartition(1).sortWithinPartitions(*cols)


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash: (hash, n_docs, canonical_id).
    One shuffle on the hash; partial aggregation absorbs repeats map-side."""
    return (df.select(F.md5(normalized(F.col(text_col))).alias("content_hash"),
                      F.col(id_col))
            .groupBy("content_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min(id_col).alias("canonical_id"))
            .filter(F.col("n_docs") > 1)
            .orderBy("content_hash"))


def build_hash_index(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Content-hash index of a corpus: (content_hash, canonical_id) for
    EVERY distinct hash (not just duplicated ones) — the artifact
    incremental ingest dedups against. canonical = min id, matching
    ``exact_dup_groups``.

    Scale: at the 100-TB target the index is written bucketed by
    content_hash (``writeTo(...).partitionedBy(bucket(N, content_hash))``
    on an Iceberg catalog, plain ``bucketBy`` on a warehouse table) so
    the per-ingest join below is a co-located merge join instead of a
    full index shuffle; the sandbox catalog has no bucketed-write
    surface, so the seam is documented here and the join stays an
    ordinary hash-partitioned equi-join."""
    return (df.select(F.md5(normalized(F.col(text_col)))
                      .alias("content_hash"), F.col(id_col))
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("canonical_id")))


def dedup_against_index(new_df: DataFrame, index: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Incremental exact dedup: report each NEW document that duplicates
    the indexed corpus (canonical from the index, source='index') or
    another new document (canonical = min new id among the not-indexed
    copies, source='batch') — the O(new) ingest-time form of
    ``exact_dup_groups``, which would re-shuffle the full corpus on
    every ingest.

    One shuffle of the new batch on content_hash serves both the
    min-id aggregate and the joins (co-partitioned, exchange reused;
    co-located against the index when it is hash-bucketed, see
    ``build_hash_index``). Deliberately ROW-BASED — no per-hash
    collect_list: a crawl corpus's boilerplate head can put 10^6+
    copies behind one hash, and a list aggregate would hold that whole
    group in one buffer. Updating the index afterwards is
    ``index.unionByName(build_hash_index(new_df)).groupBy(hash).min``
    — append-shaped, no rewrite of unrelated buckets."""
    hashed = new_df.select(
        F.md5(normalized(F.col(text_col))).alias("content_hash"),
        F.col(id_col).cast("bigint").alias(id_col))
    mins = (hashed.groupBy("content_hash")
            .agg(F.min(id_col).alias("_min_new")))
    joined = (hashed
              .join(mins, "content_hash")
              .join(index.withColumnRenamed("canonical_id", "_idx_canon"),
                    "content_hash", "left"))
    # indexed hash: every new copy is a dup of the index canonical
    # (the canonical itself never self-reports, so re-ingesting indexed
    # docs is idempotent). unindexed hash: the min new id is the (new)
    # canonical, the rest are batch-internal dups. One filter covers
    # both branches.
    canonical = F.coalesce("_idx_canon", "_min_new")
    return (joined
            .filter(F.col(id_col) != canonical)
            .select("content_hash", F.col(id_col).alias("doc_id"),
                    canonical.alias("canonical_id"),
                    F.when(F.col("_idx_canon").isNotNull(), F.lit("index"))
                    .otherwise(F.lit("batch")).alias("source"))
            .orderBy("content_hash", "doc_id"))


def has_shingles(df: DataFrame, text_col: str = "text",
                 k: int = 3) -> bool:
    """True iff ``df`` carries a `shingles` column that with_shingles
    itself built with the SAME (text_col, k) — verified via the column's
    schema metadata marker, so a user corpus that happens to contain a
    column named 'shingles' (or a re-shingle at a different k) is never
    silently trusted."""
    if "shingles" not in df.columns:
        return False
    meta = df.schema["shingles"].metadata
    return (meta.get("sg_shingles") is True
            and meta.get("text_col") == text_col
            and meta.get("k") == k)


def with_shingles(df: DataFrame, text_col: str = "text",
                  k: int = 3) -> DataFrame:
    """Distinct word k-shingles per doc — narrow, JVM-side (higher-order
    fns, no UDF). Idempotent: a frame whose `shingles` column this
    function built with the same (text_col, k) — attested by a schema
    metadata marker, see ``has_shingles`` — passes through, so callers
    can shingle (and persist) once and feed the result to every
    consumer. Any other `shingles` column (user data, different k) is
    REPLACED with a freshly computed one rather than trusted."""
    if has_shingles(df, text_col, k):
        return df
    # the token array is materialized once per row behind an eval_once
    # barrier (the slice/size/when consumers below would otherwise each
    # re-run the split+regexp tokenization — ~6 evaluations per row)
    base = eval_once(df.drop("shingles"), "_sg_toks",
                     F.split(normalized(F.col(text_col)), " "))
    tokens = F.col("_sg_toks")
    n_sh = F.size(tokens) - (k - 1)
    # zip_with over k shifted slices, NOT transform(sequence, i ->
    # element_at(tokens, i+j)): Catalyst inlines the split() into every
    # lambda use, so the element_at form re-tokenizes the text per
    # shingle — O(len^2) per doc. Slices evaluate the token array O(k)
    # times per ROW.
    shingles = F.slice(tokens, 1, n_sh)
    for j in range(1, k):
        nxt = F.slice(tokens, j + 1, n_sh)
        shingles = F.zip_with(shingles, nxt,
                              lambda a, b: F.concat(a, F.lit(" "), b))
    built = (F.when(F.size(tokens) >= k, F.array_distinct(shingles))
             .otherwise(F.array().cast("array<string>"))
             .alias("shingles", metadata={"sg_shingles": True,
                                          "text_col": text_col, "k": k}))
    keep = [c for c in df.columns if c != "shingles"]
    return base.select(*keep, built)


def drop_hot_tokens(exploded: DataFrame, token_col: str,
                    max_df: int) -> DataFrame:
    """Stop-token (prefix-filter analog) skew guard for inverted-index
    self-joins: remove tokens whose document frequency exceeds ``max_df``
    before the equi-join. A hot token ("in the" as a shingle, boilerplate
    winnow fingerprints) otherwise lands df(t)^2/2 pair rows on ONE
    reducer — quadratic in the hottest frequency, the scale-killer of any
    similarity self-join on a crawl corpus. Cost: one aggregation on the
    same key the join shuffles on, plus a broadcast anti-join (the hot set
    is tiny by construction — it's the distribution's head)."""
    hot = (exploded.groupBy(token_col)
           .agg(F.count(F.lit(1)).alias("_df"))
           .filter(F.col("_df") > max_df)
           .select(token_col))
    return exploded.join(F.broadcast(hot), token_col, "left_anti")


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3,
                  threshold: float = 0.5,
                  max_df: int = 1024) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: capped inverted-index
    candidate generation with aggregation-side intersection counting.

    Plan: shingles -> explode -> split hot (document frequency >
    ``max_df``; the stop-shingle / prefix-filter cap, see
    ``drop_hot_tokens``) from cold -> self-equi-join the COLD postings
    (id1 < id2) -> groupBy(pair) count = |cold intersection| (map-side
    partial agg absorbs the pair fan-out; no per-pair array work) ->
    join per-doc stats (shingle count + the doc's tiny hot-shingle set)
    and add |hot_1 ∩ hot_2| back -> EXACT Jaccard
    n_inter / (n1 + n2 - n_inter) -> threshold filter.

    The cap bounds each reducer's pair expansion at max_df^2/2; emitted
    scores stay exact because the hot shingles re-enter through the
    per-doc hot sets (bounded: a doc rarely holds many corpus-head
    shingles, and the correction join is doc-level, not pair-explosion
    level). A pair is only missed entirely if EVERY shingle it shares is
    hot — wall-to-wall boilerplate, exact-dedup territory.
    ``max_df=None`` disables the cap.

    ORDER OF OPERATIONS on dup-heavy corpora (measured, 500k-doc 100x
    stress probe in `git show 3abe443:BENCH/BASELINE.md`): duplication itself is the
    quadratic term — a corpus whose template shingles sit at df~100
    keeps them BELOW the default cap, and the exact join legitimately
    does ~df^2 work per shingle (>10min where LSH+verify takes 156s).
    Run ``exact_dup_groups`` first and similarity-join only the
    canonical survivors (500k -> 40k uniques -> 51s there), or use the
    LSH path as the primary near-dup operator at scale.

    Perf note: a previous version verified candidates by re-joining the
    FULL shingle arrays and computing array_intersect per pair — per-pair
    O(|shingles|) work over a candidate set that is quadratic in shingle
    frequency, 9x slower at sf0.1. Counting intersections IN the join
    aggregation keeps the work linear in posting-list pair rows.

    CACHE LIFETIME: the shingled corpus is persist()ed (MEMORY_AND_DISK)
    and the lazy result cannot unpersist it — long-lived sessions that
    dedup many corpora should call ``spark.catalog.clearCache()`` between
    corpora or the caches accumulate unboundedly.
    """
    # materialize the shingled corpus once: the hot-shingle aggregation,
    # the cold anti-join, the hot-set semi-join, the self-join, AND the
    # per-doc stats branch all descend from it, and Spark re-runs the
    # tokenize+shingle lineage per consumer (it reuses exchanges, not
    # narrow subplans) — measured ~4x the shingling cost at sf0.1.
    # Persisted PRE-explode (arrays, smaller than the posting rows) so
    # one materialization covers every branch; a production-scale dedup
    # writes this table to storage before its join phase for the same
    # reason. MEMORY_AND_DISK: spills rather than OOMs. Storage scope is
    # the Spark session — long-lived sessions running dedup over many
    # corpora should spark.catalog.clearCache() between them (the
    # returned DataFrame is lazy, so this function cannot unpersist).
    # A PRE-SHINGLED input (has_shingles attested) is the caller saying
    # it owns materialization — every branch reads the caller's frame
    # (typically persisted once and shared with minhash/LSH consumers),
    # so no second cache copy is made here.
    pre = has_shingles(df, text_col, k)
    base = df.select(*([id_col, text_col, "shingles"] if pre
                       else [id_col, text_col]))
    docs = (with_shingles(base, text_col, k)
            .select(F.col(id_col).alias("doc"), "shingles",
                    F.size("shingles").alias("n_sh")))
    if not pre:
        docs = docs.persist()
    sh = (docs.select("doc", "n_sh", F.explode("shingles").alias("sh"))
          .filter(F.col("sh") != ""))

    if max_df is not None:
        hot = (sh.groupBy("sh")
               .agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_df)
               .select("sh"))
        cold = sh.join(F.broadcast(hot), "sh", "left_anti")
        hot_per_doc = (sh.join(F.broadcast(hot), "sh", "left_semi")
                       .groupBy("doc")
                       .agg(F.collect_set("sh").alias("hot_sh")))
    else:
        cold = sh
        hot_per_doc = None

    a, b = cold.alias("a"), cold.alias("b")
    # SHUFFLE_HASH, not the default sort-merge: the posting rows are
    # narrow (doc, shingle) and each partition's build table is
    # postings/shuffle_partitions rows — exactly the moderate-build-side
    # case the guide (§3.1) prefers hashed joins for, while sort-merge
    # pays two string sorts plus many-to-many merge buffering for the
    # df^2 pair expansion (measured 15.9s -> 6.8s at the proxy). At the
    # warehouse, shuffle partitions are sized to the 100-500MB range, so
    # the per-partition build stays in memory by construction.
    #
    # LENGTH-BAND PRUNE inside the join condition (guide §3.2 — reduce
    # the pair stream before it costs anything downstream): J(x,y) <=
    # n_min/n_sh_max, so a pair whose shingle-set sizes differ by more
    # than the threshold ratio can never reach it and is dropped during
    # probe, before the pair aggregation ever sees it. Both engines emit
    # round(J, 4) >= t, so the sound bound keeps every pair that could
    # ROUND to t: n_min >= (t - 5.1e-5) * n_max (a pair below that has
    # J < t - 5e-5 and cannot round up to t); the extra 1e-9 absorbs
    # float multiply error. Prunes ~40% of pair rows on mixed-length
    # corpora; exact output unchanged by construction.
    ratio = float(threshold) - 5.1e-5
    inter = (a.hint("SHUFFLE_HASH")
             .join(b, (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.doc") < F.col("b.doc"))
                   & (F.col("b.n_sh").cast("double")
                      >= F.col("a.n_sh") * ratio - 1e-9)
                   & (F.col("a.n_sh").cast("double")
                      >= F.col("b.n_sh") * ratio - 1e-9))
             # project the pair stream to its two longs and re-spread it
             # over many small partitions BEFORE the count aggregation:
             # at the default core-count partitioning each partial-agg
             # task held millions of (d1, d2) groups (hash map beyond
             # the fast-map tier, sort-based fallback under memory
             # pressure — guide §5); an explicit user repartition is
             # exempt from AQE coalescing, so the per-task group count
             # stays bounded and the agg map stays in the hash tier.
             # The exchange carries 16-byte rows — cheaper than the
             # fallback sorts it removes (cold 28.5s -> 7.4s at the
             # 50k-doc proxy; warm 7.7s -> 7.1s).
             # n_sh rides the aggregation as extra GROUP KEYS — it is a
             # function of the doc id, so the groups are unchanged, and
             # the per-doc set sizes arrive at the jaccard computation
             # WITHOUT joining the pair table (pre-threshold, ~pair-rows
             # sized) against the corpus-sized per-doc stats twice: the
             # only remaining join is against the SPARSE hot-shingle map
             # (only docs holding a >max_df shingle appear — empty on
             # most corpora). Partitioning on (d1, d2) alone still
             # satisfies the 4-key clustering (subset rule), so no
             # second exchange appears.
             .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"),
                     F.col("a.n_sh").alias("n1"), F.col("b.n_sh").alias("n2"))
             .repartition(
                 a.sparkSession.sparkContext.defaultParallelism * 8,
                 "d1", "d2")
             .groupBy("d1", "d2", "n1", "n2")
             .agg(F.count(F.lit(1)).alias("n_cold")))
    empty = F.array().cast("array<string>")
    h1 = hot_per_doc.select(F.col("doc").alias("_h1d"),
                            F.col("hot_sh").alias("_h1s")) \
        if max_df is not None else None
    h2 = hot_per_doc.select(F.col("doc").alias("_h2d"),
                            F.col("hot_sh").alias("_h2s")) \
        if max_df is not None else None
    if max_df is not None:
        inter = (inter
                 .join(h1, F.col("d1") == F.col("_h1d"), "left")
                 .join(h2, F.col("d2") == F.col("_h2d"), "left"))
        hot_inter = F.size(F.array_intersect(
            F.coalesce(F.col("_h1s"), empty),
            F.coalesce(F.col("_h2s"), empty)))
    else:
        hot_inter = F.lit(0)
    n_inter = F.col("n_cold") + hot_inter
    return (inter
            .select("d1", "d2",
                    F.round(n_inter / (F.col("n1") + F.col("n2")
                                       - n_inter), 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
            .transform(lambda d: ordered_output(d, "d1", "d2")))


def minhash_signature(df: DataFrame, n_hashes: int = 64,
                      text_col: str = "text", k: int = 3,
                      id_col: str = "doc_id") -> DataFrame:
    """MinHash signature per doc: sig_i = min over shingles of
    hash(shingle, seed_i).

    Execution: ONE `xxhash64(shingle)` base hash per shingle in the JVM
    (an eval_once'd `transform` over the shingle array — no explode, no
    shuffle: each doc's fold is row-local), then the n_hashes per-seed
    hashes derive from the bases in vectorized numpy inside mapInArrow.
    Spark's `xxhash64(sh, lit(i))` folds children left-to-right — the
    string's hash seeds a single int32 step — so per-seed values are
    `XXH64(le4(i), seed=xxhash64(sh))`, a ~10-op branch-free uint64
    formula over the base vector (xxh64.hash_int32_seedvec, bit-equal
    to the JVM per tests). The previous explode + 64-min-aggregate form
    evaluated 64 full string hashes per posting row (166M at the 50k-doc
    proxy — the dominant index-build cost) and shuffled the postings;
    values are unchanged (pinned by tests/test_driver_extras.py).
    """
    import pyarrow as pa

    keep = [id_col, text_col] + (["shingles"]
                                 if has_shingles(df, text_col, k) else [])
    bases_expr = F.transform(
        F.filter(F.col("shingles"), lambda s: s != F.lit("")),
        lambda s: F.xxhash64(s))
    based = (eval_once(with_shingles(df.select(*keep), text_col, k),
                       "_bases", bases_expr)
             .filter(F.size("_bases") > 0)
             .select(F.col(id_col), F.col("_bases")))
    id_field = based.schema[id_col]
    out_schema = T.StructType([
        id_field, T.StructField("minhash", T.ArrayType(T.LongType()))])

    def _sigs(batches):
        import numpy as np

        from ..xxh64 import hash_int32_seedvec
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            bl = batch.column(1)
            flat = bl.flatten().to_numpy(zero_copy_only=False)
            lens = bl.value_lengths().to_numpy(zero_copy_only=False)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            mins = np.empty((len(lens), n_hashes), dtype=np.int64)
            for i in range(n_hashes):
                pm = np.mod(hash_int32_seedvec(i, flat), BIG)
                mins[:, i] = np.minimum.reduceat(pm, starts)
            offsets = pa.array(
                np.arange(len(lens) + 1, dtype=np.int32) * n_hashes)
            sig_arr = pa.ListArray.from_arrays(
                offsets, pa.array(mins.reshape(-1), pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [ids, sig_arr], names=[id_col, "minhash"])

    return based.mapInArrow(_sigs, out_schema)


def _band_buckets(sig: DataFrame, id_col: str = "doc_id",
                  n_hashes: int = 64, bands: int = 16) -> DataFrame:
    """(doc, band, bucket) LSH band-hash rows from a signature frame —
    the banding definition of ``lsh_candidate_pairs``."""
    rows = n_hashes // bands
    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(F.concat_ws(
                     ",", *[F.element_at("minhash", b * rows + r + 1)
                            .cast("string")
                            for r in range(rows)])).alias("bucket"))
        for b in range(bands)])
    return (sig.select(F.col(id_col).alias("doc"),
                       F.explode(band_structs).alias("bb"))
            .select("doc", "bb.band", "bb.bucket"))


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n_hashes: int = 64,
                        bands: int = 16, k: int = 3,
                        bucket_cap: int = 64,
                        chain: int = 8, sort: bool = True) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, bucket-join, with
    an explicit bucket-size cap.

    rows_per_band = n_hashes // bands; docs sharing any band bucket become
    candidates. Pair expansion is quadratic in bucket size, and crawl
    corpora have boilerplate buckets with 10^5 members — so buckets larger
    than ``bucket_cap`` switch from all-pairs to CHAINED pairing: members
    are ranked (deterministically, by doc id) and each pairs with its next
    ``chain`` neighbors. That bounds a B-member bucket at B*chain rows
    (linear) while keeping the bucket's pair graph CONNECTED — for dedup,
    transitive closure over the verified chain recovers the same duplicate
    group all-pairs would (members of an oversized bucket agree on a whole
    band, i.e. they are near-identical boilerplate). ``bucket_cap=None``
    disables the cap.
    """
    from pyspark.sql import Window

    sig = minhash_signature(df, n_hashes, text_col, k, id_col)
    buckets = _band_buckets(sig, id_col, n_hashes, bands)

    if bucket_cap is None:
        l, r = buckets.alias("l"), buckets.alias("r")
        return (l.join(r, (F.col("l.band") == F.col("r.band"))
                       & (F.col("l.bucket") == F.col("r.bucket"))
                       & (F.col("l.doc") < F.col("r.doc")))
                .select(F.col("l.doc").alias("d1"), F.col("r.doc").alias("d2"))
                .distinct()
                .transform(lambda d: d.orderBy("d1", "d2") if sort else d))

    # one shuffle on (band, bucket) serves both the size count and the
    # rank — the same partitioning the join itself needs
    w = Window.partitionBy("band", "bucket")
    sized = (buckets
             .withColumn("_sz", F.count(F.lit(1)).over(w))
             .withColumn("_rnk", F.row_number().over(w.orderBy("doc"))))

    small = sized.filter(F.col("_sz") <= bucket_cap)
    sl, sr = small.alias("l"), small.alias("r")
    small_pairs = (sl.join(sr, (F.col("l.band") == F.col("r.band"))
                           & (F.col("l.bucket") == F.col("r.bucket"))
                           & (F.col("l.doc") < F.col("r.doc")))
                   .select(F.col("l.doc").alias("d1"),
                           F.col("r.doc").alias("d2")))

    big = sized.filter(F.col("_sz") > bucket_cap)
    bl, br = big.alias("l"), big.alias("r")
    big_pairs = (bl.join(br, (F.col("l.band") == F.col("r.band"))
                         & (F.col("l.bucket") == F.col("r.bucket"))
                         & (F.col("r._rnk") > F.col("l._rnk"))
                         & (F.col("r._rnk") <= F.col("l._rnk") + chain))
                 .select(F.least("l.doc", "r.doc").alias("d1"),
                         F.greatest("l.doc", "r.doc").alias("d2")))

    # sort=False for seam writes and verify-stage consumers (both
    # re-order or aggregate downstream): the orderBy's range sampler
    # re-runs the distinct stage for an ordering nobody reads
    return (small_pairs.unionByName(big_pairs)
            .distinct()
            .transform(lambda d: d.orderBy("d1", "d2") if sort else d))


def minhash_lsh_dedup(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", threshold: float = 0.5,
                      n_hashes: int = 64, bands: int = 16,
                      k: int = 3, bucket_cap: int = 64,
                      chain: int = 8) -> DataFrame:
    """LSH candidates verified with exact Jaccard: join candidates back to
    shingle sets and keep pairs >= threshold. Verification touches only
    candidate docs — the LSH prefilter is what makes all-pairs tractable.

    CACHE LIFETIME: the shingled corpus is persist()ed and the lazy
    result cannot unpersist it — long-lived sessions deduping many
    corpora should ``spark.catalog.clearCache()`` between corpora."""
    # shingle ONCE for both arms (with_shingles is idempotent on this):
    # the banding path explodes these arrays for the signature agg, the
    # verification path intersects them per candidate — without the
    # persist each arm re-tokenizes the corpus from scratch. Storage
    # scope is the session (lazy result — see jaccard_pairs note). A
    # pre-shingled input means the caller owns materialization (shared
    # seam with the jaccard family) — don't double-cache it.
    if has_shingles(df, text_col, k):
        shingled = df
    else:
        shingled = with_shingles(df.select(id_col, text_col),
                                 text_col, k).persist()
    cand = lsh_candidate_pairs(shingled, id_col, text_col, n_hashes, bands,
                               k, bucket_cap, chain, sort=False)
    return verify_candidates(cand, shingled, id_col, text_col, k, threshold)


def verify_candidates(cand: DataFrame, df: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      k: int = 3, threshold: float = 0.5) -> DataFrame:
    """The exact-Jaccard verification stage of ``minhash_lsh_dedup``,
    over an already-computed candidate-pair table (columns ``d1``,
    ``d2``). Split out so the stage can be oracle-gated over an exported
    candidate seam: the LSH banding is engine-hash-seeded, but exact
    Jaccard over the raw text is arithmetic any engine reproduces.
    ``df`` is the corpus (pre-shingled frames pass through untouched —
    see ``with_shingles``); verification touches only candidate docs."""
    sh = (with_shingles(df, text_col, k)
          .select(F.col(id_col).alias("doc"), "shingles"))
    s1, s2 = sh.alias("s1"), sh.alias("s2")
    return (cand
            .join(s1, F.col("d1") == F.col("s1.doc"))
            .join(s2, F.col("d2") == F.col("s2.doc"))
            .select("d1", "d2",
                    F.round(
                        F.size(F.array_intersect("s1.shingles", "s2.shingles"))
                        / F.size(F.array_union("s1.shingles", "s2.shingles")),
                        4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
            .transform(lambda d: ordered_output(d, "d1", "d2")))
