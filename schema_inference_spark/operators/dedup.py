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
- SimHash:      per-bit sign sums over token hashes (explode + one
                partial+final agg), Hamming-adjacent buckets.
"""

from __future__ import annotations

import atexit
import functools
import itertools
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# simhash pair-expansion spills (see simhash_pairs_from_fp): one private
# directory per process, removed at exit, and a monotone suffix so a later
# call never overwrites a spill an earlier lazy result may still read.
# next() on an itertools.count is atomic under the GIL, so concurrent
# callers in one process never draw the same suffix.
_SIMHASH_SPILL_SEQ = itertools.count(1)


@functools.lru_cache(maxsize=None)
def _simhash_spill_dir() -> str:
    d = tempfile.mkdtemp(prefix="sgraft_simhash_spill_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


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


def segment_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", seg_words: int = 10,
                  exact_first: bool = False) -> DataFrame:
    """Segment-level (line-level) exact dedup, the CCNet/RefinedWeb-style
    sub-document pass: split each document into fixed ``seg_words``-word
    segments, keep only each distinct segment's FIRST corpus-wide
    occurrence (ordered by (id, seg_idx)), and reconstruct the cleaned
    text from the surviving segments in their original order. A document
    whose every segment first appeared elsewhere (e.g. an exact
    duplicate of an earlier document) comes back with ``n_kept = 0`` and
    empty ``clean_text``.

    Returns ``(doc_id, n_segs, n_kept, clean_text)``, one row per input
    document.

    Scale shape: segmentation is a narrow ``transform`` over the split
    word array — no explode-then-regroup round trip for the SEGMENTATION
    itself; only the corpus-wide first-occurrence decision shuffles.
    The winner per segment value is a groupBy-min(struct) — partial
    aggregation absorbs hot boilerplate segments map-side, so a segment
    with 10^6 occurrences ships one (seg, winner) row per map task
    instead of one per occurrence (the skew guard a
    row_number-over-window formulation would lack). The corpus is
    scanned twice (probe side + winner side of the self-join); at the
    100-TB target the segmented frame is a persist-or-checkpoint
    candidate exactly like the shared shingle seam. At that scale the
    winner aggregation and join would also key on
    ``sha2(seg, 256)`` to ship 32 bytes instead of segment text; here
    both key on the segment string so the semantics are exactly the
    oracle's (and collision-free by construction).

    ``exact_first=True`` is the dup-heavy-corpus fast path and is
    PROVABLY output-identical: a verbatim copy's every (id, seg_idx) is
    pointwise dominated by its canonical's (canonical = min id, same
    text, same segmentation), so the corpus-wide winner set equals the
    winner set over exact-unique documents — exact duplicates can be
    routed straight to (n_kept=0, clean_text='') and only uniques
    segmented. The repo's standing crawl doctrine (run exact dedup
    before any set-similarity pass) applied in-operator; measured 4.6x
    (155.3s -> 33.7s, identical n_segs/n_kept totals) on the 500k-doc
    dup-heavy stress corpus (`git show 3abe443:BENCH/BASELINE.md`), vs a mild extra
    exchange of (md5, id) pairs on low-dup corpora."""
    if exact_first:
        eh = F.md5(F.col(text_col))
        canon = (df.select(F.col(id_col), eh.alias("_eh"))
                 .groupBy("_eh").agg(F.min(id_col).alias("_canon")))
        tagged = (df.select(F.col(id_col), F.col(text_col),
                            eh.alias("_eh"))
                  .join(canon, "_eh"))
        uniq = (tagged.filter(F.col(id_col) == F.col("_canon"))
                .select(id_col, text_col))
        base = segment_dedup(uniq, id_col, text_col, seg_words,
                             exact_first=False)
        dwords = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        dup_rows = (tagged.filter(F.col(id_col) != F.col("_canon"))
                    .select(F.col(id_col).alias("doc_id"),
                            F.ceil(F.size(dwords) / F.lit(seg_words))
                            .cast("bigint").alias("n_segs"),
                            F.lit(0).cast("bigint").alias("n_kept"),
                            F.lit("").alias("clean_text")))
        return base.unionByName(dup_rows).orderBy("doc_id")
    segs = _segments(df, id_col, text_col, seg_words)
    winners = (segs.groupBy("seg")
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("seg_idx").alias("s"))).alias("w")))
    # mark instead of filter: the reconstruction aggregate then also
    # yields n_segs and the n_kept=0 rows, so no third corpus scan and
    # no left join back to the source is needed (collect_list drops the
    # when()-null losers, keeping only surviving segment text)
    marked = (segs.join(winners, "seg")
              .withColumn("_keep", (F.col(id_col) == F.col("w.i")) &
                                   (F.col("seg_idx") == F.col("w.s"))))
    return (marked.groupBy(id_col)
            .agg(F.first("n_segs").alias("n_segs"),
                 F.sum(F.col("_keep").cast("bigint")).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("_keep"),
                                    F.struct("seg_idx", "seg")))),
                         lambda t: t.seg), " ").alias("clean_text"))
            .select(F.col(id_col).alias("doc_id"),
                    "n_segs", "n_kept", "clean_text")
            .orderBy("doc_id"))


def _segments(df: DataFrame, id_col: str, text_col: str,
              seg_words: int) -> DataFrame:
    """(id, n_segs, seg_idx, seg) — the shared segmentation projection
    of ``segment_dedup`` (narrow transform+slice, null text folds to
    one empty segment)."""
    words = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("bigint")
    return df.select(
        F.col(id_col),
        n_segs.alias("n_segs"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_segs - 1).cast("int")),
                lambda i: F.array_join(
                    F.slice(words, i * seg_words + 1, seg_words), " "))
        ).alias("seg_idx", "seg"))


def build_segment_index(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        seg_words: int = 10) -> DataFrame:
    """Segment-hash index of a corpus: (seg_hash, doc, seg_idx) — one
    row per DISTINCT segment value, attributed to its first corpus-wide
    occurrence (min (doc, seg_idx)) — the artifact incremental
    segment-level dedup probes. md5 of the segment string so the index
    never stores segment text; updating after an ingest is
    ``index.unionByName(build_segment_index(new)).groupBy(seg_hash)
    .min(...)`` — append-shaped. At the warehouse the index is written
    bucketed by seg_hash so per-ingest probes co-locate (same seam
    note as ``build_hash_index``)."""
    segs = _segments(df, id_col, text_col, seg_words)
    return (segs.groupBy(F.md5("seg").alias("seg_hash"))
            .agg(F.min(F.struct(F.col(id_col).alias("doc"),
                                F.col("seg_idx").alias("idx"))).alias("w"))
            .select("seg_hash", F.col("w.doc").alias("doc"),
                    F.col("w.idx").alias("seg_idx")))


def segment_dedup_against_index(new_df: DataFrame, index: DataFrame,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                seg_words: int = 10) -> DataFrame:
    """Incremental segment-level dedup: clean an arriving batch against
    the persistent segment-hash index — a new document keeps a segment
    only if it is NOT indexed and first occurs (by (id, seg_idx)) within
    the batch. O(new segments) per ingest: the batch's segments probe
    the index with one equi-join on seg_hash (co-located when the index
    is hash-bucketed) and never re-scan the historical corpus — the
    ingest-time form of ``segment_dedup``, same output shape
    (doc_id, n_segs, n_kept, clean_text).

    Re-ingest idempotence matches the doc-level cycle: an indexed
    segment is dropped from EVERY new document, including a re-ingested
    copy of its original owner (the cleaned artifact of that owner was
    already emitted when it was first ingested)."""
    segs = _segments(new_df, id_col, text_col, seg_words)
    hashed = segs.withColumn("seg_hash", F.md5("seg"))
    winners = (hashed.groupBy("seg_hash")
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("seg_idx").alias("s"))).alias("w")))
    marked = (hashed
              .join(winners, "seg_hash")
              .join(index.select("seg_hash",
                                 F.lit(True).alias("_indexed")),
                    "seg_hash", "left")
              .withColumn("_keep",
                          F.col("_indexed").isNull()
                          & (F.col(id_col) == F.col("w.i"))
                          & (F.col("seg_idx") == F.col("w.s"))))
    return (marked.groupBy(id_col)
            .agg(F.first("n_segs").alias("n_segs"),
                 F.sum(F.col("_keep").cast("bigint")).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("_keep"),
                                    F.struct("seg_idx", "seg")))),
                         lambda t: t.seg), " ").alias("clean_text"))
            .select(F.col(id_col).alias("doc_id"),
                    "n_segs", "n_kept", "clean_text")
            .orderBy("doc_id"))


def update_segment_index(index: DataFrame, new_df: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         seg_words: int = 10) -> DataFrame:
    """Append an ingested batch to the segment index and restore the
    one-row-per-hash / first-occurrence invariant. Idempotent under
    re-ingest (min is idempotent); only the batch is segmented."""
    fresh = build_segment_index(new_df, id_col, text_col, seg_words)
    return (index.unionByName(fresh)
            .groupBy("seg_hash")
            .agg(F.min(F.struct(F.col("doc"),
                                F.col("seg_idx").alias("idx"))).alias("w"))
            .select("seg_hash", F.col("w.doc").alias("doc"),
                    F.col("w.idx").alias("seg_idx")))


# hash-scheme version stamped into every persisted MinHash artifact:
# bump if the shingle normalization, xxhash64 seeding, or pmod range
# changes — same silent-mismatch hazard class as conversations.SIG_VERSION
MH_SCHEME_VERSION = 1


def _mh_params(n_hashes: int, bands: int | None = None,
               k: int | None = None,
               fold_cap: int | None = None) -> str:
    parts = [f"v{MH_SCHEME_VERSION}", f"n{n_hashes}"]
    if bands is not None:
        parts.append(f"b{bands}")
    if k is not None:
        parts.append(f"k{k}")
    if fold_cap is not None:
        # upstream-fold tag: the text fed to the signature was the
        # PREFIX-capped assembled fold at this many turns (the
        # conversation whale guard). 0 = explicitly whole-transcript.
        parts.append(f"f{fold_cap}")
    return ":".join(parts)


def _check_mh_params(df: DataFrame, what: str, n_hashes: int | None = None,
                     bands: int | None = None, k: int | None = None,
                     fold_cap: int | None = None) -> None:
    """Raise if a persisted MinHash artifact records parameters that
    differ from the probe's — a mismatch scrambles bucket hashes or
    signature lanes and silently matches nothing. One metadata-sized
    driver action (first non-null of a constant column); artifacts
    predating the marker (no column, or null rows appended by a legacy
    union) pass unchecked.

    ``fold_cap`` covers the upstream-fold hazard the hash parameters
    cannot: a probe whose signatures come from a prefix-capped
    assembled fold (``max_turns``) against a whole-transcript index —
    or vice versa — matches SOMETHING, just with Jaccard estimates
    silently degraded toward the prefix fraction. A caller that
    declares its fold (0 = explicitly uncapped) requires the artifact
    to agree, with a stamped-but-untagged artifact counting as
    uncapped; None (document-level callers) skips the comparison."""
    if "mh_params" not in df.columns:
        return
    row = (df.select("mh_params")
           .filter(F.col("mh_params").isNotNull()).first())
    if row is None:
        return
    seen = {tok[0]: int(tok[1:]) for tok in row[0].split(":")}
    expect = {"v": MH_SCHEME_VERSION, "n": n_hashes, "b": bands, "k": k}
    for key, want in expect.items():
        if want is not None and key in seen and seen[key] != int(want):
            raise ValueError(
                f"{what} was built under MinHash parameters '{row[0]}', "
                f"but this probe expects {key}={want} — rebuild the "
                f"artifact or pass the matching n_hashes/bands/k")
    if fold_cap is not None and seen.get("f", 0) != int(fold_cap):
        raise ValueError(
            f"{what} was built from fold '{row[0]}' (prefix cap "
            f"{seen.get('f', 0)}; 0 = whole transcript), but this probe's "
            f"signatures use prefix cap {int(fold_cap)} — capped and "
            f"uncapped folds silently degrade each other's Jaccard "
            f"estimates; rebuild the artifact from the matching fold")


def build_minhash_index(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n_hashes: int = 64,
                        bands: int = 16, k: int = 3,
                        bucket_cap: int = 64,
                        sig: DataFrame | None = None,
                        fold_cap: int | None = None) -> DataFrame:
    """Near-dup analog of ``build_hash_index``: one (doc, band, bucket)
    row per (doc, band) — the banding half of the two-table artifact
    incremental ingest checks new documents against without touching
    the historical text. The other half is the signature table
    (``build_minhash_sigs``: one (doc, minhash) row per doc) — kept
    NORMALIZED rather than denormalized onto every band row, which
    would store and ship each 64-element signature ``bands`` times
    (16x the index bytes, and 16 duplicate array rows per candidate
    pair at probe time).

    ``bucket_cap`` bounds the stored members per (band, bucket) to the
    ``bucket_cap`` lowest doc ids: a hotter bucket is boilerplate (the
    same crawl-corpus head ``lsh_candidate_pairs`` caps), and any new
    duplicate of it still collides with the retained representatives,
    so detection survives while the per-ingest join cost stays
    O(new_rows_in_bucket * cap) instead of quadratic.

    Scale: written bucketed by (band, bucket) at the warehouse (same
    seam note as ``build_hash_index``) so the ingest join co-locates;
    index growth is append-shaped — new docs add rows, existing buckets
    are never rewritten (the cap is re-enforced by
    ``compact_minhash_index``, which rewrites only oversized
    buckets).

    ``sig``: optionally pass the batch's precomputed signature frame
    (``minhash_signature``) — a caller building BOTH index tables
    (this + ``build_minhash_sigs``) computes the signature aggregation
    once and shares it, instead of paying the dominant cost twice.

    Every row carries ``mh_params`` (hash-scheme version + n_hashes +
    bands + k) so a probe under DIFFERENT parameters fails loudly
    instead of matching wrong-or-no buckets silently — the MinHash
    analog of the conv-sig index's ``sig_v`` marker (a k or bands
    mismatch scrambles every bucket hash; nothing errors, every
    duplicate just enters the corpus as novel). Constant per file, so
    parquet RLE stores it for free."""
    if sig is None:
        sig = minhash_signature(df, n_hashes, text_col, k, id_col)
    w = Window.partitionBy("band", "bucket").orderBy("doc")
    return (_band_buckets(sig, id_col, n_hashes, bands)
            .withColumn("_rnk", F.row_number().over(w))
            .filter(F.col("_rnk") <= bucket_cap)
            .drop("_rnk")
            .withColumn("mh_params",
                        F.lit(_mh_params(n_hashes, bands, k, fold_cap))))


def build_minhash_sigs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_hashes: int = 64,
                       k: int = 3,
                       sig: DataFrame | None = None,
                       fold_cap: int | None = None) -> DataFrame:
    """Signature half of the MinHash index artifact: one (doc, minhash)
    row per doc — what the probe's verify stage joins per candidate
    pair. Stored bucketed by doc at the warehouse so the (broadcast
    pair side) verify join streams it in place. ``sig``: share a
    precomputed signature frame, same note as ``build_minhash_index``.
    Stamped with ``mh_params`` (version, n_hashes, k — bands don't
    shape signatures) under the same loud-mismatch contract."""
    if sig is None:
        sig = minhash_signature(df, n_hashes, text_col, k, id_col)
    return (sig.select(F.col(id_col).alias("doc"), "minhash")
            .withColumn("mh_params",
                        F.lit(_mh_params(n_hashes, k=k, fold_cap=fold_cap))))


def update_minhash_sigs(sigs: DataFrame, new_df: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n_hashes: int = 64, k: int = 3,
                        sig: DataFrame | None = None,
                        fold_cap: int | None = None) -> DataFrame:
    """Append an ingested batch's signatures; idempotent under
    re-ingest (one row per doc survives — signatures are deterministic
    in the text, so duplicate rows are identical). ``sig``: share the
    batch's precomputed signature frame with ``update_minhash_index``
    so one ingest cycle pays the signature aggregation once."""
    fresh = build_minhash_sigs(new_df, id_col, text_col, n_hashes, k,
                               sig=sig, fold_cap=fold_cap)
    # same loud-mismatch guard as update_minhash_index: appending
    # k/n_hashes-mismatched rows would produce a mixed-lane table whose
    # probe-time check reads only one row's stamp — half the estimates
    # would be silent garbage
    _check_mh_params(sigs, "MinHash signature table", n_hashes, k=k,
                     fold_cap=fold_cap)
    # allowMissingColumns: a pre-marker signature table appends with
    # null mh_params (passes the guard unchecked, documented there)
    return (sigs.unionByName(fresh, allowMissingColumns=True)
            .dropDuplicates(["doc"]))


def compact_minhash_index(index: DataFrame,
                          bucket_cap: int = 64) -> DataFrame:
    """Re-enforce ``bucket_cap`` over an APPENDED MinHash index — the
    maintenance half of ``build_minhash_index``'s append-shaped growth
    contract: ingests append rows without touching existing buckets, and
    compaction (run off the ingest path, like any LSM/warehouse
    compactor) restores the per-bucket bound that keeps the per-ingest
    join cost O(new * cap).

    Idempotent (keeps the ``bucket_cap`` lowest doc ids per (band,
    bucket), the same rule the builder applies, so compacting a
    just-built or just-compacted index is a no-op) and detection-safe:
    any new near-dup of a capped bucket still collides with the
    retained representatives. Oversized-only: bucket sizes are one
    aggregation on the index's own layout key; the (tiny — it's the
    distribution's head) oversized set broadcasts, so the in-cap mass
    passes through with NO window shuffle and a warehouse compactor
    rewrites only those buckets' files. Duplicate rows from re-appended
    ingests collapse via the (doc, band, bucket) key before the cap is
    applied, so re-ingesting indexed docs never consumes cap slots
    twice."""
    dedup = index.dropDuplicates(["doc", "band", "bucket"])
    sizes = (dedup.groupBy("band", "bucket")
             .agg(F.count(F.lit(1)).alias("_n"))
             .filter(F.col("_n") > bucket_cap)
             .select("band", "bucket"))
    cold = dedup.join(F.broadcast(sizes), ["band", "bucket"], "left_anti")
    w = Window.partitionBy("band", "bucket").orderBy("doc")
    hot = (dedup.join(F.broadcast(sizes), ["band", "bucket"])
           .withColumn("_rnk", F.row_number().over(w))
           .filter(F.col("_rnk") <= bucket_cap)
           .drop("_rnk"))
    return cold.unionByName(hot)


def update_minhash_index(index: DataFrame, new_df: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         n_hashes: int = 64, bands: int = 16, k: int = 3,
                         bucket_cap: int = 64,
                         sig: DataFrame | None = None,
                         fold_cap: int | None = None) -> DataFrame:
    """Append an ingested batch to a MinHash index and compact:
    ``index UNION build_minhash_index(batch)`` then
    ``compact_minhash_index`` — the multi-ingest maintenance cycle
    (ingest -> probe -> append -> compact) in one call. Idempotent
    under re-ingest: duplicate (doc, band, bucket) rows collapse in
    compaction. At the warehouse this is an APPEND of the new batch's
    rows plus a rewrite of only the buckets the append pushed over
    the cap."""
    fresh = build_minhash_index(new_df, id_col, text_col, n_hashes,
                                bands, k, bucket_cap, sig=sig,
                                fold_cap=fold_cap)
    _check_mh_params(index, "MinHash index", n_hashes, bands, k,
                     fold_cap=fold_cap)
    return compact_minhash_index(
        index.unionByName(fresh, allowMissingColumns=True), bucket_cap)


def near_dup_against_index(new_df: DataFrame, index: DataFrame,
                           index_sigs: DataFrame,
                           threshold: float = 0.5,
                           id_col: str = "doc_id",
                           text_col: str = "text", n_hashes: int = 64,
                           bands: int = 16, k: int = 3,
                           persist_sig: bool = True) -> DataFrame:
    """Incremental near-dup detection: new documents that collide with
    the indexed history in any LSH band, verified by SIGNATURE agreement
    — estimated Jaccard = fraction of equal minhash components, the
    index-local verification an O(new)-per-ingest job can afford (exact
    verification would re-read the historical text; the estimator's
    stderr is ~1/sqrt(n_hashes) ≈ 0.125 at 64 hashes, so pick the
    threshold with that margin). Batch-internal near dups among the new
    docs themselves are ``minhash_lsh_dedup`` on the batch — this
    operator is the history half of that composition.

    Output: (doc_id, index_id, est_jaccard) with est >= threshold;
    re-ingested ids never self-report. One signature pass over the new
    batch + one 3-column equi-join on (band, bucket) against the
    (capped, co-locatable) index; candidate pairs dedupe while sparse
    and the signatures join in once per pair, so the verify stage sees
    each pair once and no exchange carries an array."""
    return near_dup_verify(
        near_dup_candidates(new_df, index, index_sigs, id_col, text_col,
                            n_hashes, bands, k, persist_sig),
        threshold, n_hashes)


def near_dup_candidates(new_df: DataFrame, index: DataFrame,
                        index_sigs: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n_hashes: int = 64, bands: int = 16,
                        k: int = 3, persist_sig: bool = True,
                        fold_cap: int | None = None) -> DataFrame:
    """Candidate stage of ``near_dup_against_index``: each new doc that
    shares an LSH band bucket with an indexed doc, once, with the
    signature-agreement count attached — (doc_id, index_id, n_agree).
    Exposed separately so the deterministic verify stage can be
    oracle-gated over an exported seam (same pattern as
    simhash_pairs_from_fp).

    No signature array ever rides an exchange, and the agreement count
    is computed exactly ONCE per candidate pair: the (band, bucket)
    equi-join ships 3-column band rows only (the co-located merge join
    when the index is warehouse-bucketed on its layout key), pairs
    dedupe while they are that sparse, and the pair frame then joins
    the batch's persisted signature frame and — as the explicit
    BROADCAST side — streams through the one-row-per-doc index
    signature table in place. (The per-pair count matters beyond
    exchange bytes: array comparisons are higher-order expressions
    outside WholeStageCodegen, and evaluating them per band-collision
    row instead of per pair measured ~5s of pure lambda interpretation
    at sf0.1.) Per-ingest candidates are bounded at O(new * bucket_cap)
    by the capped index — an ingest sized past broadcast range should
    be chunked, which is how ingest batching works anyway.

    CACHE LIFETIME: the batch signature frame is persist()ed (it feeds
    both the banding and the verify join, and Spark would otherwise
    recompute the signature aggregation per consumer); same session
    -scoped note as ``jaccard_pairs``. Spark's CacheManager dedupes
    identical plans, so re-running the SAME probe costs one entry, but
    each DISTINCT batch adds one — a driver probing many batches in one
    session should pass ``persist_sig=False`` (recomputing a small
    batch's signatures twice is cheaper than a cache entry leaking per
    batch) or ``clearCache()`` between corpora."""
    sig = minhash_signature(new_df, n_hashes, text_col, k, id_col)
    if persist_sig:
        sig = sig.persist()
    return near_dup_candidates_from_sigs(sig, index, index_sigs, id_col,
                                         n_hashes, bands, k=k,
                                         fold_cap=fold_cap)


def near_dup_candidates_from_sigs(sig: DataFrame, index: DataFrame,
                                  index_sigs: DataFrame,
                                  id_col: str = "doc_id",
                                  n_hashes: int = 64,
                                  bands: int = 16,
                                  k: int | None = None,
                                  fold_cap: int | None = None) -> DataFrame:
    """The post-signature half of ``near_dup_candidates``: candidates
    from a PRECOMPUTED (id, minhash) frame. Exposed for callers whose
    signatures do not come from a text scan — e.g. a warehouse ingest
    that persisted the batch's signature table probes
    from that artifact directly. Same join shape and exchange notes as
    ``near_dup_candidates``. Raises if either index artifact records
    MinHash parameters differing from this probe's (``k=None`` skips
    the shingle-width check for callers that never see text)."""
    _check_mh_params(index, "MinHash index", n_hashes, bands, k,
                     fold_cap=fold_cap)
    _check_mh_params(index_sigs, "MinHash signature table", n_hashes,
                     k=k, fold_cap=fold_cap)
    nb = _band_buckets(sig, id_col, n_hashes, bands)
    idxb = index.select(F.col("doc").alias("_idx_doc"), "band", "bucket")
    pairs = (nb.join(idxb, ["band", "bucket"])
             .filter(F.col("doc") != F.col("_idx_doc"))
             .select("doc", "_idx_doc").distinct())
    agree = F.size(F.filter(
        F.zip_with("_m_new", "_m_idx", lambda a, b: a == b),
        lambda x: x)).cast("bigint")
    return (F.broadcast(pairs.join(
                sig.select(F.col(id_col).alias("doc"),
                           F.col("minhash").alias("_m_new")), "doc"))
            .join(index_sigs.select(F.col("doc").alias("_idx_doc"),
                                    F.col("minhash").alias("_m_idx")),
                  "_idx_doc")
            .select(F.col("doc").alias("doc_id"),
                    F.col("_idx_doc").alias("index_id"),
                    agree.alias("n_agree")))


def near_dup_verify(cand: DataFrame, threshold: float = 0.5,
                    n_hashes: int = 64) -> DataFrame:
    """Verify stage: estimated Jaccard = n_agree / n_hashes (the
    fraction of equal signature components, counted per collision row
    in ``near_dup_candidates``), thresholded on the ROUNDED estimate
    (so an engine and an oracle computing it from the same exported
    candidates agree bit-for-bit)."""
    est = F.col("n_agree") / F.lit(float(n_hashes))
    return (cand.select("doc_id", "index_id",
                        F.round(est, 4).alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= threshold)
            .transform(lambda d: ordered_output(d, "doc_id", "index_id")))


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
    the one banding definition shared by ``lsh_candidate_pairs`` and the
    incremental near-dup index (``build_minhash_index``)."""
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


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32, sort: bool = True) -> DataFrame:
    """SimHash fingerprint: per token-hash bit, sum +1/-1 across the doc's
    tokens; the sign vector packs into an int. explode + one partial+final
    aggregation — scales as a plain groupBy on the doc id."""
    tokens = (df.select(F.col(id_col).alias("doc"),
                        F.explode(F.array_distinct(
                            F.split(normalized(F.col(text_col)), " "))).alias("tok"))
              .filter(F.col("tok") != "")
              .withColumn("h", F.xxhash64("tok")))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"b{i}")
        for i in range(bits)]
    agg = tokens.groupBy("doc").agg(*bit_sums)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1)).otherwise(F.lit(0))
        term = bit * F.lit(2 ** i)
        fp = term if fp is None else fp + term
    out = agg.select("doc", fp.cast("bigint").alias("simhash"))
    # sort=False for seam builds and aggregating consumers: the global
    # sort's range sampler re-runs the final agg stage for an ordering
    # the parquet round-trip discards
    return out.orderBy("doc") if sort else out


def simhash_pairs_from_fp(fp: DataFrame, bits: int = 32,
                          max_hamming: int = 3) -> DataFrame:
    """The banding + Hamming stage of ``simhash_near_pairs``, over an
    already-computed fingerprint table (columns ``doc``, ``simhash``).
    Split out so the stage can be oracle-gated over an exported
    fingerprint seam: the fingerprints are engine-hash-seeded, but this
    stage is pure integer arithmetic any engine reproduces exactly."""
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    # Band DISTINCT FINGERPRINTS, not documents. Exact-duplicate docs
    # share a fingerprint, so doc-level banding is quadratic in cluster
    # size before the Hamming cut ever runs (715M banded doc pairs at
    # sf1.0 — one hot bucket held 23k docs — vs 19.8k distinct fps and
    # 1.1M banded fp pairs). The result set is unchanged: a doc pair
    # qualifies iff its fps agree on >= 1 band AND hamming <= max, both
    # of which are functions of the fps alone, so computing qualifying
    # fp pairs first and expanding to member docs afterwards produces
    # exactly the same pairs; the expansion is output-sized (guide §2.5
    # — the hot key was the skew, and it came from duplicate payloads).
    bandcols = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright(F.col("simhash"), b * band_bits)
                 .bitwiseAND(F.lit((1 << band_bits) - 1)).alias("key"))
        for b in range(n_bands)])
    # The qualifying-fp-pair table and the fp table are PAIR-EXPANSION
    # FEEDS: each of their rows fans out to (cluster x cluster) doc
    # pairs downstream, so a post-aggregation AQE coalesce (both sit
    # right after a distinct/scan whose output is a few MB) would run
    # the ~output-sized expansion joins on 1-2 tasks (measured 87s ->
    # 20s at the 50k-doc/142M-pair proxy scale when re-spread).
    # Re-spread them across the cluster before the expansion; the
    # repartition input is banded-pair/fingerprint sized — trivial next
    # to the expansion it feeds — and the partition count scales with
    # the session's core count, not a constant (guide §2.2/§2.5).
    par = fp.sparkSession.sparkContext.defaultParallelism * 2
    fps = fp.select("simhash").distinct()
    # co-partition the band-bucket table on the self-join key BEFORE the
    # join: the bucket rows are tiny (a few MB), so AQE coalesced the
    # joined stage to ONE task and the whole bucket-pair enumeration —
    # the df^2 expansion over every (band, key) bucket — ran serially
    # (10.6s single-task at the 50k-doc proxy). A user repartition is
    # AQE-exempt and both aliases share it, so the join plans with no
    # further exchange and each task enumerates its own buckets
    # (9.3s -> 2.1s, identical 1.21M fp pairs).
    buckets = (fps.select("simhash", F.explode(bandcols).alias("bb"))
               .select("simhash", "bb.band", "bb.key")
               .repartition(par, "band", "key"))
    l, r = buckets.alias("l"), buckets.alias("r")
    hamming_ok = (F.bit_count(F.col("l.simhash")
                              .bitwiseXOR(F.col("r.simhash")))
                  <= max_hamming)
    fpairs = (l.join(r, (F.col("l.band") == F.col("r.band"))
                     & (F.col("l.key") == F.col("r.key"))
                     & (F.col("l.simhash") < F.col("r.simhash"))
                     & hamming_ok)
              .select(F.col("l.simhash").alias("f1"),
                      F.col("r.simhash").alias("f2"))
              .distinct()
              .repartition(par))
    docs1 = fp.select(F.col("simhash").alias("f1"), F.col("doc").alias("da"))
    docs2 = fp.select(F.col("simhash").alias("f2"), F.col("doc").alias("db"))
    cross = (fpairs.join(docs1, "f1").join(docs2, "f2")
             .select(F.least("da", "db").alias("d1"),
                     F.greatest("da", "db").alias("d2"),
                     F.bit_count(F.col("f1").bitwiseXOR(F.col("f2")))
                     .cast("bigint").alias("hamming")))
    a = fp.repartition(par, "simhash").alias("a")
    b2 = fp.alias("b")
    intra = (a.join(b2, (F.col("a.simhash") == F.col("b.simhash"))
                    & (F.col("a.doc") < F.col("b.doc")))
             .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"),
                     F.lit(0).cast("bigint").alias("hamming")))
    # the ordered result is OUTPUT-sized (~quadratic in cluster sizes:
    # 142M rows at the 50k-doc proxy) — a parallel range sort is right
    # here (contrast ordered_output), but at the session's default 32
    # shuffle partitions each sort task held 4.4M rows; 4x more range
    # partitions measured 46.4s -> 39.8s. (d1, d2) pairs are unique
    # (fps partition docs; cross and intra branches are disjoint), so
    # the collected order is the same total order orderBy produced.
    par2 = fp.sparkSession.sparkContext.defaultParallelism * 4
    # repartitionByRange SAMPLES its child to pick bounds, so the whole
    # output-sized expansion would be evaluated twice (once for the
    # sampler, once for the exchange). Materialize the union ONCE to a
    # process-scoped parquet spill and sort the read-back: measured
    # 38-42s -> 25-27s for the full query at the 142M-pair proxy, and —
    # unlike a localCheckpoint — it leaves nothing resident in the block
    # store (a checkpointed 142M-row union held GBs of storage memory
    # for the rest of the session and measurably slowed every later
    # query; the parquet spill rides the OS page cache instead). At the
    # warehouse the same pattern writes to the job's scratch volume.
    # Counter-suffixed path in the process's private spill dir: a second
    # call never overwrites a spill an earlier lazy result may still
    # read; the spill from two calls back is reclaimed best-effort, and
    # the whole dir at exit. The dir is driver-local, so the spill
    # targets local[*] sessions.
    seq = next(_SIMHASH_SPILL_SEQ)
    base = os.path.join(_simhash_spill_dir(), "pairs")
    path = f"{base}.{seq}.parquet"
    shutil.rmtree(f"{base}.{seq - 2}.parquet", ignore_errors=True)
    cross.unionByName(intra).write.mode("overwrite").parquet(path)
    return (fp.sparkSession.read.parquet(path)
            .repartitionByRange(par2, "d1", "d2")
            .sortWithinPartitions("d1", "d2"))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 32,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded like LSH:
    split the fingerprint into (max_hamming+1) bands — pairs within
    distance d must agree on at least one band (pigeonhole)."""
    return simhash_pairs_from_fp(simhash(df, id_col, text_col, bits),
                                 bits, max_hamming)

