"""Benchmark-contamination detection: word n-gram containment of a
(small) benchmark/eval set inside a (huge) training corpus.

The question a training pipeline must answer before shipping data:
"which corpus documents contain this eval item's n-grams?" — i.e. for
every (doc, bench) pair, what fraction of the benchmark item's distinct
k-shingles appears verbatim in the doc (containment, not Jaccard: a
50-word eval question fully embedded in a 5,000-word crawl page IS
contamination even though Jaccard is tiny).

Plan shape (100-TB asymmetric join done right):

    corpus  -> with_shingles (narrow, JVM) -> posexplode (doc postings)
    bench   -> with_shingles -> explode -> BROADCAST (eval sets are
               10^3-10^5 items x ~10^2 shingles — MBs, never shuffled)
    equi-join on shingle (map-side, zero exchange of the corpus)
      -> partial-agg count per (doc, bench)   (sparse: only docs that
         share >=1 shingle with some bench item survive the join)
      -> containment = matches / bench_n, threshold filter

The corpus is read once and never shuffled; the only exchange moves the
sparse match counts. Shingling reuses ``dedup.with_shingles`` (same
normalization + k as the dedup family, so the DuckDB oracle shares the
shingle CTE chain).

ref: no reference counterpart (schema-algebra PoC); training-data
pipeline scope, same adjudication as dedup/textstats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import with_shingles


def contamination_pairs(docs: DataFrame, bench: DataFrame,
                        threshold: float = 0.5, k: int = 3,
                        id_col: str = "doc_id",
                        bench_id_col: str = "bench_id",
                        text_col: str = "text") -> DataFrame:
    """(doc_id, bench_id, n_matched, bench_n, containment_bp) for every
    corpus document containing >= ``threshold`` of a benchmark item's
    distinct k-shingles. Containment is reported in basis points
    (integer — exact in both engines, no float-rounding drift).

    ``bench`` must be small enough to broadcast (the eval-set side);
    ``docs`` is the unbounded side and is never shuffled.
    """
    d = (with_shingles(docs, text_col, k)
         .select(F.col(id_col).alias("_d"),
                 F.explode("shingles").alias("s")))
    b_sh = (with_shingles(bench, text_col, k)
            .select(F.col(bench_id_col).alias("_b"),
                    F.col("shingles")))
    b_n = b_sh.select("_b", F.size("shingles").alias("bench_n"))
    b = b_sh.select("_b", F.explode("shingles").alias("s"))
    matched = (d.join(F.broadcast(b), "s")
               .groupBy("_d", "_b")
               .agg(F.count(F.lit(1)).alias("n_matched")))
    # integer basis points via bigint `div` — exact in both engines (a
    # float divide + floor can land one ulp under an exact integer)
    out = (matched.join(F.broadcast(b_n), "_b")
           .withColumn("containment_bp",
                       F.expr("(10000 * cast(n_matched as bigint)) "
                              "div cast(bench_n as bigint)"))
           .filter(F.col("containment_bp") >= int(threshold * 10000)))
    from .dedup import ordered_output
    return (out.select(F.col("_d").alias("doc_id"),
                       F.col("_b").alias("bench_id"),
                       F.col("n_matched").cast("bigint").alias("n_matched"),
                       F.col("bench_n").cast("bigint").alias("bench_n"),
                       "containment_bp")
            .transform(lambda d: ordered_output(d, "doc_id", "bench_id")))

