"""Column statistics + sketches, SQL path (SURVEY.md §2.D7-D9).

One scan, two aggregation levels, both fully built-in (partial+final hash
aggregation, whole-stage codegen, no Python in the path):

  level 1: groupBy(partition) -> per-partition count/nulls/min/max +
           HLL sketch bytes (distinct) + KLL sketch bytes (quantiles)
  level 2: groupBy(column) over the level-1 rows -> snapshot stats via
           hll_union_agg / kll_merge_agg_double (associative sketch merge —
           the same monoid law as the IR's compose-substitutions,
           ref util.clj:106-113)

The long-format output matches the baseline_stats registry shape
(FIXTURES.md F3): one row per (snapshot, partition, column) with numeric
stats inline and sketch bytes as binary — a few KB per partition per
column, so the level-2 shuffle is negligible at any scale.

Sketch notes: KLL is internally randomized — correctness gates use exact
oracles at test scale; sketch outputs are asserted for merge-order
invariance and bounded relative error only (SURVEY.md §5.2-6).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.frames import local_frame

# columns eligible for KLL (numeric/timestamp cast to double)
_NUMERIC_KINDS = {"int", "bigint", "smallint", "tinyint", "float",
                  "double", "decimal"}


def _is_numeric(df: DataFrame, col: str) -> bool:
    dt = dict(df.dtypes)[col]
    return dt.split("(")[0] in _NUMERIC_KINDS


def _is_ts(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes)[col].startswith("timestamp")


def _num_key(df: DataFrame, col: str) -> Optional[Column]:
    """Numeric ordering key: the column as fractional double (timestamps
    keep sub-second precision via a cast, NOT unix_timestamp which
    truncates). None for non-numeric, non-temporal columns."""
    if _is_numeric(df, col):
        return F.col(col).cast("double")
    if _is_ts(df, col):
        # NTZ timestamps need the hop via timestamp; session tz is UTC
        return F.col(col).cast("timestamp").cast("double")
    return None


def partition_profile(df: DataFrame, snapshot_id: str,
                      columns: Optional[List[str]] = None,
                      partition_col: str = "bucket") -> DataFrame:
    """Level-1: per-(partition, column) stats in ONE aggregation pass.

    min/max are aggregated in the COLUMN'S NATIVE TYPE and only the result
    is stringified (``F.min(c).cast("string")``, never
    ``F.min(c.cast("string"))`` — the latter is lexicographic and wrong for
    numerics). Numeric/temporal columns additionally carry a typed ordering
    key (``min_num``/``max_num`` as double) so the level-2 cross-partition
    merge stays numeric.
    """
    cols = columns or [c for c in df.columns if c != partition_col]
    aggs: List[Column] = [F.count(F.lit(1)).alias("_total")]
    for c in cols:
        nk = _num_key(df, c)
        aggs.append(F.count(c).alias(f"{c}__cnt"))
        aggs.append(F.min(c).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(c).cast("string").alias(f"{c}__max"))
        aggs.append((F.min(nk) if nk is not None
                     else F.lit(None).cast("double")).alias(f"{c}__min_num"))
        aggs.append((F.max(nk) if nk is not None
                     else F.lit(None).cast("double")).alias(f"{c}__max_num"))
        # HLL accepts int/long/string/binary; normalize via string cast for
        # float-ish types to keep one code path
        hll_in = F.col(c) if not _is_ts(df, c) else F.col(c).cast("string")
        if dict(df.dtypes)[c] in ("float", "double"):
            hll_in = F.col(c).cast("string")
        aggs.append(F.hll_sketch_agg(hll_in).alias(f"{c}__hll"))
        aggs.append(
            (F.kll_sketch_agg_double(nk) if nk is not None
             else F.lit(None).cast("binary")).alias(f"{c}__kll"))
        aggs.append(F.lit(nk is not None).alias(f"{c}__kll_ok"))
        aggs.append(F.lit(nk is not None).alias(f"{c}__is_num"))

    wide = df.groupBy(F.col(partition_col).alias("partition_id")).agg(*aggs)

    # unpivot wide -> long: one struct per column, exploded
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_total").alias("n_rows"),
            (F.col("_total") - F.col(f"{c}__cnt")).alias("n_nulls"),
            F.col(f"{c}__min").alias("min_str"),
            F.col(f"{c}__max").alias("max_str"),
            F.col(f"{c}__min_num").alias("min_num"),
            F.col(f"{c}__max_num").alias("max_num"),
            F.col(f"{c}__is_num").alias("is_num"),
            F.col(f"{c}__hll").alias("hll"),
            F.col(f"{c}__kll").alias("kll"),
            F.col(f"{c}__kll_ok").alias("kll_ok"),
        ) for c in cols
    ]
    return (wide
            .select("partition_id", F.explode(F.array(*structs)).alias("s"))
            .select(F.lit(snapshot_id).alias("snapshot_id"),
                    "partition_id", "s.*"))


def snapshot_profile(partition_stats: DataFrame) -> DataFrame:
    """Level-2: merge per-partition sketch states into snapshot stats.

    Numeric/temporal columns merge min/max on the typed double key
    (min_by/max_by carry the partition-local string rendering alongside);
    string-typed columns merge their strings directly — lexicographic is
    the CORRECT order there. This is what keeps the profile path in
    agreement with the typed ``sql_partition_states`` path (both are the
    same monoid over native-type extremes)."""
    # min_by/max_by ordering keys: push all-NULL partitions (null key) to
    # the losing end so they can never donate their NULL string rendering
    lo_key = F.coalesce(F.col("min_num"), F.lit(float("inf")))
    hi_key = F.coalesce(F.col("max_num"), F.lit(float("-inf")))
    return (partition_stats
            .groupBy("snapshot_id", "column")
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("n_nulls").alias("n_nulls"),
                 F.when(F.min("is_num"), F.min_by("min_str", lo_key))
                 .otherwise(F.min("min_str")).alias("min_str"),
                 F.when(F.min("is_num"), F.max_by("max_str", hi_key))
                 .otherwise(F.max("max_str")).alias("max_str"),
                 F.min("min_num").alias("min_num"),
                 F.max("max_num").alias("max_num"),
                 F.hll_union_agg("hll").alias("hll"),
                 # guard: merging a NULL-only kll column yields an invalid
                 # buffer; gate on eligibility so string columns stay NULL
                 F.when(F.min("kll_ok"), F.kll_merge_agg_double("kll"))
                 .otherwise(F.lit(None).cast("binary")).alias("kll"))
            .withColumn("distinct_est",
                        F.hll_sketch_estimate("hll"))
            .withColumn("null_rate",
                        F.col("n_nulls") / F.col("n_rows")))


def profile_snapshot(df: DataFrame, snapshot_id: str,
                     columns: Optional[List[str]] = None,
                     partition_col: str = "bucket") -> Dict[str, DataFrame]:
    """Both profile levels as lazy frames; nothing is cached."""
    part = partition_profile(df, snapshot_id, columns, partition_col)
    return {"partition": part, "snapshot": snapshot_profile(part)}


def text_len() -> Column:
    """Derived ``text_len``: length(text) as double, the planted drift
    signal (FIXTURES.md F3), for the full profile (whose KLL sketches
    become drift baselines; the native split reader counts the current
    side as ``pc.utf8_length``)."""
    return F.length("text").cast("double")


def kll_quantiles(spark, kll_bytes: bytes, probs: List[float]) -> List[float]:
    """Quantile estimates from one merged KLL sketch (driver-side, tiny)."""
    row = (local_frame(spark, [(bytes(kll_bytes),)], "kll binary")
           .select(*[F.kll_sketch_get_quantile_double("kll", F.lit(p)).alias(f"q{i}")
                     for i, p in enumerate(probs)])
           .first())
    return [row[f"q{i}"] for i in range(len(probs))]


def grouped_quantiles(df: DataFrame, group_col: str, value,
                      qs: Sequence[float]) -> DataFrame:
    """EXACT per-group quantiles by ordinal selection (the "lower"
    method: the element at 1-based rank ``1 + floor(q * (n-1))`` of the
    group sorted by value) — one row per (group, q) with the selected
    value. Selection, not interpolation: the result is always an
    element the data actually contains, so two engines agree exactly on
    ints AND floats (no midpoint arithmetic to diverge).

    The global quantile family (D9) answers "what does the whole
    corpus look like"; this is its per-stratum form — response-length
    distribution per role, latency per tool — the shape drift that a
    global KLL blends away. Plan: aggregate to (group, value, count)
    FIRST — map-side partials absorb duplicate values before the
    exchange — then walk the cumulative histogram of the (usually tiny)
    aggregated table with one window over it: the element at rank rk is
    the first value whose cumulative count reaches rk. Selection is a
    function of the value MULTISET, so this is exactly the row the
    previous full row_number() window selected, but the per-group sort
    runs over |distinct values| rows instead of |rows| (a 1M-row
    5-group input collapsed to ~250 histogram rows at the proxy —
    window_stats-style full-sort cost only returns in the no-duplicate
    worst case, where the histogram IS the input). ``value`` may be a
    Column expression. No tiebreak is needed: the selected VALUE is
    tie-invariant."""
    base = df.select(F.col(group_col).alias("_g"),
                     (value if not isinstance(value, str)
                      else F.col(value)).alias("_v"))
    cnts = base.groupBy("_g", "_v").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy("_g").orderBy("_v")
    wc = Window.partitionBy("_g")
    cum = (cnts.withColumn("_hi", F.sum("_c").over(w))
           .withColumn("_n", F.sum("_c").over(wc)))
    picks = F.array(*[
        F.struct(F.lit(float(q)).alias("q"),
                 (F.lit(1) + F.floor(F.lit(float(q))
                                     * (F.col("_n") - 1))).alias("rk"))
        for q in qs])
    return (cum
            .select("_g", "_v",
                    F.explode(F.filter(
                        picks,
                        lambda p: (p["rk"] > F.col("_hi") - F.col("_c"))
                        & (p["rk"] <= F.col("_hi"))))
                    .alias("_p"))
            .select(F.col("_g").alias(group_col),
                    F.col("_p.q").alias("q"),
                    F.col("_v").alias("value")))
