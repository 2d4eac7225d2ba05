"""Sessionization + deterministic sampling for transcript pipelines.

Both are pure built-in-function plans (no Python in the hot path):

- sessionize: inactivity-gap session assignment — the standard two-window
  composition (lag to mark gap breaks, running sum to number sessions)
  over ONE shuffle on the key. This is the batch analog of Structured
  Streaming's session_window; at 10^12 turns the key (user/conversation)
  is the same partitioning every other per-key operator uses, so the
  Exchange is shared under whole-stage planning when composed.
- stratified_sample: deterministic per-stratum top-k by a content hash
  (md5 — chosen because the oracle engine computes the identical digest,
  so the sample is reproducible ACROSS engines, not just across runs).
  Scale note: rank-by-hash within a stratum is a per-key window, so a
  stratum of 10^9+ rows sorts on one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(df: DataFrame, key_col: str, ts_col: str,
               gap_seconds: float, order_cols: list | None = None
               ) -> DataFrame:
    """Assign 1-based session indexes per key: a new session starts when
    the gap to the previous event exceeds ``gap_seconds``. Adds columns
    ``gap_s`` (seconds since previous event, null for the first) and
    ``sess_idx``."""
    order = [ts_col] + list(order_cols or [])
    w = Window.partitionBy(key_col).orderBy(*order)
    epoch = F.col(ts_col).cast("timestamp").cast("double")
    brk = F.when(
        F.lag(epoch).over(w).isNull()
        | ((epoch - F.lag(epoch).over(w)) > gap_seconds), 1).otherwise(0)
    return (df
            .withColumn("gap_s", epoch - F.lag(epoch).over(w))
            .withColumn("sess_idx", F.sum(brk).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))


def stratified_sample(df: DataFrame, stratum_col: str, id_col: str,
                      k: int) -> DataFrame:
    """Deterministic k-per-stratum sample: rank rows inside each stratum
    by md5(id) and keep rank <= k. Same rows on every engine that
    implements md5 (cross-engine reproducibility is the point — a
    training-data pipeline re-run months later must pick the same docs).
    Adds ``sample_rank``."""
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col)
    return (df
            .withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= k))

