"""Test oracles for the row-level checks: plans the package no longer
runs, kept so the kernel-based ``checks.check_rowlevel_fused`` can be
compared with them.

- ``check_ordering_blocked``: ``checks.check_ordering`` with the window
  partitioned by (conv_id, turn_idx div block_size), the pair that spans a
  block boundary recovered by a carrier row (the last row of each block,
  found through a packed-decimal max and injected into the next block).
- ``fused_sql``: the same carriers under every row-level check in one
  parameterized SQL statement (``_FUSED_SQL``), the shuffle path's plan
  before the kernel.

Known difference from the plain window: a block whose last row (by
turn_idx, ts) has a null ts hands the next block, as its carrier, its last
row with a non-null ts (``max`` skips the null pack), so the pair across
that block boundary is compared with the wrong row. The kernel and
``check_ordering`` compare it with the real previous row.
"""

from __future__ import annotations

import json
from typing import List

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from schema_inference_spark.operators.checks import _shape


# (turn_idx, ts) packs into one decimal(38,0) whose numeric order equals
# the lexicographic order the blocked window sorts by. Why pack:
# max(struct(...)) cannot use the mutable hash-aggregation buffer and
# falls back to SortAggregate — two full sorts of the table just to find
# block boundaries; max(decimal) hash-aggregates with map-side partials
# (verified: HashAggregate in plan, decode byte-equal).
#
# Both fields are BIASED into non-negative space before packing (and
# un-biased in decimal space on unpack, BEFORE the long cast) so that
# dirty data with pre-1970 timestamps (negative unix_micros) or negative
# turn_idx round-trips exactly — these checks exist to validate dirty
# data, so the carrier must not corrupt it:
#   pack = (turn_idx + 2^40) * 10^20 + (unix_micros + 2^63)
# - micros + 2^63 in [0, 2^64) < 10^20 for the FULL long range, so the
#   block term never bleeds; the quotient's fraction stays <= 0.185, so
#   the scale-6 decimal division never rounds the long cast off-by-one.
# - valid turn_idx domain: (-2^40, 10^18 - 2^40) — far beyond the int32
#   input contract (input_hint); outside it the decimal overflows (raises
#   under ANSI, nulls otherwise).
# The affine bias preserves ordering, so max(pack) is still the
# lexicographic (turn_idx, ts) max.
_PACK = "100000000000000000000"     # 10^20 block multiplier
_BIAS_T = "1099511627776"           # 2^40 turn_idx bias
_BIAS_M = "9223372036854775808"     # 2^63 unix_micros bias
_PACK_TURN_TS = (f"(cast(turn_idx as decimal(38,0)) + {_BIAS_T})"
                 f" * cast('{_PACK}' as decimal(38,0))"
                 f" + (cast(unix_micros(ts) as decimal(38,0)) + {_BIAS_M})")
_UNPACK_TURN = (f"cast(cast(_o / cast('{_PACK}' as decimal(38,0))"
                f" as decimal(38,0)) - cast({_BIAS_T} as decimal(38,0))"
                f" as bigint)")
_UNPACK_TS = (f"timestamp_micros(cast((_o % cast('{_PACK}' as decimal(38,0)))"
              f" - cast({_BIAS_M} as decimal(38,0)) as bigint))")


def check_ordering_blocked(df: DataFrame, snapshot_id: str,
                           partition_col: str = "bucket",
                           block_size: int = 8192) -> DataFrame:
    """Skew-bounded variant of ``check_ordering`` (SURVEY.md §7.3-4).

    A single hot conversation (agent loop) puts ALL its turns into one
    window task in the plain check — an Amdahl bottleneck no executor
    count can fix. Here the window is partitioned by
    (conv_id, turn_idx div block_size): each task sorts at most
    ~block_size turns. The pair that spans a block boundary is recovered
    by computing each block's last row (one groupBy max-struct) and
    injecting it into the next block as a non-emitting carrier row.
    Output is row-identical to ``check_ordering`` (asserted in tests).
    """
    base = (df.select(partition_col, "conv_id", "turn_idx", "ts")
            .withColumn("_blk", F.floor(F.col("turn_idx") / block_size)))

    # last row of each (conv, block) by (turn_idx, ts): max of the packed
    # decimal key (see _PACK_TURN_TS — hash-aggregable, unlike a struct
    # max). The carrier goes to the next NON-EMPTY block (a gap can span
    # whole blocks), found with a lead() over the per-conv block list —
    # rows there = #blocks per conv, so that window is tiny and skew-free
    # by construction. The carrier's partition id is never emitted
    # (carriers are filtered before violation shaping), so it carries 0.
    blk_last = (base.groupBy("conv_id", "_blk")
                .agg(F.max(F.expr(_PACK_TURN_TS)).alias("_o")))
    wb = Window.partitionBy("conv_id").orderBy("_blk")
    last = (blk_last
            .withColumn("_next_blk", F.lead("_blk").over(wb))
            .filter(F.col("_next_blk").isNotNull())
            .select("conv_id", F.col("_next_blk").alias("_blk"),
                    F.expr(_UNPACK_TURN).alias("turn_idx"),
                    F.expr(_UNPACK_TS).alias("ts"),
                    F.lit(0).alias(partition_col),
                    F.lit(True).alias("_carrier")))

    unioned = base.withColumn("_carrier", F.lit(False)).unionByName(last)
    w = Window.partitionBy("conv_id", "_blk").orderBy("turn_idx", "ts")
    ordered = (unioned
               .withColumn("_prev_idx", F.lag("turn_idx").over(w))
               .withColumn("_prev_ts", F.lag("ts").over(w))
               .filter(~F.col("_carrier")))

    gap = ordered.filter(F.col("_prev_idx").isNotNull()
                         & (F.col("turn_idx") > F.col("_prev_idx") + 1))
    gap_v = _shape(
        gap.withColumnRenamed(partition_col, "partition_id"),
        snapshot_id, "turn_gap",
        payload_col=F.to_json(F.struct(
            F.col("_prev_idx").cast("bigint").alias("prev_idx"),
            (F.col("turn_idx") - F.col("_prev_idx") - 1).cast("bigint").alias("missing"))),
    )
    dup = ordered.filter(F.col("_prev_idx").isNotNull()
                         & (F.col("turn_idx") == F.col("_prev_idx")))
    dup_v = _shape(
        dup.withColumnRenamed(partition_col, "partition_id"),
        snapshot_id, "turn_dup",
        payload_col=F.to_json(F.struct(
            F.col("_prev_idx").cast("bigint").alias("prev_idx"))),
    )
    ts_bad = ordered.filter(F.col("_prev_ts").isNotNull()
                            & (F.col("ts") < F.col("_prev_ts")))
    ts_v = _shape(
        ts_bad.withColumnRenamed(partition_col, "partition_id"),
        snapshot_id, "ts_order",
        payload_col=F.to_json(F.struct(
            F.date_format("_prev_ts", "yyyy-MM-dd'T'HH:mm:ssXXX").alias("prev_ts"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ssXXX").alias("ts"))),
    )
    return gap_v.unionByName(dup_v).unionByName(ts_v)


# the fused statement's per-row violation struct
_VSTRUCT = ("struct<check_id:string,mgu_failure:string,schema_1:string,"
            "schema_2:string,payload:string,partition_id:int>")


def _vrow(check_id: str, payload: str, pid: str = "_pid",
          mgu: str = "cast(null as string)", s1: str = "cast(null as string)",
          s2: str = "cast(null as string)") -> str:
    return (f"named_struct('check_id', '{check_id}', 'mgu_failure', {mgu}, "
            f"'schema_1', {s1}, 'schema_2', {s2}, 'payload', {payload}, "
            f"'partition_id', cast({pid} as int))")


def _vocab_row(bad: str, col: str, check_id: str, enum: str) -> str:
    return (f"CASE WHEN {bad} THEN " + _vrow(
        check_id, f"to_json(named_struct('value', {col}))",
        "IDENTIFIER(:pcol)", "'non_equal'",
        f"to_json(named_struct('type', 'enum', 'values', array({col})))",
        f":{enum}") + " END")


# Only constants of this module enter the text; every value that comes
# from a caller (vocabularies, their enum JSON, the snapshot id, the
# partition column, the block size) binds as a named parameter.
_FUSED_SQL = f"""
WITH base AS (
  SELECT IDENTIFIER(:pcol) AS _pid, conv_id, turn_idx, ts,
    filter(array(
      {_vocab_row("role IS NULL OR NOT array_contains(:roles, role)",
                  "role", "ref_role", "role_enum")},
      {_vocab_row("tool IS NOT NULL AND NOT array_contains(:tools, tool)",
                  "tool", "ref_tool", "tool_enum")}),
      x -> x IS NOT NULL) AS _vv,
    floor(turn_idx / :block_size) AS _blk
  FROM {{snap}}
),
blk_last AS (
  SELECT conv_id, _blk, max({_PACK_TURN_TS}) AS _o
  FROM base GROUP BY conv_id, _blk
),
carriers AS (
  SELECT 0 AS _pid, conv_id, {_UNPACK_TURN} AS turn_idx, {_UNPACK_TS} AS ts,
    cast(array() AS array<{_VSTRUCT}>) AS _vv, _next_blk AS _blk,
    true AS _carrier
  FROM (SELECT conv_id, _o,
          lead(_blk) OVER (PARTITION BY conv_id ORDER BY _blk) AS _next_blk
        FROM blk_last)
  WHERE _next_blk IS NOT NULL
),
ordered AS (
  SELECT *,
    lag(turn_idx) OVER w AS _prev_idx,
    lag(ts) OVER w AS _prev_ts,
    lead(turn_idx) OVER w AS _next_idx
  FROM (SELECT *, false AS _carrier FROM base
        UNION ALL SELECT * FROM carriers)
  WINDOW w AS (PARTITION BY conv_id, _blk ORDER BY turn_idx, ts)
),
exploded AS (
  SELECT :snapshot_id AS snapshot_id, _v.partition_id, _v.check_id,
    _v.mgu_failure, _v.schema_1, _v.schema_2,
    cast(conv_id AS string) AS conv_id, cast(turn_idx AS bigint) AS turn_idx,
    _v.payload
  FROM (SELECT conv_id, turn_idx, explode(concat(_vv, filter(array(
    CASE WHEN turn_idx = _prev_idx OR turn_idx = _next_idx
      THEN {_vrow("unique_key", "cast(null as string)")} END,
    CASE WHEN _prev_idx IS NOT NULL AND turn_idx > _prev_idx + 1
      THEN {_vrow("turn_gap", "to_json(named_struct("
                  "'prev_idx', cast(_prev_idx as bigint), 'missing', "
                  "cast(turn_idx - _prev_idx - 1 as bigint)))")} END,
    CASE WHEN _prev_idx IS NOT NULL AND turn_idx = _prev_idx
      THEN {_vrow("turn_dup", "to_json(named_struct("
                  "'prev_idx', cast(_prev_idx as bigint)))")} END,
    CASE WHEN _prev_ts IS NOT NULL AND ts < _prev_ts
      THEN {_vrow("ts_order", "to_json(named_struct("
                  "'prev_ts', date_format(_prev_ts, :ts_format), "
                  "'ts', date_format(ts, :ts_format)))")} END),
    x -> x IS NOT NULL))) AS _v
    FROM ordered WHERE NOT _carrier)
)
SELECT snapshot_id,
  CASE WHEN check_id = 'unique_key' THEN _pmin ELSE partition_id END
    AS partition_id,
  check_id, mgu_failure, schema_1, schema_2, conv_id, turn_idx,
  CASE WHEN check_id = 'unique_key'
    THEN to_json(named_struct('n_copies', _n)) ELSE payload END AS payload
FROM (
  SELECT *,
    count(1) OVER (PARTITION BY check_id, conv_id, turn_idx) AS _n,
    min(partition_id) OVER (PARTITION BY check_id, conv_id, turn_idx) AS _pmin,
    row_number() OVER (PARTITION BY check_id, conv_id, turn_idx
                       ORDER BY partition_id) AS _rn
  FROM exploded)
WHERE check_id <> 'unique_key' OR _rn = 1
"""


def fused_sql(df: DataFrame, snapshot_id: str,
              role_vocab: List[str], tool_vocab: List[str],
              partition_col: str = "bucket",
              block_size: int = 8192) -> DataFrame:
    """The shuffle path's row-level checks as they were before the
    kernel: one skew-blocked window pass with one sort,

      scan -> Exchange(conv_id, turn_idx div block_size) ->
      Sort(turn_idx, ts) -> Window(lag idx, lag ts, lead idx) ->
      per-row ARRAY of violation structs -> explode ->
      tiny window over the (sparse) violation rows only

    - uniqueness: all copies of a key share a block and sort adjacent, so
      lag/lead equality flags every member of a duplicate run; the
      post-explode window folds them into one (n_copies, min-bucket) row.
    - referential: vocab membership is evaluated map-side.
    - ordering: the carrier rows of ``check_ordering_blocked``.

    The input frame binds as ``{snap}`` (a temp view that ``spark.sql``
    drops before returning) and every caller value as a named parameter.
    """
    def enum(vocab):
        return json.dumps({"type": "enum", "values": sorted(vocab)},
                          sort_keys=True, separators=(",", ":"))

    return df.sparkSession.sql(_FUSED_SQL, args={
        "pcol": partition_col, "snapshot_id": snapshot_id,
        "roles": list(role_vocab), "tools": list(tool_vocab),
        "role_enum": enum(role_vocab), "tool_enum": enum(tool_vocab),
        "block_size": block_size, "ts_format": "yyyy-MM-dd'T'HH:mm:ssXXX",
    }, snap=df)
