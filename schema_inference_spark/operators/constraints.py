"""Row-level rule constraints: functional dependencies and implications.

Two constraint families the D10-D12 checks don't cover, both common in
transcripts QA (the reference's constraint surface is schema-shape only
— util.clj's mgu unifies types; these validate VALUES against declared
rules, the same by-value-violation contract as checks.py):

- ``fd_violations``: a functional dependency ``determinants ->
  dependents`` ("every conv_id carries one model name", "a user has one
  plan tier"). Output is one row per VIOLATED determinant value — the
  aggregate view — not one row per offending turn, so the result stays
  |violated keys|-sized even when a hot key has millions of rows.
- ``implication_violations``: a conditional row predicate ``antecedent
  => consequent`` ("role='tool' implies tool IS NOT NULL",
  "event_type='purchase' implies value >= 0"). Output is the offending
  rows themselves, projected to caller-chosen columns.

Both are declared as rule dicts (``validate(rules=)``, the deployed
job's ``--rules``); ``rules_violations`` turns each rule into canonical
violation rows.

Scale design:
- fd: ONE hash aggregation on the determinant; count + count(distinct)
  and min/max examples are all distributive/algebraic, so map-side
  partial aggregation absorbs hot determinants before the shuffle
  (Catalyst rewrites the distinct via Expand + two-phase agg). The
  output is bounded by the number of *violated* keys.
- implication: a pure scan filter — zero shuffle, whole-stage codegen;
  at 100 TB this is the cheapest possible check shape.

NULL semantics (documented, not accidental): both engines use SQL
tri-state logic. For ``implication_violations`` a row whose consequent
evaluates to NULL is NOT a violation (``antecedent AND NOT consequent``
is NULL -> filtered); wrap the consequent in ``coalesce(..., false)``
to treat NULL as failing. For ``fd_violations`` the dependent tuple is
compared by its concatenated string form with NULLs mapped to a
sentinel, so NULL is one distinct value (a key mapping to {NULL, 'x'}
IS a violation — the practically useful reading).
"""

from __future__ import annotations

from typing import Iterable, List, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# unit separator: never appears in the data columns these checks target
_SEP = "\x1f"
_NULL_SENTINEL = "\x00<null>"


def _dep_key(dependents: List[str]) -> Column:
    """One string per dependent tuple: NULL-sentineled, \\x1f-joined —
    count(distinct) over it sees NULL as a value instead of dropping
    the row (Spark and DuckDB both skip all-NULL distinct inputs)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL))
             for c in dependents]
    return F.concat_ws(_SEP, *parts)


def fd_violations(df: DataFrame,
                  determinants: Iterable[str],
                  dependents: Iterable[str]) -> DataFrame:
    """Determinant values violating ``determinants -> dependents``.

    One row per determinant value with >1 distinct dependent tuple:
    the determinant columns, ``n_rows`` (rows under the key),
    ``n_distinct`` (distinct dependent tuples, always >= 2 in the
    output), and ``dep_min`` / ``dep_max`` (lexicographic example
    tuples in their joined-string form — the two ends of the conflict,
    enough to triage without a second scan)."""
    det = list(determinants)
    dep = _dep_key(list(dependents))
    return (df
            .groupBy(*det)
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct(dep).alias("n_distinct"),
                 F.min(dep).alias("dep_min"),
                 F.max(dep).alias("dep_max"))
            .filter(F.col("n_distinct") > 1))


def implication_violations(df: DataFrame,
                           antecedent: Union[str, Column],
                           consequent: Union[str, Column],
                           cols: Iterable[Union[str, Column]]) -> DataFrame:
    """Rows where ``antecedent`` holds but ``consequent`` does not,
    projected to ``cols``. SQL tri-state: a NULL consequent is not a
    violation (see module docstring)."""
    a = F.expr(antecedent) if isinstance(antecedent, str) else antecedent
    c = F.expr(consequent) if isinstance(consequent, str) else consequent
    return df.filter(a & ~c).select(*cols)


# ---------------------------------------------------------------------------
# Pipeline integration: declared rules -> canonical violation rows
# ---------------------------------------------------------------------------
#
# A rule is a plain dict (declarative, serializable — a rule set can live
# next to the table contract in the catalog):
#   {"check_id": "tool_required", "kind": "implication",
#    "when": "role = 'tool'", "then": "tool IS NOT NULL",
#    "payload_cols": ["role", "tool"]}            # optional
#   {"check_id": "conv_owner_fd", "kind": "fd",
#    "determinants": ["conv_id"], "dependents": ["bucket"]}
# pipeline.validate(rules=[...]) evaluates each against the snapshot scan
# and unions the results with the D10-D12 violations.


def implication_rule_violations(df, snapshot_id: str, check_id: str,
                                when: str, then: str,
                                payload_cols: Iterable[str] = (),
                                partition_col: str = "bucket"):
    """``when => then`` as canonical violation rows: one per offending
    turn, carrying the rule text in (schema_1, schema_2) and the
    offending row's ``payload_cols`` values as the JSON payload. Plan:
    implication_violations' zero-shuffle scan filter."""
    from .checks import _shape
    pc = list(payload_cols)
    bad = implication_violations(
        df, when, then,
        [F.col(partition_col).alias("partition_id"), "conv_id", "turn_idx",
         *pc])
    payload = (F.to_json(F.struct(*[F.col(c) for c in pc]))
               if pc else F.lit(None))
    return _shape(bad, snapshot_id, check_id, payload_col=payload,
                  mgu_failure=None,
                  schema_1=F.lit(when), schema_2=F.lit(then))


def fd_rule_violations(df, snapshot_id: str, check_id: str,
                       determinants: Iterable[str],
                       dependents: Iterable[str],
                       partition_col: str = "bucket"):
    """``determinants -> dependents`` as canonical violation rows: one
    per violated determinant value (aggregate — partition_id is -1,
    the snapshot-level slot: the conflict spans partitions by nature,
    and -1 is where the verdict tally picks it up). schema_1/schema_2
    carry
    the two example conflicting dependent tuples (the same two-sided
    shape as a merge conflict); the payload carries the determinant
    value and the counts. conv_id is filled when the determinant IS the
    conversation key, so downstream triage joins stay natural."""
    from .checks import _shape
    det = list(determinants)
    v = fd_violations(df, det, dependents)
    conv = (F.col("conv_id").cast("string") if det == ["conv_id"]
            else F.lit(None))
    payload = F.to_json(F.struct(
        *[F.col(c) for c in det],
        F.col("n_rows"), F.col("n_distinct")))
    return _shape(
        v.withColumn("partition_id", F.lit(-1).cast("int"))
         .withColumn("conv_id", conv)
         .withColumn("turn_idx", F.lit(None).cast("bigint")),
        snapshot_id, check_id, payload_col=payload,
        mgu_failure="non_equal",
        schema_1=F.col("dep_min"), schema_2=F.col("dep_max"))


def rules_violations(df, snapshot_id: str, rules,
                     partition_col: str = "bucket"):
    """Evaluate a declared rule list; returns ONE unioned violation
    frame (or None for an empty list). Unknown kinds raise at plan
    time — a misdeclared rule is a caller bug, not a data error."""
    out = None
    for r in rules:
        kind = r["kind"]
        if kind == "implication":
            v = implication_rule_violations(
                df, snapshot_id, r["check_id"], r["when"], r["then"],
                r.get("payload_cols", ()), partition_col)
        elif kind == "fd":
            v = fd_rule_violations(
                df, snapshot_id, r["check_id"], r["determinants"],
                r["dependents"], partition_col)
        else:
            raise ValueError(f"unknown rule kind: {kind!r}")
        out = v if out is None else out.unionByName(v)
    return out
