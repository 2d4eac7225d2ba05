"""The shuffle path's kernel plan (``checks.check_rowlevel_fused``) against
the turn-blocked SQL plan it replaced (``check_oracles.fused_sql``), on the
fixtures and on dirty rows: null keys, negative turn_idx, pre-1970 ts, a
duplicate key across buckets, a gap wider than a turn block and a
vocabulary entry with a quote and a backslash."""

import datetime
import json

from check_oracles import fused_sql

from schema_inference_spark.operators import checks as C
from schema_inference_spark.pipeline import ROLE_VOCAB, TOOL_VOCAB

DDL = ("bucket int, conv_id string, turn_idx long, ts timestamp, "
       "role string, tool string")


def _rows(df):
    return [r.asDict() for r in C.stable_order(df).collect()]


def _both(df, snap, roles=ROLE_VOCAB):
    return (_rows(C.check_rowlevel_fused(df, snap, roles, TOOL_VOCAB)),
            _rows(fused_sql(df, snap, roles, TOOL_VOCAB)))


def test_kernel_matches_fused_sql_on_fixtures(spark, catalog):
    for snap in ("s1", "s4"):
        got, want = _both(catalog.read_snapshot(spark, snap), snap)
        assert got == want, snap
        assert {r["check_id"] for r in got} >= {
            "unique_key", "turn_gap", "ts_order", "ref_role"}, snap


def test_kernel_matches_fused_sql_on_dirty_rows(spark):
    d = datetime.datetime
    odd = 'sys"tem\\x'
    rows = [
        # null conv_id: one conversation, with a gap and a duplicate key
        # whose copies sit in two buckets
        (0, None, 0, d(2026, 1, 1, 0, 0), "user", None),
        (1, None, 2, d(2026, 1, 1, 0, 1), "assistant", None),
        (2, None, 2, d(2026, 1, 1, 0, 2), "assistant", None),
        # null turn_idx: sorts first, pairs with nothing; its bad role
        # still reports, with a null turn_idx
        (0, "n1", None, d(2026, 1, 1, 0, 9), "moderator", None),
        (0, "n1", None, d(2026, 1, 1, 0, 8), "user", None),
        (0, "n1", 0, d(2026, 1, 1, 0, 0), "user", None),
        (0, "n1", 1, d(2026, 1, 1, 0, 1), "assistant", None),
        # null ts: no ts_order on either side of it; a duplicate turn
        # with a null ts still counts
        (3, "n2", 0, d(2026, 1, 1, 0, 5), "user", None),
        (3, "n2", 1, None, "assistant", None),
        (3, "n2", 2, d(2026, 1, 1, 0, 4), "user", None),
        (3, "n2", 3, None, "assistant", None),
        (3, "n2", 3, d(2026, 1, 1, 0, 6), "assistant", None),
        # negative turn_idx and pre-1970 ts across the block -1 | 0 edge
        (0, "c1", -5, d(1965, 3, 1, 12, 0), "user", None),
        (0, "c1", -4, d(1966, 1, 1, 0, 0), "assistant", None),
        (1, "c1", 3, d(1967, 5, 5, 5, 5), "user", None),
        (1, "c1", 4, d(1967, 5, 5, 5, 4), "assistant", None),
        # duplicate key across two buckets, pre-1970 (distinct ts, so
        # the turn_dup row's bucket does not depend on row order)
        (1, "c2", -1, d(1969, 12, 31, 23, 59, 59, 999998), "user", None),
        (0, "c2", -1, d(1969, 12, 31, 23, 59, 59, 999999), "user", None),
        (0, "c2", 0, d(1970, 1, 1, 0, 0, 0, 1), "assistant", None),
        # a gap wider than a turn block (8192), over an empty block
        (2, "g1", 0, d(2026, 1, 1, 0, 0), "user", "search"),
        (2, "g1", 1, d(2026, 1, 1, 0, 1), "assistant", "telepathy"),
        (2, "g1", 20000, d(2026, 1, 1, 0, 2), "user", None),
        # the quote/backslash vocabulary entry, and a value outside it
        (1, "q1", 0, d(2026, 1, 1, 0, 0), odd, None),
        (1, "q1", 1, d(2026, 1, 1, 0, 1), 'mod"er\\ator', 'to"ol'),
        (1, "q1", 2, d(2026, 1, 1, 0, 2), None, None),
    ]
    df = spark.createDataFrame(rows, DDL)
    got, want = _both(df, "dirty", ROLE_VOCAB + [odd])
    assert got == want
    found = sorted(((r["check_id"], r["conv_id"], r["turn_idx"])
                    for r in got), key=repr)
    assert found == sorted([
        ("turn_gap", None, 2), ("turn_dup", None, 2), ("unique_key", None, 2),
        ("ref_role", "n1", None),
        ("turn_dup", "n2", 3), ("unique_key", "n2", 3),
        ("turn_gap", "c1", 3), ("ts_order", "c1", 4),
        ("turn_dup", "c2", -1), ("unique_key", "c2", -1),
        ("ref_tool", "g1", 1), ("turn_gap", "g1", 20000),
        ("ref_role", "q1", 1), ("ref_tool", "q1", 1), ("ref_role", "q1", 2),
    ], key=repr), found
    uk = {(r["conv_id"], r["turn_idx"]): (r["partition_id"], r["payload"])
          for r in got if r["check_id"] == "unique_key"}
    assert uk[("c2", -1)] == (0, '{"n_copies":2}')
    assert uk[(None, 2)] == (1, '{"n_copies":2}')
    assert json.loads(next(r["schema_1"] for r in got
                           if r["check_id"] == "ref_role"
                           and r["conv_id"] == "q1" and r["turn_idx"] == 1)
                      ) == {"type": "enum", "values": ['mod"er\\ator']}


def test_kernel_pairs_a_null_ts_block_end_with_its_real_neighbour(spark):
    """Where the blocked oracle is wrong: a block whose last row has a
    null ts hands the next block an earlier row as its carrier, which
    fakes a gap. The kernel keeps the plain window's pairing."""
    d = datetime.datetime
    rows = [(0, "b", 8190, d(2026, 1, 1, 0, 0), "user", None),
            (0, "b", 8191, None, "user", None),
            (0, "b", 8192, d(2026, 1, 1, 0, 2), "user", None)]
    df = spark.createDataFrame(rows, DDL)
    got, want = _both(df, "edge")
    assert got == [] and _rows(C.check_ordering(df, "edge")) == []
    assert [r["check_id"] for r in want] == ["turn_gap"]
