"""Seeded workload inputs and their expected violation rows.

Snapshots are built with the program's own generator
(``sources.transcripts.generate_turns`` / ``write_snapshot``) outside all
timings; the program only ever sees the written snapshot directories.

The expected rows are computed here from the generated Arrow table with
numpy, independently of the engine: referential rows from the role/tool
vocabularies, ordering rows (duplicate key, gap, timestamp regression)
from a (conv_id, turn_idx, ts) sort.
"""

from __future__ import annotations

from collections import Counter
from typing import Dict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from schema_inference_spark.sources.transcripts import (
    ROLES, TOOLS, _hash_bucket, generate_turns, write_snapshot)

N_BUCKETS = 16
# The planted ordering anomalies of the generator (FIXTURES.md F1).
PLANTED = {"unique_key": {"c000017"}, "turn_dup": {"c000017"},
           "turn_gap": {"c000023"}, "ts_order": {"c000031"}}
# Generator seeds tried for one benchmark seed (see build_snapshot).
SEED_STRIDE = 2 ** 32
MAX_SEED_TRIES = 16


def expected_rows(table: pa.Table) -> Counter:
    """Multiset of the row-level violations ``validate()`` must report,
    keyed (check_id, partition_id, conv_id, turn_idx)."""
    conv = np.asarray(table.column("conv_id").to_pylist())
    turn = table.column("turn_idx").to_numpy().astype(np.int64)
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    role, tool = table.column("role"), table.column("tool")
    # the writer's bucket of each row: input layout, not engine output
    bucket = _hash_bucket(conv, N_BUCKETS)
    out: Counter = Counter()

    # the generator's vocabularies, which validate()'s defaults match; a
    # NULL role is out of vocabulary, a NULL tool is allowed
    bad_role = pc.invert(pc.fill_null(
        pc.is_in(role, pa.array(ROLES)), False))
    bad_tool = pc.and_(pc.is_valid(tool),
                       pc.invert(pc.is_in(tool, pa.array(TOOLS))))
    for check_id, mask in (("ref_role", bad_role), ("ref_tool", bad_tool)):
        for i in np.flatnonzero(mask.to_numpy(zero_copy_only=False)):
            out[(check_id, int(bucket[i]), conv[i], int(turn[i]))] += 1

    order = np.lexsort((ts, turn, conv))
    c, t, m, b = conv[order], turn[order], ts[order], bucket[order]
    same = c[1:] == c[:-1]
    nxt = np.arange(1, len(c))
    for check_id, mask in (("turn_dup", same & (t[1:] == t[:-1])),
                           ("turn_gap", same & (t[1:] > t[:-1] + 1)),
                           ("ts_order", same & (m[1:] < m[:-1]))):
        for i in nxt[mask]:
            out[(check_id, int(b[i]), c[i], int(t[i]))] += 1
    # one unique_key row per duplicated (conv_id, turn_idx) key
    for i in nxt[same & (t[1:] == t[:-1])]:
        out[("unique_key", int(b[i]), c[i], int(t[i]))] = 1
    return out


def planted_found(expected: Counter) -> bool:
    """Whether the reference finds exactly the planted anomalies."""
    return all({k[2] for k in expected if k[0] == check_id} == convs
               for check_id, convs in PLANTED.items())


def build_snapshot(root: str, snapshot_id: str, n_conv: int, seed: int,
                   text_len_scale: float = 1.0,
                   shuffled: bool = False) -> Dict:
    """Generate and write one snapshot; return its manifest, expected rows
    and generator seed. ``shuffled`` permutes the rows, so the writer
    cannot declare a write order and ``validate()`` takes the shuffle
    path.

    The generator plants the duplicate turn of c000017 only when that
    conversation has more than 4 turns, which about one seed in 36 does not
    give it. Such a seed is replaced by the first of ``seed + k * 2**32``
    (k = 1, 2, ...) whose table carries every planted anomaly, so every
    benchmark seed gives inputs with all of them."""
    for attempt in range(MAX_SEED_TRIES):
        gen_seed = seed + attempt * SEED_STRIDE
        table = generate_turns(n_conv=n_conv, seed=gen_seed,
                               text_len_scale=text_len_scale)
        expected = expected_rows(table)
        if planted_found(expected):
            break
    else:
        found = {c: sorted({k[2] for k in expected if k[0] == c})
                 for c in PLANTED}
        raise RuntimeError(f"{snapshot_id}: the reference finds {found} on "
                           f"{MAX_SEED_TRIES} generator seeds, planted on "
                           f"{PLANTED}")
    if shuffled:
        perm = np.random.default_rng(gen_seed).permutation(table.num_rows)
        table = table.take(pa.array(perm))
    manifest = write_snapshot(root, snapshot_id, table, n_buckets=N_BUCKETS)
    if ("write_order" in manifest) == shuffled:
        raise RuntimeError(f"{snapshot_id}: write order declared="
                           f"{'write_order' in manifest}, shuffled={shuffled}")
    return {"snapshot_id": snapshot_id, "n_rows": table.num_rows,
            "manifest": manifest, "expected": expected,
            "generator_seed": gen_seed}
