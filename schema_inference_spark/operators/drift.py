"""Distribution drift (D13): PSI / KS of the current snapshot against a
baseline's KLL sketch, on the baseline's bin edges.

The temporal analog of the reference's sub-schema compatibility gate
(util.clj:257-278; README.md:260-353): "is today's data still compatible
with the baseline snapshot". KLL is kept where it is needed, choosing the
bins once: before the corpus pass, one driver-local projection reads each
baseline sketch's interior deciles (the bin edges) and its ranks there
(the baseline CDF). The current side is not sketched: the native split
reader counts every compared column's non-null values and the values at
or below each edge, exactly, inside the pass that also runs the checks.
PSI and KS are then plain math over two small CDFs (SURVEY.md §4.2), and
the same snapshot and baseline give the same payload in every run: no
randomized rank error on the current side (KLL± VLDB 2021 and the EDBT
2023 quantile-sketch study measure that error).
"""

from __future__ import annotations

import json
import math
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from ..functions.frames import local_frame

DEFAULT_BINS = 10
# conventional PSI thresholds: <0.1 stable, 0.1-0.25 moderate, >0.25 drifted
PSI_THRESHOLD = 0.25

# {column: (strictly increasing bin edges, baseline CDF)}; the CDF has
# len(edges) + 2 points: 0.0, the baseline's rank at each edge, 1.0
Bins = Dict[str, Tuple[List[float], List[float]]]


def _bins_projection(spark, sketches: Dict[str, bytes]) -> Bins:
    """Edges and baseline ranks of every sketch in ONE projection over a
    one-row local frame, which Spark evaluates on the driver without a
    job (the sketches are literals: a rank query takes only a constant
    quantile). Equal edges are deduped afterwards: the rank at two equal
    edges is equal, so PSI and KS do not change."""
    cols = sorted(sketches)
    probs = F.array(*[F.lit(i / DEFAULT_BINS)
                      for i in range(1, DEFAULT_BINS)])
    sel = []
    for c in cols:
        base = F.lit(bytearray(sketches[c]))
        edges = F.kll_sketch_get_quantile_double(base, probs)
        sel.append(F.struct(edges, F.kll_sketch_get_rank_double(base, edges)))
    row = local_frame(spark, [(0,)], "one int").select(*sel).first()
    out: Bins = {}
    for c, (edges, ranks) in zip(cols, row):
        keep = [j for j, e in enumerate(edges)
                if j == 0 or e > max(edges[:j])]
        out[c] = ([float(edges[j]) for j in keep],
                  [0.0] + [float(ranks[j]) for j in keep] + [1.0])
    return out


def baseline_bins(spark, baseline_sketches: Dict[str, Optional[bytes]]
                  ) -> Tuple[Bins, Dict[str, str]]:
    """The baseline side of drift, read before the corpus pass: ``(bins,
    skipped)``. ``bins`` maps every compared column to its bin edges and
    the baseline CDF there; columns without a sketch are not compared.
    A sketch that cannot be read (the one failure expected here) fails
    the shared projection, so the columns are then read one by one and
    each unreadable one lands in ``skipped`` ({column: reason}) instead
    of taking the others down."""
    sketches = {c: b for c, b in baseline_sketches.items() if b is not None}
    if not sketches:
        return {}, {}
    # a corrupt or empty sketch fails its quantile query with
    # KLL_INVALID_INPUT_SKETCH_BUFFER, a PySparkException on the driver
    try:
        return _bins_projection(spark, sketches), {}
    except PySparkException:
        pass
    bins: Bins = {}
    skipped: Dict[str, str] = {}
    for col in sorted(sketches):
        try:
            bins.update(_bins_projection(spark, {col: sketches[col]}))
        except PySparkException as exc:
            skipped[col] = ("baseline sketch unreadable: "
                            f"{type(exc).__name__}: {str(exc)[:200]}")
    return bins, skipped


def psi_ks(base_cdf: Sequence[float], cur_cdf: Sequence[float]
           ) -> Tuple[float, float]:
    """PSI and KS between two CDFs over the same bins (eps-clamped bin
    masses, so an empty bin stays finite)."""
    eps, psi, ks = 1e-6, 0.0, 0.0
    for i in range(1, len(base_cdf)):
        p = max(base_cdf[i] - base_cdf[i - 1], eps)   # baseline bin mass
        q = max(cur_cdf[i] - cur_cdf[i - 1], eps)     # current bin mass
        psi += (q - p) * math.log(q / p)
        ks = max(ks, abs(base_cdf[i] - cur_cdf[i]))
    return psi, ks


def drift_violations(snapshot_id: str, bins: Bins,
                     counts: Dict[str, Tuple[int, List[int]]],
                     threshold: float = PSI_THRESHOLD
                     ) -> Tuple[List[Dict], Dict[str, str]]:
    """Compare every column of ``bins`` with its exact current counts
    (``counts``: {column: (non-null values, values <= each edge)}), the
    current CDF being the inclusive rank ``count(x <= edge) / n``. Returns
    ``(rows, skipped)``: a drift_psi violation row (F5 shape) where PSI
    exceeds the threshold, and {column: reason} for the columns whose
    current side has no non-null value to compare."""
    out: List[Dict] = []
    skipped: Dict[str, str] = {}
    for col, (_, base_cdf) in sorted(bins.items()):
        n, le = counts.get(col, (0, []))
        if n == 0:
            skipped[col] = "no non-null current values"
            continue
        psi, ks = psi_ks(base_cdf, [0.0] + [c / n for c in le] + [1.0])
        if psi > threshold:
            out.append({
                "snapshot_id": snapshot_id,
                "partition_id": -1,      # snapshot-level check
                "check_id": "drift_psi",
                "mgu_failure": None,
                "schema_1": None, "schema_2": None,
                "conv_id": None, "turn_idx": None,
                "payload": json.dumps(
                    {"column": col, "psi": round(psi, 6),
                     "ks": round(ks, 6), "threshold": threshold},
                    sort_keys=True),
            })
    return out, skipped


def schema_drift_violation(snapshot_id: str, column: str,
                           snapshot_schema: Dict, baseline_schema: Dict,
                           ) -> Optional[Dict]:
    """Sub-schema gate: snapshot column type must conform to the baseline
    type (the reference's protocol-conformance check, algo_w.clj:223-248).
    Returns a violation row or None."""
    from ..ir.schema_ir import schema_to_json
    from ..ir.subschema import sub_schema

    if sub_schema(snapshot_schema, baseline_schema):
        return None
    return {
        "snapshot_id": snapshot_id,
        "partition_id": -1,
        "check_id": "schema_compat",
        "mgu_failure": "non_equal",
        "schema_1": schema_to_json(snapshot_schema),
        "schema_2": schema_to_json(baseline_schema),
        "conv_id": None, "turn_idx": None,
        "payload": json.dumps({"column": column}, sort_keys=True),
    }


def transition_matrix(df, key_col: str = "conv_id", ts_col: str = "ts",
                      seq_col: str = "role", tiebreak_col: str = "turn_idx"
                      ) -> Dict:
    """Collect a snapshot's (prev -> cur) transition matrix as a driver
    dict — the aggregate is |roles|^2 rows (metadata-sized; the corpus
    shuffles once on the conversation key, same Exchange as every other
    per-key check). This is the STRUCTURE baseline the value-level KLL
    baseline cannot express."""
    from .conversations import transition_counts
    rows = transition_counts(df, key_col, ts_col, seq_col,
                             tiebreak_col).collect()
    return {(r.prev, r.cur): int(r.n) for r in rows}


def transition_drift_violation(snapshot_id: str, baseline: Dict,
                               current: Dict,
                               threshold: float = PSI_THRESHOLD
                               ) -> Optional[Dict]:
    """PSI between two transition matrices over the union of observed
    cells (eps-clamped like ``psi_ks``). Emits ONE
    snapshot-level violation row when the matrix as a whole drifts,
    naming the largest-term cell — a role-protocol regression
    (assistant turns that stop following user turns) moves this matrix
    while every per-column value distribution stays flat."""
    cells = sorted(set(baseline) | set(current))
    if not cells:
        return None
    tb = sum(baseline.values()) or 1
    tc = sum(current.values()) or 1
    eps = 1e-6
    psi = 0.0
    top_cell, top_term = None, float("-inf")
    for cell in cells:
        p = max(baseline.get(cell, 0) / tb, eps)
        q = max(current.get(cell, 0) / tc, eps)
        term = (q - p) * math.log(q / p)
        psi += term
        if term > top_term:
            top_term, top_cell = term, cell
    if psi <= threshold:
        return None
    return {
        "snapshot_id": snapshot_id,
        "partition_id": -1,
        "check_id": "transition_drift",
        "mgu_failure": None,
        "schema_1": None, "schema_2": None,
        "conv_id": None, "turn_idx": None,
        "payload": json.dumps(
            {"psi": round(psi, 6), "threshold": threshold,
             "top_cell": list(top_cell), "top_term": round(top_term, 6)},
            sort_keys=True),
    }
