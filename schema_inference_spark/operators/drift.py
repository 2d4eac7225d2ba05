"""Distribution drift (D13): PSI / KS over merged KLL sketches.

The temporal analog of the reference's sub-schema compatibility gate
(util.clj:257-278; README.md:260-353): "is today's data still compatible
with the baseline snapshot" — answered from two merged KLL sketches, so the
comparison costs O(sketch) regardless of table size. Bin edges come from
the baseline sketch's quantiles; both sketches are rank-queried at those
edges; PSI and KS are computed driver-side over the resulting tiny vectors
(SURVEY.md §4.2: no Catalyst work, plain math).
"""

from __future__ import annotations

import json
import math
from typing import Dict, List, Optional, Tuple

from pyspark.sql import functions as F

from ..functions.frames import local_frame

DEFAULT_BINS = 10
# conventional PSI thresholds: <0.1 stable, 0.1-0.25 moderate, >0.25 drifted
PSI_THRESHOLD = 0.25


def psi_ks_many(spark, pairs: Dict[str, Tuple[bytes, bytes]],
                n_bins: int = DEFAULT_BINS) -> Dict[str, Dict[str, float]]:
    """``psi_ks_from_sketches`` for every column of ``pairs`` ({column:
    (baseline kll, current kll)}) in ONE projection, evaluated on the
    driver without a job: the baseline's interior quantiles (the bin
    edges) and both sketches' ranks there. The current sketches sit in a
    one-row local frame, the baseline ones are literals (a rank query
    takes only a constant quantile). Equal edges are deduped afterwards:
    the rank at two equal edges is equal, so PSI and KS do not change."""
    cols = sorted(pairs)
    probs = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])
    sel = []
    for i, c in enumerate(cols):
        base = F.lit(bytearray(pairs[c][0]))
        edges = F.kll_sketch_get_quantile_double(base, probs)
        sel.append(F.struct(edges, F.kll_sketch_get_rank_double(base, edges),
                            F.kll_sketch_get_rank_double(f"c{i}", edges)))
    row = local_frame(spark, [tuple(bytes(pairs[c][1]) for c in cols)],
                      ", ".join(f"c{i} binary" for i in range(len(cols)))
                      ).select(*sel).first() if cols else []
    out = {}
    for c, (edges, base_rank, cur_rank) in zip(cols, row):
        keep = [j for j, e in enumerate(edges) if j == 0 or e > max(edges[:j])]
        base_cdf = [0.0] + [base_rank[j] for j in keep] + [1.0]
        cur_cdf = [0.0] + [cur_rank[j] for j in keep] + [1.0]
        eps, psi, ks = 1e-6, 0.0, 0.0
        for i in range(1, len(base_cdf)):
            p = max(base_cdf[i] - base_cdf[i - 1], eps)   # baseline bin mass
            q = max(cur_cdf[i] - cur_cdf[i - 1], eps)     # current bin mass
            psi += (q - p) * math.log(q / p)
            ks = max(ks, abs(base_cdf[i] - cur_cdf[i]))
        out[c] = {"psi": psi, "ks": ks, "n_bins": len(keep) + 1}
    return out


def psi_ks_from_sketches(spark, baseline_kll: bytes, current_kll: bytes,
                         n_bins: int = DEFAULT_BINS) -> Dict[str, float]:
    """Population Stability Index + Kolmogorov-Smirnov statistic between two
    KLL quantile sketches. Edges = baseline deciles (interior), so the
    baseline bin mass is ~uniform and PSI is well-conditioned.
    """
    return psi_ks_many(spark, {"": (baseline_kll, current_kll)}, n_bins)[""]


def drift_violations(spark, snapshot_id: str,
                     baseline_stats: Dict[str, bytes],
                     current_stats: Dict[str, bytes],
                     threshold: float = PSI_THRESHOLD,
                     n_bins: int = DEFAULT_BINS) -> List[Dict]:
    """Compare every column present in both sketch registries; emit a
    drift_psi violation row (F5 shape) where PSI exceeds the threshold."""
    pairs = {c: (baseline_stats[c], current_stats[c])
             for c in set(baseline_stats) & set(current_stats)
             if None not in (baseline_stats[c], current_stats[c])}
    try:
        metrics = psi_ks_many(spark, pairs, n_bins)
    except Exception:
        # an invalid/empty sketch fails the whole projection: compare
        # column by column and skip the incomparable ones (not a drift)
        metrics = {}
        for col, pair in pairs.items():
            try:
                metrics.update(psi_ks_many(spark, {col: pair}, n_bins))
            except Exception:
                continue
    out: List[Dict] = []
    for col, m in sorted(metrics.items()):
        if m["psi"] > threshold:
            out.append({
                "snapshot_id": snapshot_id,
                "partition_id": -1,      # snapshot-level check
                "check_id": "drift_psi",
                "mgu_failure": None,
                "schema_1": None, "schema_2": None,
                "conv_id": None, "turn_idx": None,
                "payload": json.dumps(
                    {"column": col, "psi": round(m["psi"], 6),
                     "ks": round(m["ks"], 6), "threshold": threshold},
                    sort_keys=True),
            })
    return out


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
    cells (eps-clamped like psi_ks_from_sketches). Emits ONE
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
