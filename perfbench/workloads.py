"""The benchmark's workloads: what one timed unit of work is, and the
output check every call goes through.

Each workload has
- ``prepare()``: write the seeded snapshots (before any Spark session);
- ``cold(spark)``: the first ``validate()`` of the fresh JVM;
- ``unit(spark, i)``: one timed unit, returning its wall seconds.

Every ``validate()`` result is checked; a wrong result raises
``OutputMismatch`` and counts as a failed call.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections import Counter
from typing import Dict, List, Optional

from schema_inference_spark import pipeline
from schema_inference_spark.sources.catalog import SnapshotCatalog

import inputs

ROW_CHECKS = ("ref_role", "ref_tool", "unique_key", "turn_dup", "turn_gap",
              "ts_order")
ALL_PARTITIONS = list(range(inputs.N_BUCKETS))
# The baseline's KLL sketches handed to validate(): the planted drift
# column only. drift_violations runs three small Spark jobs per compared
# column (~0.5 s each on 4 cores); comparing all three numeric columns
# would add ~3 s to every unit, which the run's time budget cannot hold.
DRIFT_COLUMNS = ("text_len",)


class OutputMismatch(Exception):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise OutputMismatch(what)


def _stable(row) -> tuple:
    """A violation row without the parts that legitimately vary between
    calls: drift rows carry PSI/KS estimated from randomized KLL sketches,
    so only their column and threshold enter the digest."""
    if row["check_id"] != "drift_psi":
        return tuple(row)
    p = json.loads(row["payload"])
    return (row["check_id"], row["partition_id"], p["column"],
            p["threshold"], p["psi"] > p["threshold"])


class Workload:
    name = ""
    why = ""

    def __init__(self, work_dir: str, seed: int):
        self.snap_root = os.path.join(work_dir, "snapshots")
        self.store_root = os.path.join(work_dir, "stores")
        self.seed = seed
        self.turns_per_unit = 0
        self.calls_made = 0
        self._digests: Dict[str, str] = {}
        self.store_mb: List[float] = []
        self.resume_skipped_share: List[float] = []

    def describe(self) -> Dict:
        raise NotImplementedError

    def validate(self, spark, catalog, snapshot_id: str, **kwargs):
        """``pipeline.validate`` looked up at call time (a traced run
        patches it), counted toward the run's attempted calls."""
        self.calls_made += 1
        return pipeline.validate(spark, catalog, snapshot_id, **kwargs)

    # -- output check ---------------------------------------------------------

    def check(self, result, snap: Dict, path: str,
              extra: Optional[Counter] = None) -> List:
        """Compare one result with the reference: check path, partitions,
        row-level violations as a multiset, snapshot-level rows, and the
        digest of every violation row against the run's first call.
        Returns the violation rows."""
        _expect(result.check_path == path,
                f"check_path {result.check_path!r}, expected {path!r}")
        _expect(result.partitions == ALL_PARTITIONS and not result.errors,
                f"partitions {result.partitions}, errors {result.errors}")
        rows = result.violations.collect()
        got = Counter((r["check_id"], r["partition_id"], r["conv_id"],
                       r["turn_idx"]) for r in rows
                      if r["check_id"] in ROW_CHECKS)
        _expect(got == snap["expected"],
                f"row-level violations differ: missing "
                f"{list((snap['expected'] - got).items())[:5]}, unexpected "
                f"{list((got - snap['expected']).items())[:5]}")
        other = Counter(r["check_id"] for r in rows
                        if r["check_id"] not in ROW_CHECKS)
        _expect(other == (extra or Counter()),
                f"snapshot-level rows {dict(other)}, expected {dict(extra or {})}")
        digest = hashlib.sha256(repr(sorted(
            (_stable(r) for r in rows), key=repr)).encode()).hexdigest()
        first = self._digests.setdefault(snap["snapshot_id"], digest)
        _expect(digest == first,
                "violation rows differ from the run's first call")
        return rows


class ClusteredSnapshot(Workload):
    """A snapshot in generator order: clustered by conv_id, so the manifest
    declares the write order and ``validate()`` takes the zero-shuffle
    clustered path (operators/clustered). No stats, drift or writes."""

    name = "clustered_snapshot"
    why = ("declared write order: validate() takes the zero-shuffle "
           "clustered path (native split reader); shuffle checks, stats, "
           "drift and catalog writes are bypassed")
    N_CONV = 10_000

    def prepare(self) -> None:
        self.snap = inputs.build_snapshot(self.snap_root, "clustered",
                                          self.N_CONV, self.seed)
        self.catalog = SnapshotCatalog(self.snap_root)
        self.turns_per_unit = self.snap["n_rows"]

    def describe(self) -> Dict:
        return {"snapshots": {"clustered": {
            "n_conv": self.N_CONV, "n_rows": self.snap["n_rows"],
            "n_buckets": inputs.N_BUCKETS,
            "generator_seed": self.snap["generator_seed"],
            "row_order": "generator order (write order declared)"}},
            "unit": "validate(resume=False, write_audit=False)"}

    def _call(self, spark) -> float:
        t0 = time.perf_counter()
        r = self.validate(spark, self.catalog, "clustered",
                          resume=False, write_audit=False)
        dt = time.perf_counter() - t0
        try:
            self.check(r, self.snap, "clustered")
        finally:
            r.violations.unpersist()
        return dt

    def cold(self, spark) -> float:
        return self._call(spark)

    def unit(self, spark, i: int) -> float:
        return self._call(spark)


class UnclusteredDriftResume(Workload):
    """Rows permuted, so no write order is declared: the shuffle path
    (checks.check_rowlevel_fused, infer.infer_snapshot), the KLL profile
    and drift against a baseline snapshot, the violation and audit writes
    of a deployed job, and a re-submitted job that resume must skip.

    The first validate() of the JVM validates the baseline snapshot (a
    first deployment has no baseline yet); its result becomes the
    ``baseline_sketches`` / ``baseline_schema`` of every later call.
    Every call writes into audit and violation stores of its own unit."""

    name = "unclustered_drift_resume"
    why = ("permuted rows: shuffle path, KLL profile + drift vs a baseline, "
           "violation/audit writes, and a resubmit that resume skips; "
           "bypasses the clustered path")
    N_CONV = 5_000

    def prepare(self) -> None:
        self.base = inputs.build_snapshot(self.snap_root, "baseline",
                                          self.N_CONV, self.seed,
                                          shuffled=True)
        self.cur = inputs.build_snapshot(self.snap_root, "current",
                                         self.N_CONV, self.seed,
                                         text_len_scale=1.3, shuffled=True)
        self.turns_per_unit = self.cur["n_rows"]
        self.baseline = None

    def describe(self) -> Dict:
        seed = self.cur["generator_seed"]
        snap = {"n_conv": self.N_CONV, "n_buckets": inputs.N_BUCKETS,
                "generator_seed": seed,
                "row_order": f"permuted with seed {seed}"}
        return {"snapshots": {
            "baseline": dict(snap, n_rows=self.base["n_rows"],
                             text_len_scale=1.0),
            "current": dict(snap, n_rows=self.cur["n_rows"],
                            text_len_scale=1.3)},
            "unit": ("validate(current, baseline, resume=True, "
                     "write_audit=True) into fresh audit/violation stores, "
                     "then the same call again, which must skip every "
                     "partition")}

    def _catalog(self, name: str) -> SnapshotCatalog:
        stores = os.path.join(self.store_root, name)
        return SnapshotCatalog(
            self.snap_root, audit_root=os.path.join(stores, "audit"),
            violations_root=os.path.join(stores, "violations"))

    def cold(self, spark) -> float:
        """The first deployed job: the baseline snapshot, with no drift
        baseline yet, writing its own audit and violation stores."""
        t0 = time.perf_counter()
        r = self.validate(spark, self._catalog("baseline"), "baseline",
                          resume=True, write_audit=True)
        dt = time.perf_counter() - t0
        self.check(r, self.base, "fused")
        b = pipeline.baseline_from_result(r)
        self.baseline = {"baseline_sketches": {
            c: b["sketches"][c] for c in DRIFT_COLUMNS},
            "baseline_schema": b["schema"]}
        return dt

    def unit(self, spark, i: int) -> float:
        stores = os.path.join(self.store_root, f"unit{i}")
        cat = self._catalog(f"unit{i}")
        t0 = time.perf_counter()
        first = self.validate(spark, cat, "current", resume=True,
                              write_audit=True, **self.baseline)
        again = self.validate(spark, cat, "current", resume=True,
                              write_audit=True, **self.baseline)
        dt = time.perf_counter() - t0
        # the first call's violations are read back from the store it wrote
        rows = self.check(first, self.cur, "fused",
                          Counter({"drift_psi": 1}))
        drift = next(json.loads(r["payload"]) for r in rows
                     if r["check_id"] == "drift_psi")
        _expect(drift["column"] == "text_len"
                and drift["psi"] > drift["threshold"],
                f"drift row {drift}, expected text_len above threshold")
        _expect(again.partitions == [] and again.check_path == "none",
                f"resubmit validated {again.partitions} "
                f"({again.check_path})")
        self.resume_skipped_share.append(
            1 - len(again.partitions) / len(ALL_PARTITIONS))
        self.store_mb.append(sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(stores) for f in fs) / 1e6)
        shutil.rmtree(stores)
        return dt


WORKLOADS = {w.name: w for w in (ClusteredSnapshot, UnclusteredDriftResume)}
