"""Spans around the calls into each layer, and Spark counters per span.

A traced run wraps each layer's public function where ``validate()``
looks it up:

- names ``pipeline`` imports at import time are patched on ``pipeline``
  (``pipeline.infer_snapshot``, ``pipeline.drift_violations``);
- names reached through a module alias or a lazy import inside
  ``validate()`` are patched on their own module
  (``checks.check_rowlevel_fused``, ``stats.profile_snapshot``,
  ``clustered.check_rowlevel_clustered``, ``infer.snapshot_census``,
  ``infer.finalize_infer``);
- catalog methods are patched on ``SnapshotCatalog``.

Spans live in memory and are written once, at the end of the run. While a
span is open its id is the Spark local property ``perfbench.span``, so
every job records the span that submitted it; the run's Spark event log
then yields per-span job, task, executor-time, GC, shuffle and spill
counters (``attribute_jobs``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import linecache
import os
import re
import statistics
import time
from typing import Dict, Iterator, List, Optional

SPAN_PROPERTY = "perfbench.span"

# (module path, attribute, span name); a None module path means the
# SnapshotCatalog class
PATCHES = [
    ("schema_inference_spark.pipeline", "validate", "pipeline.validate"),
    ("schema_inference_spark.pipeline", "infer_snapshot", "infer.infer_snapshot"),
    ("schema_inference_spark.pipeline", "drift_violations", "drift.drift_violations"),
    ("schema_inference_spark.operators.checks", "check_rowlevel_fused",
     "checks.check_rowlevel_fused"),
    ("schema_inference_spark.operators.stats", "profile_snapshot",
     "stats.profile_snapshot"),
    ("schema_inference_spark.operators.clustered", "check_rowlevel_clustered",
     "clustered.check_rowlevel_clustered"),
    ("schema_inference_spark.operators.infer", "snapshot_census",
     "infer.snapshot_census"),
    ("schema_inference_spark.operators.infer", "finalize_infer",
     "infer.finalize_infer"),
    (None, "pending_partitions", "catalog.pending_partitions"),
    (None, "completed_partitions", "catalog.completed_partitions"),
    (None, "append_violations", "catalog.append_violations"),
    (None, "read_violations", "catalog.read_violations"),
    (None, "append_audit", "catalog.append_audit"),
]

LAYER_SPANS = ["session.get_spark"] + [name for _, _, name in PATCHES]

# Layers whose own Spark jobs are counted. ``stats.profile_collect`` is
# the profile collect that pipeline.validate runs itself (split out of
# pipeline.validate's jobs by call site, see ``_job_group``). The census
# and finalize_infer submit no jobs on either workload.
JOB_GROUPS = [
    "pipeline.validate", "stats.profile_collect",
    "clustered.check_rowlevel_clustered",
    "infer.infer_snapshot", "drift.drift_violations",
    "catalog.completed_partitions", "catalog.append_violations",
    "catalog.read_violations", "catalog.append_audit",
]
COUNTERS = [("spark_jobs", "count"), ("tasks", "count"),
            ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
            ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a bare
    pass-through, so the untraced run pays nothing for it."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[Dict] = []
        self._stack: List[int] = []
        self._sc = None

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    def detach(self) -> None:
        self._sc = None

    def _publish(self) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Optional[Dict]]:
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.time(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._publish()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._publish()

    def patch_layers(self) -> None:
        """Wrap every function in PATCHES in a span of its layer name."""
        import importlib

        from schema_inference_spark.sources.catalog import SnapshotCatalog
        for mod_path, attr, name in PATCHES:
            owner = (SnapshotCatalog if mod_path is None
                     else importlib.import_module(mod_path))
            setattr(owner, attr, self._wrap(getattr(owner, attr), name))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


# -- derived figures -------------------------------------------------------------

def self_times(spans: List[Dict]) -> Dict[int, float]:
    """Span duration minus the time its direct children cover (spans of
    one run are sequential, so children never overlap)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def unit_of(spans: List[Dict]) -> Dict[int, int]:
    """span id -> id of the enclosing ``bench.unit`` span (if any)."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        cur = s
        while cur is not None and cur["name"] != "bench.unit":
            cur = by_id.get(cur["parent"])
        if cur is not None:
            out[s["id"]] = cur["id"]
    return out


_CALLSITE = re.compile(r"^(\w+) at (.*):(\d+)$")


def _job_group(span_name: str, callsite: str) -> str:
    """Counter group of one job: the span's layer, except that a job
    pipeline.validate submits itself whose call-site source line mentions
    the KLL column is the profile collect (``stats.profile_collect``)."""
    if span_name != "pipeline.validate":
        return span_name
    m = _CALLSITE.match(callsite)
    if m and m.group(2).endswith("pipeline.py"):
        line = int(m.group(3))
        src = "".join(linecache.getline(m.group(2), n)
                      for n in range(max(line - 3, 1), line + 1))
        if "kll" in src:
            return "stats.profile_collect"
    return span_name


def attribute_jobs(eventlog_dir: str, spans: List[Dict]) -> List[Dict]:
    """One record per Spark job: the span that submitted it, its counter
    group and call site, and its tasks' summed metrics."""
    names = {str(s["id"]): s["name"] for s in spans}
    jobs: Dict[int, Dict] = {}
    stage_job: Dict[int, int] = {}
    tasks: List[Dict] = []
    for fname in sorted(os.listdir(eventlog_dir)):
        with open(os.path.join(eventlog_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sid = props.get(SPAN_PROPERTY)
                    stages = ev.get("Stage Infos") or [{}]
                    callsite = props.get("callSite.short") or stages[-1].get(
                        "Stage Name", "")
                    span_name = names.get(sid, "unattributed")
                    jobs[ev["Job ID"]] = {
                        "job_id": ev["Job ID"],
                        "span": int(sid) if sid in names else None,
                        "group": _job_group(span_name, callsite),
                        "callsite": callsite,
                        "tasks": 0, "executor_run_s": 0.0,
                        "executor_cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_write_mb": 0.0, "spill_mb": 0.0}
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        job = jobs.get(stage_job.get(ev.get("Stage ID")))
        m = ev.get("Task Metrics")
        if job is None or not m:
            continue
        job["tasks"] += 1
        job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        job["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0) / 1e6
        job["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    return [jobs[k] for k in sorted(jobs)]


def layer_metrics(spans: List[Dict], jobs: List[Dict],
                  timed_units: List[int]) -> Dict[str, float]:
    """Per-layer figures per timed unit, as the median over timed units:
    ``<layer>_s`` is the layer's self time, ``<layer>.calls`` its number
    of spans, and ``<group>.<counter>`` sums the counters of the jobs the
    layer submitted itself."""
    selfs = self_times(spans)
    unit = unit_of(spans)
    per_unit = {u: {} for u in timed_units}

    def add(u, key, v):
        if u in per_unit:
            per_unit[u][key] = per_unit[u].get(key, 0.0) + v

    for s in spans:
        add(unit.get(s["id"]), s["name"] + "_s", selfs[s["id"]])
        add(unit.get(s["id"]), s["name"] + ".calls", 1)
    for j in jobs:
        u = unit.get(j["span"]) if j["span"] is not None else None
        add(u, j["group"] + ".spark_jobs", 1)
        for c, _ in COUNTERS[1:]:
            add(u, f"{j['group']}.{c}", j[c])

    keys = [n + suffix for n in LAYER_SPANS if n != "session.get_spark"
            for suffix in ("_s", ".calls")]
    keys += [f"{g}.{c}" for g in JOB_GROUPS for c, _ in COUNTERS]
    out = {k: statistics.median(per_unit[u].get(k, 0.0) for u in timed_units)
           for k in keys}
    out["pipeline.validate_self_s"] = out.pop("pipeline.validate_s")
    out["session.get_spark_s"] = next(s["end"] - s["start"] for s in spans
                                      if s["name"] == "session.get_spark")
    return out

