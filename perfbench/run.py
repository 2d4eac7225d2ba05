#!/usr/bin/env python3
"""Benchmark of ``schema_inference_spark.pipeline.validate()``, measured
from outside on seeded transcript snapshots.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root (any directory works; paths derive from this
file). One run is one fresh process:

1. write the workload's snapshots from ``--seed`` (untimed);
2. ``get_spark()``: JVM launch and heap pre-touch (``setup_s``);
3. the cold call: the first ``validate()`` of that JVM;
4. warm-up units, then timed units for ``--seconds`` seconds;
5. stop the JVM and every Python worker, and wait for them to end.

Every call's output is checked (see workloads.py). The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). The line before
it summarises the run. The exit code is 1 when any call failed or gave a
wrong result, 2 when the program is not there to measure.

Each run leaves one JSON record under ``.perfbench/records/``: launch
environment, input sizes and seeds, host context (memcpy bandwidth and
load average before and after), the per-call series and, for a traced
run, every span and the Spark jobs attributed to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import host
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Heap for the driver JVM, pre-touched at start by get_spark(). Sized to
# leave most of a 15 GB host free: the largest run peaks near 4.7 GB.
DRIVER_MEM = "3g"
# Warm-up units after the cold call, and the fewest timed units. Both
# paths keep speeding up for several calls after the cold one (see the
# per-unit series in the run records); the second call of either is within
# about 10 % of the ones after it. A CPU-steal burst from a co-tenant can
# slow any unit by 10-60 %, so the median of three timed units leaves one
# to spare.
WARM_UNITS = 1
MIN_TIMED_UNITS = 3
# Stop starting timed units after this much process time, so that a slow
# host still exits inside the 180 s a run may take.
RUN_LIMIT_S = 140.0


def launch_env(work: str, trace: bool) -> dict:
    conf = ["spark.schema_inference.clustered.minRows=0"]
    if trace:
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{work}/eventlog",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    tmp = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              f"-XX:ErrorFile={work}/hs_err_%p.log"),
        "PYSPARK_SUBMIT_ARGS": "".join(f"--conf {c} " for c in conf)
                               + "pyspark-shell",
    }


def apply_env(env: dict) -> None:
    """Pin the launch environment: drop every engine knob and any
    gateway of an enclosing Spark job, so program defaults apply (heap
    pre-touch stays on), then set ``env``."""
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key.startswith("PYSPARK_GATEWAY"):
            del os.environ[key]
    os.environ.update(env)
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)


# -- session lifecycle ---------------------------------------------------------

def start_session(tracer):
    from schema_inference_spark.functions.session import get_spark
    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        spark = get_spark()
        dt = time.perf_counter() - t0
    return spark, dt


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus each of its
    Python worker processes; pages a forked worker shares with the daemon
    count in each."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return host.vm_hwm_mb(jvm) + sum(host.vm_hwm_mb(p)
                                     for p, _ in host.descendants(jvm))


def stop_session(spark, tracer) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    for it and every Python worker it started."""
    from pyspark import SparkContext
    tracer.detach()
    procs = host.descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        host.wait_gone(procs)


# -- one run -------------------------------------------------------------------

class Run:
    def __init__(self, args, run_id: str, work: str):
        import workloads  # imports the program under test
        self.args = args
        self.t_process = time.perf_counter()
        self.tracer = spans.Tracer(run_id, enabled=bool(args.trace))
        if args.trace:
            self.tracer.patch_layers()
        self.wl = workloads.WORKLOADS[args.workload](work, args.seed)
        self.calls = []   # per-unit series: phase, index, seconds, error

    def attempt(self, phase: str, index: int, fn):
        """Run one unit; a raised error or a wrong output marks it failed
        (the run goes on, and its result reads correct=false)."""
        ticks = host.cpu_ticks()
        with self.tracer.span("bench.unit", phase=phase, index=index):
            try:
                seconds, error = fn(), None
            except Exception as exc:  # noqa: BLE001 — every failure is counted
                traceback.print_exc(file=sys.stderr)
                seconds, error = None, f"{type(exc).__name__}: {exc}"[:500]
        self.calls.append({
            "phase": phase, "index": index, "seconds": seconds,
            "steal_share": host.steal_share(ticks, host.cpu_ticks()),
            "error": error})
        return seconds

    def execute(self) -> dict:
        wl, tracer = self.wl, self.tracer
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        before = host.host_context()

        spark, setup_s = start_session(tracer)
        try:
            tracer.attach(spark.sparkContext)
            cold = self.attempt("cold", 0, lambda: wl.cold(spark))
            index = 1
            for _ in range(WARM_UNITS):
                self.attempt("warm", index, lambda: wl.unit(spark, index))
                index += 1
            timed, t_timed = [], time.perf_counter()
            while ((time.perf_counter() - t_timed < self.args.seconds
                    or index - 1 - WARM_UNITS
                    < MIN_TIMED_UNITS)
                   and time.perf_counter() - self.t_process < RUN_LIMIT_S):
                s = self.attempt("timed", index, lambda: wl.unit(spark, index))
                if s is not None:
                    timed.append(s)
                index += 1
            timed_s = time.perf_counter() - t_timed
            rss = peak_rss_mb(spark)
        finally:
            stop_session(spark, tracer)
        after = host.host_context()

        failed = sum(c["error"] is not None for c in self.calls)
        figures = {"setup_s": setup_s, "peak_rss_mb": rss}
        if cold is not None:
            figures["cold_validate_s"] = cold
        if timed:
            figures["turns_per_s"] = wl.turns_per_unit / statistics.median(timed)
        return {
            "workload": wl.name, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "inputs": wl.describe(), "prepare_s": prepare_s,
            "host_before": before, "host_after": after,
            "calls": self.calls, "timed_phase_s": timed_s,
            "steal_share": host.steal_share(before["cpu_ticks"],
                                            after["cpu_ticks"]),
            "attempted": max(wl.calls_made, 1), "failed": failed,
            "failed_share": failed / max(wl.calls_made, 1),
            "figures": figures,
        }

    def trace_figures(self, record: dict, eventlog: str) -> None:
        """Per-layer figures of a traced run, from its spans and the Spark
        jobs its event log attributes to them."""
        wl = self.wl
        jobs = spans.attribute_jobs(eventlog, self.tracer.spans)
        selfs = spans.self_times(self.tracer.spans)
        for s in self.tracer.spans:
            s["self_s"] = selfs[s["id"]]
        timed_units = [s["id"] for s in self.tracer.spans
                       if s["name"] == "bench.unit" and s["phase"] == "timed"]
        fig = record["figures"]
        fig.update(spans.layer_metrics(self.tracer.spans, jobs, timed_units))
        fig["traced.turns_per_s"] = fig.get("turns_per_s", 0.0)
        fig["catalog.store_mb"] = (statistics.median(wl.store_mb)
                                   if wl.store_mb else 0.0)
        fig["catalog.resume_skipped_share"] = (
            statistics.median(wl.resume_skipped_share)
            if wl.resume_skipped_share else 0.0)
        callsites = {}
        for j in jobs:
            key = f"{j['group']} | {j['callsite']}"
            c = callsites.setdefault(key, {"spark_jobs": 0, "tasks": 0,
                                           "executor_run_s": 0.0})
            c["spark_jobs"] += 1
            c["tasks"] += j["tasks"]
            c["executor_run_s"] += j["executor_run_s"]
        record.update(spans=self.tracer.spans, jobs=jobs,
                      jobs_by_callsite=callsites)


def declared_metrics(trace: bool) -> list:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["clustered_snapshot", "unclustered_drift_resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be a non-negative integer")
    if not os.path.isfile(os.path.join(ROOT, "schema_inference_spark",
                                       "pipeline.py")):
        print(f"perfbench: no schema_inference_spark package in {ROOT}; "
              f"nothing to measure", file=sys.stderr)
        return 2

    run_id = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    env = launch_env(work, bool(args.trace))
    apply_env(env)
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
    sys.path.insert(0, ROOT)

    try:
        run = Run(args, run_id, work)
        record = run.execute()
        if args.trace:
            run.trace_figures(record, os.path.join(work, "eventlog"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record.update(run_id=run_id, launch_env=env,
                  run_wall_s=time.perf_counter() - run.t_process)
    path = os.path.join(records, run_id + ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)

    correct = record["failed"] == 0
    fig = record["figures"]
    metrics = {}
    for m in declared_metrics(bool(args.trace)):
        if m["name"] in fig:
            metrics[m["name"]] = {"value": fig[m["name"]], "unit": m["unit"]}
        else:
            correct = False
    e2e = {m["name"]: f"{fig[m['name']]:.4g} {m['unit']}"
           for m in declared_metrics(False) if m["name"] in fig}
    print("perfbench: " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failed_share": record["failed_share"], **e2e,
        "memcpy_gbps": [record["host_before"]["memcpy_gbps"],
                        record["host_after"]["memcpy_gbps"]],
        "steal_share": round(record["steal_share"], 4),
        "loadavg_1m": [record["host_before"]["loadavg"][0],
                       record["host_after"]["loadavg"][0]],
        "record": os.path.relpath(path, ROOT)}))
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}),
          flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
