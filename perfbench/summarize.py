#!/usr/bin/env python3
"""Summarise benchmark runs from their records.

    python3 perfbench/summarize.py [record.json ...]

Without arguments it reads every record under ``.perfbench/records/``.
For each workload it prints, per end-to-end metric, the median and
quartiles across untraced runs and the spread (Q3 - Q1) / median that
BENCHMARK.json's bounds are judged against; the tracing overhead (median
untraced over median traced turns_per_s, minus one); the median wall
seconds of each unit position (warm-up and timed units, to show where the
plateau starts); and the range of the host context.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(paths) -> int:
    paths = paths or sorted(glob.glob(os.path.join(ROOT, ".perfbench",
                                                   "records", "*.json")))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        runs.setdefault(r["workload"], []).append(r)

    for wl, rs in sorted(runs.items()):
        plain = [r for r in rs if not r["trace"]]
        traced = [r for r in rs if r["trace"]]
        print(f"\n== {wl}: {len(plain)} untraced, {len(traced)} traced runs, "
              f"{sum(r['failed'] for r in rs)} failed calls of "
              f"{sum(r['attempted'] for r in rs)}")
        print(f"  {'metric':<18}{'median':>12}{'Q1':>12}{'Q3':>12}"
              f"{'spread':>9}{'bound':>7}")
        for m in spec["end_to_end"]:
            vals = [r["figures"][m["name"]] for r in plain
                    if m["name"] in r["figures"]]
            if not vals:
                continue
            q1, q2, q3 = quartiles(vals)
            print(f"  {m['name']:<18}{q2:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                  f"{(q3 - q1) / q2:>9.3f}{m['bound']:>7}  {m['unit']}")
        if plain and traced:
            un = statistics.median(r["figures"]["turns_per_s"] for r in plain)
            tr = statistics.median(r["figures"]["traced.turns_per_s"]
                                   for r in traced)
            print(f"  tracing overhead: {un / tr - 1:+.3f} "
                  f"(untraced {un:.4g} / traced {tr:.4g} turns/s)")
        series = {}
        for r in plain:
            for c in r["calls"]:
                if c["seconds"] is not None:
                    series.setdefault((c["index"], c["phase"]), []).append(
                        c["seconds"])
        print("  unit wall s by position (median over runs): " + ", ".join(
            f"{i}:{ph[0]}={statistics.median(v):.2f}"
            for (i, ph), v in sorted(series.items())))
        bw = [r[k]["memcpy_gbps"] for r in rs
              for k in ("host_before", "host_after")]
        la = [r[k]["loadavg"][0] for r in rs
              for k in ("host_before", "host_after")]
        print(f"  host: memcpy {min(bw):.2f}-{max(bw):.2f} GB/s, "
              f"load 1m {min(la):.2f}-{max(la):.2f}; run wall "
              f"{min(r['run_wall_s'] for r in rs):.1f}-"
              f"{max(r['run_wall_s'] for r in rs):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
