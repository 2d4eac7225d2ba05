"""spark-submit entry point (north_rule deployment shape).

Cluster:
    zip -r engine.zip schema_inference_spark
    spark-submit --py-files engine.zip submit_validate.py \
        --root s3://bucket/transcripts --snapshot s1 \
        --audit s3://bucket/audit [--baseline s3://bucket/baseline.json]

Local smoke:
    python submit_validate.py --root /tmp/snapshots --snapshot s1

The job is resume-safe: completed partitions are skipped via the audit
table; violations are written stable-ordered, partitioned by snapshot.
Exit code is 0 when every pending partition passed, 1 when any failed or
could not be read (verdict 'error': not completed, so a resubmit retries
it and exits 1 again until the partition is repaired) — data errors are
verdicts, never exceptions (the reference's by-value failure
propagation, algo_w.clj:9-11). The last stdout line is a JSON summary
with ``partitions_validated``, ``partitions_failed`` and
``partitions_errored``; ``already_complete`` is true only when nothing
was pending.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="snapshot catalog root")
    ap.add_argument("--snapshot", required=True)
    ap.add_argument("--audit", default=None, help="audit table root")
    ap.add_argument("--violations-out", default=None,
                    help="parquet sink for violation rows")
    ap.add_argument("--baseline", default=None,
                    help="JSON file: {column -> kll sketch hex} drift baseline")
    ap.add_argument("--rules", default=None,
                    help="JSON file: list of declared rule constraints "
                         "(operators/constraints.py dicts — kind: "
                         "implication|fd) evaluated with the built-in "
                         "checks")
    ap.add_argument("--completeness", action="store_true",
                    help="also emit per-conversation head-truncation/"
                         "gap violations (conv_head_truncated/conv_gap)")
    ap.add_argument("--stuck-loops", action="store_true",
                    help="also emit stuck_loop violations (runs of >=3 "
                         "consecutive identical roles per conversation)")
    ap.add_argument("--conv-dedup", action="store_true",
                    help="also emit conv_dup violations for whole-"
                         "conversation duplicates (byte-identical "
                         "(role, text) turn streams under two conv_ids)")
    ap.add_argument("--conv-near-dedup", type=float, default=None,
                    metavar="JACCARD",
                    help="also emit conv_near_dup violations for "
                         "conversation-level near-duplicates (re-rollouts:"
                         " assembled transcripts at exact-Jaccard >= the "
                         "given threshold, e.g. 0.5)")
    ap.add_argument("--conv-near-dedup-max-turns", type=int, default=None,
                    metavar="N",
                    help="prefix cap for the near-dup whale guard: "
                         "compare each conversation's first N turns "
                         "(default: the check's measured 1024; pass 0 "
                         "for whole-transcript comparison — see "
                         "check_conv_near_dup's memory contract before "
                         "doing that at corpus scale)")
    ap.add_argument("--replica-of", default=None,
                    help="run the replica-verification job instead of "
                         "validate(): per-turn text equality of "
                         "--snapshot against this reference snapshot, "
                         "violations to --violations-out")
    ap.add_argument("--context-budget", type=int, default=None,
                    help="emit context_overflow violations for "
                         "conversations whose running text length "
                         "crosses this budget")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()
    if args.replica_of:
        # --replica-of is a STANDALONE job (per-turn replica equality);
        # silently ignoring validation flags would let an operator read
        # its exit 0 as "snapshot fully validated" when no check ran
        clashing = [n for n, v in (
            ("--conv-dedup", args.conv_dedup),
            ("--conv-near-dedup", args.conv_near_dedup is not None),
            ("--completeness", args.completeness),
            ("--stuck-loops", args.stuck_loops),
            ("--context-budget", args.context_budget is not None),
            ("--baseline", args.baseline),
            ("--rules", args.rules),
        ) if v]
        if clashing:
            ap.error("--replica-of runs the replica-verification job "
                     "only and cannot be combined with validation flags: "
                     + " ".join(clashing)
                     + " (run a separate validate invocation)")

    from schema_inference_spark.functions import get_spark
    from schema_inference_spark.pipeline import validate
    from schema_inference_spark.sources.catalog import SnapshotCatalog

    spark = get_spark(app_name=f"validate-{args.snapshot}")
    catalog = SnapshotCatalog(args.root, audit_root=args.audit)

    baseline_sketches = None
    if args.baseline:
        with open(args.baseline) as f:
            baseline_sketches = {k: bytes.fromhex(v) if v else None
                                 for k, v in json.load(f).items()}

    rules = None
    if args.rules:
        with open(args.rules) as f:
            rules = json.load(f)

    import time
    if args.replica_of:
        from schema_inference_spark.pipeline import validate_replica
        t0 = time.monotonic()
        v = validate_replica(spark, catalog, args.snapshot,
                             args.replica_of).cache()
        n_viol = v.count()
        wall = time.monotonic() - t0
        if args.violations_out:
            (v.write.option("partitionOverwriteMode", "dynamic")
             .mode("overwrite").partitionBy("snapshot_id")
             .parquet(args.violations_out))
        n_turns = sum(p.get("n_rows", 0)
                      for p in catalog.manifest(args.snapshot)["partitions"])
        print(json.dumps({
            "snapshot": args.snapshot,
            "replica_of": args.replica_of,
            "n_violations": n_viol,
            "wall_sec_validate": round(wall, 2),
            "turns": n_turns,
            "turns_per_sec": round(n_turns / wall, 1) if wall > 0 else None,
        }))
        spark.stop()
        return 1 if n_viol else 0

    t0 = time.monotonic()
    result = validate(spark, catalog, args.snapshot,
                      baseline_sketches=baseline_sketches,
                      rules=rules,
                      completeness=args.completeness,
                      stuck_loops=args.stuck_loops,
                      conv_dedup=args.conv_dedup,
                      conv_near_dedup=args.conv_near_dedup,
                      conv_near_dedup_max_turns=args.conv_near_dedup_max_turns,
                      context_budget=args.context_budget,
                      resume=not args.no_resume)

    if args.violations_out:
        # idempotent per-snapshot overwrite (reruns replace, never
        # duplicate); the primary resume-safe store is the catalog's
        # _violations table, written inside validate()
        (result.violations
         .write.option("partitionOverwriteMode", "dynamic")
         .mode("overwrite")
         .partitionBy("snapshot_id")
         .parquet(args.violations_out))

    validated = set(result.partitions)
    verdicts = [v for v in result.verdicts.collect()
                if v.partition_id in validated or v.partition_id == -1]
    n_fail = sum(1 for v in verdicts if v.verdict == "fail")
    # engine wall: validate() through the last action (violation sink +
    # verdict collect), excluding JVM/session startup — the number a
    # two-cluster-size throughput comparison should use (startup is O(1)
    # per job; see `git show 3abe443:BENCH/AMORTIZATION.md`)
    wall = time.monotonic() - t0
    n_turns = sum(p.get("n_rows", 0)
                  for p in catalog.manifest(args.snapshot)["partitions"]
                  if p["partition_id"] in validated)
    print(json.dumps({
        "snapshot": args.snapshot,
        "partitions_validated": len(validated),
        "partitions_failed": n_fail,
        "partitions_errored": len(result.errors),
        "already_complete": not validated and not result.errors,
        "wall_sec_validate": round(wall, 2),
        "turns": n_turns,
        "turns_per_sec": round(n_turns / wall, 1) if wall > 0 else None,
        "schema": {k: v for k, v in result.table_schema.items()},
    }, default=str))
    spark.stop()
    # idempotent rerun with nothing pending exits 0; an unreadable
    # partition stays pending and keeps the exit at 1
    return 1 if n_fail or result.errors else 0


if __name__ == "__main__":
    sys.exit(main())
