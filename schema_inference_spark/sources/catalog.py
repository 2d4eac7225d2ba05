"""Snapshot catalog — the Iceberg seam (SURVEY.md §2.D1/D2, §7.0).

In production this is ``spark.read.format("iceberg")`` + an Iceberg audit
table; the sandbox has no Iceberg runtime jar, so the same partition-level
semantics (enumerate snapshot partitions, read a pruned subset, append
audit rows, resume from lineage) run over bucket-partitioned parquet plus a
JSON manifest written by ``transcripts.write_snapshot``. Everything above
this module is storage-agnostic.

Scale notes (100 TB / 10^5+ partitions):
- partition enumeration is manifest metadata, never a file listing;
- reads are partition-pruned: only pending buckets hit the scan
  (basePath-rooted parquet read with an explicit subdir list, so Spark
  prunes at planning time);
- the audit table is itself partitioned by snapshot; resume is an
  anti-join of manifest partitions against completed audit rows — no
  rescan of validated data.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.frames import local_frame

AUDIT_SCHEMA = T.StructType([
    T.StructField("snapshot_id", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("verdict", T.StringType(), False),        # pass/fail/error
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_violations", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
    T.StructField("state_json", T.StringType(), True),      # merged column state
])
_AUDIT_FILE_SCHEMA = T.StructType(AUDIT_SCHEMA.fields[1:])  # no snapshot_id


VIOLATION_DDL = ("snapshot_id string, partition_id int, check_id string, "
                 "mgu_failure string, schema_1 string, schema_2 string, "
                 "conv_id string, turn_idx bigint, payload string")

_VIOLATION_COLS = [f.strip().split(" ")[0] for f in VIOLATION_DDL.split(",")]


class SnapshotCatalog:
    def __init__(self, root: str, audit_root: Optional[str] = None,
                 violations_root: Optional[str] = None):
        self.root = root
        self.audit_root = audit_root or os.path.join(root, "_audit")
        self.violations_root = violations_root or os.path.join(
            root, "_violations")

    # -- snapshot metadata ---------------------------------------------------

    def manifest(self, snapshot_id: str) -> Dict:
        with open(os.path.join(self.root, snapshot_id, "manifest.json")) as f:
            return json.load(f)

    def partition_ids(self, snapshot_id: str) -> List[int]:
        return [p["partition_id"] for p in self.manifest(snapshot_id)["partitions"]]

    # -- reads ----------------------------------------------------------------

    def read_snapshot(self, spark: SparkSession, snapshot_id: str,
                      partitions: Optional[Sequence[int]] = None) -> DataFrame:
        """Read a snapshot (optionally pruned to a partition subset) with the
        partition column ``bucket`` materialized. Prod: an Iceberg read with
        a partition filter — same pruning contract."""
        snap_dir = os.path.join(self.root, snapshot_id)
        if partitions is None:
            partitions = self.partition_ids(snapshot_id)
        paths = [os.path.join(snap_dir, f"bucket={b}") for b in partitions]
        # mergeSchema=true: partitions with conflicting physical types must
        # still SCAN (for stats + row-level checks); strict type semantics
        # are enforced by the footer census, not the scan (SURVEY.md §7.3-1)
        return (spark.read
                .option("basePath", snap_dir)
                .option("mergeSchema", "true")
                .parquet(*paths))

    # -- audit / lineage (D19) -------------------------------------------------

    def _audit_dir(self, snapshot_id: str) -> str:
        return os.path.join(self.audit_root, f"snapshot_id={snapshot_id}")

    def read_audit(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """Audit rows, read with their file schema: no inference job."""
        d = self._audit_dir(snapshot_id)
        if not os.path.isdir(d) or not any(
                f.endswith(".parquet") for f in os.listdir(d)):
            return local_frame(spark, [], AUDIT_SCHEMA)
        df = spark.read.schema(_AUDIT_FILE_SCHEMA).parquet(d)
        return df.withColumn("snapshot_id", F.lit(snapshot_id)).select(
            *[f.name for f in AUDIT_SCHEMA.fields])

    def completed_partitions(self, spark: SparkSession, snapshot_id: str) -> List[int]:
        """Partitions with a pass/fail audit row, in one collect."""
        rows = (self.read_audit(spark, snapshot_id)
                .filter(F.col("verdict").isin("pass", "fail"))
                .select("partition_id").collect())
        return sorted({r.partition_id for r in rows})

    def pending_partitions(self, spark: SparkSession, snapshot_id: str) -> List[int]:
        """Resume point: manifest partitions minus completed audit rows."""
        done = set(self.completed_partitions(spark, snapshot_id))
        return [p for p in self.partition_ids(snapshot_id) if p not in done]

    # -- violation store (D2, second half) -------------------------------------

    def _violations_dir(self, snapshot_id: str) -> str:
        return os.path.join(self.violations_root, f"snapshot_id={snapshot_id}")

    def append_violations(self, violations_df: DataFrame,
                          snapshot_id: str) -> None:
        """Persist violation rows, partitioned by partition_id, with
        DYNAMIC per-partition overwrite: re-validating a partition (crash
        before its audit row landed, explicit re-run) REPLACES that
        partition's violation rows instead of duplicating them — the same
        idempotence contract as the audit path, so the violation store is
        resume-safe by construction. Snapshot-level rows (drift, schema
        merge across partitions) live under partition_id=-1. Prod swaps
        this for an Iceberg MERGE/overwritePartitions on the same key."""
        (violations_df.drop("snapshot_id")
         .repartition(1)  # violation rows are sparse; one file per pid dir
         .write
         .option("partitionOverwriteMode", "dynamic")
         .mode("overwrite")
         .partitionBy("partition_id")
         .parquet(self._violations_dir(snapshot_id)))

    def clear_violations(self, snapshot_id: str,
                         partitions: Sequence[int]) -> None:
        """Remove the stored violation rows of ``partitions`` (their
        partition directories); pass -1 for the snapshot-level rows."""
        d = self._violations_dir(snapshot_id)
        for p in partitions:
            shutil.rmtree(os.path.join(d, f"partition_id={int(p)}"),
                          ignore_errors=True)

    def read_violations(self, spark: SparkSession, snapshot_id: str,
                        partitions: Optional[Sequence[int]] = None) -> DataFrame:
        """Read persisted violations (optionally pruned to a partition
        subset; pass -1 to include snapshot-level rows). Partition pruning
        happens at planning time via the hive-style partition_id dirs."""
        d = self._violations_dir(snapshot_id)
        has_files = os.path.isdir(d) and any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(d) for f in fs)
        if not has_files:
            return local_frame(spark, [], VIOLATION_DDL)
        df = (spark.read.option("basePath", d).parquet(d)
              .withColumn("snapshot_id", F.lit(snapshot_id))
              .withColumn("partition_id", F.col("partition_id").cast("int")))
        if partitions is not None:
            df = df.filter(F.col("partition_id").isin(list(partitions)))
        return df.select(*_VIOLATION_COLS)

    def append_audit(self, audit_df: DataFrame, snapshot_id: str) -> None:
        """Idempotent per-run append. Partition-grained semantics come
        from the read side (completed_partitions dedupes the partition
        ids); prod uses Iceberg MERGE."""
        (audit_df.drop("snapshot_id")
         .repartition(1)
         .write.mode("append").parquet(self._audit_dir(snapshot_id)))
