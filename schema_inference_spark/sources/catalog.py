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
- resume is manifest partitions minus the completed ones of the audit
  store — no rescan of validated data.

The two stores, violations and audit, hold rows that ``validate()``
already has on the driver (one row per anomaly, one per partition), so
they are read and written on the driver with pyarrow and plain file
operations: no store operation runs a Spark job. The layout and file
schemas are the ones Spark's writer produced, so stores written by
earlier versions read back::

    <violations_root>/snapshot_id=<id>/partition_id=<p>/part-<uuid>.parquet
    <audit_root>/snapshot_id=<id>/run-<seq:020d>.parquet

Neither file holds ``snapshot_id``; a violation file has no
``partition_id`` either, it is the directory name.

Atomicity. Every file is written as a dot-prefixed ``.<name>...tmp`` —
which Spark's and pyarrow's readers skip — and moved into place (renamed
with ``os.replace``, or for the audit hard-linked); the files it
supersedes are deleted only after that. A
process killed at any point leaves no partial file that a reader sees:

- violations: each partition directory is replaced on its own. A kill
  after the rename and before the deletes leaves a partition with its old
  and new rows; its audit row has not landed yet (``validate()`` writes
  violations first), so a resumed run validates and replaces it again.
- audit: each write reads the snapshot's rows, merges the new ones in and
  writes one compacted ``run-<seq>`` file, ``seq`` one above the largest
  present, published by a hard link that fails if the name exists (the
  writer then re-reads and retries); then it deletes the older files. A
  kill before the link loses only this write (the store reads as it did
  before); a kill after it leaves older files whose rows the new file
  supersedes.

Latest wins. A partition's audit verdict is its latest row: rows of a
``run-*`` file are newer than those of a smaller ``seq``, and files of
the Spark writer (``part-*``, ordered by modification time) are older
than any ``run-*`` file. ``completed_partitions`` are those whose latest
verdict is ``pass`` or ``fail``. An ``error`` written after a ``pass``
makes the partition pending again: the stored ``pass`` describes data
that no longer reads, so resume must validate it after repair.

One writer per snapshot at a time: the audit merge is read-modify-write.
Two writers that overlap anyway keep both verdicts (see ``append_audit``);
a violation partition written by both keeps one writer's rows.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Dict, List, Optional, Sequence, Union

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.frames import Rows, arrow_table, local_frame

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


VIOLATION_SCHEMA = T.StructType([
    T.StructField("snapshot_id", T.StringType()),
    T.StructField("partition_id", T.IntegerType()),
    *[T.StructField(c, T.StringType()) for c in (
        "check_id", "mgu_failure", "schema_1", "schema_2", "conv_id")],
    T.StructField("turn_idx", T.LongType()),
    T.StructField("payload", T.StringType()),
])
# no snapshot_id, and partition_id is the directory name
_VIOLATION_FILE_ARROW = to_arrow_schema(
    T.StructType(VIOLATION_SCHEMA.fields[2:])).append(
    pa.field("partition_id", pa.int32()))
_AUDIT_FILE_ARROW = to_arrow_schema(_AUDIT_FILE_SCHEMA)

# rows arrive as driver rows (tuples in schema order, or an Arrow table);
# a DataFrame is collected once
StoreRows = Union[Rows, DataFrame]


def _table(rows: StoreRows, schema: T.StructType) -> pa.Table:
    if isinstance(rows, DataFrame):
        rows = [tuple(r) for r in rows.select(*schema.names).collect()]
    return arrow_table(rows, schema)


def _write_atomic(table: pa.Table, path: str) -> None:
    """Write ``table`` to ``path`` through a dot-prefixed tmp file and a
    rename. No cleanup on failure: a raised write leaves on disk what a
    killed process would."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _publish_new(table: pa.Table, path: str) -> bool:
    """Write ``table`` to ``path`` unless a file of that name exists:
    through a uniquely named dot-prefixed tmp file that is hard-linked to
    ``path`` (atomic, and failing when the name is taken) and then
    removed. False when the name was taken, or when another writer's
    cleanup removed the tmp file first. As in ``_write_atomic``, a raised
    write leaves on disk what a killed process would."""
    tmp = os.path.join(os.path.dirname(path),
                       f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp)
    try:
        os.link(tmp, path)
    except (FileExistsError, FileNotFoundError):
        _remove_if_present(tmp)
        return False
    _remove_if_present(tmp)
    return True


def _remove_if_present(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _run_seq(name: str) -> Optional[int]:
    stem = name[len("run-"):-len(".parquet")]
    return int(stem) if name.startswith("run-") and stem.isdigit() else None


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
                      partitions: Optional[Sequence[int]] = None,
                      schema: Optional[T.StructType] = None) -> DataFrame:
        """Read a snapshot (optionally pruned to a partition subset) with the
        partition column ``bucket`` materialized. Prod: an Iceberg read with
        a partition filter — same pruning contract.

        ``schema`` (file columns plus ``bucket``) is the read schema when
        the caller knows it, e.g. from the footer census; without it the
        read merges every footer (``mergeSchema``, one Spark job), so that
        partitions with conflicting physical types still SCAN (for stats +
        row-level checks). Strict type semantics are enforced by the
        census, not the scan (SURVEY.md §7.3-1)."""
        snap_dir = os.path.join(self.root, snapshot_id)
        if partitions is None:
            partitions = self.partition_ids(snapshot_id)
        paths = [os.path.join(snap_dir, f"bucket={b}") for b in partitions]
        reader = spark.read.option("basePath", snap_dir)
        reader = (reader.schema(schema) if schema is not None
                  else reader.option("mergeSchema", "true"))
        return reader.parquet(*paths)

    # -- audit / lineage (D19) -------------------------------------------------

    def _audit_dir(self, snapshot_id: str) -> str:
        return os.path.join(self.audit_root, f"snapshot_id={snapshot_id}")

    def _audit_files(self, d: str) -> List[str]:
        """The audit files of ``d``, oldest first: Spark-written ``part-*``
        files by modification time, then ``run-*`` files by sequence. Tmp
        files and Spark's markers (``.``/``_`` prefixes) are skipped."""
        names = [f for f in (os.listdir(d) if os.path.isdir(d) else [])
                 if f.endswith(".parquet") and not f.startswith((".", "_"))]
        runs = sorted((s, n) for n in names
                      if (s := _run_seq(n)) is not None)
        legacy = sorted((os.stat(os.path.join(d, n)).st_mtime_ns, n)
                        for n in names if _run_seq(n) is None)
        return [os.path.join(d, n) for _, n in legacy + runs]

    def _latest_audit(self, files: List[str]) -> Dict[int, tuple]:
        """{partition_id: its latest audit row}, rows in file column order."""
        latest: Dict[int, tuple] = {}
        for path in files:
            t = pq.ParquetFile(path).read(
                columns=_AUDIT_FILE_ARROW.names).cast(_AUDIT_FILE_ARROW)
            for row in zip(*(c.to_pylist() for c in t.columns)):
                latest[row[0]] = row
        return latest

    def read_audit(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """The latest audit row of each partition, ordered by partition,
        as a local frame (no Spark job)."""
        latest = self._latest_audit(self._audit_files(
            self._audit_dir(snapshot_id)))
        return local_frame(spark, [(snapshot_id,) + latest[p]
                                   for p in sorted(latest)], AUDIT_SCHEMA)

    def completed_partitions(self, spark: SparkSession, snapshot_id: str) -> List[int]:
        """Partitions whose latest audit verdict is pass or fail."""
        latest = self._latest_audit(self._audit_files(
            self._audit_dir(snapshot_id)))
        return sorted(p for p, row in latest.items()
                      if row[1] in ("pass", "fail"))

    def pending_partitions(self, spark: SparkSession, snapshot_id: str) -> List[int]:
        """Resume point: manifest partitions minus completed ones."""
        done = set(self.completed_partitions(spark, snapshot_id))
        return [p for p in self.partition_ids(snapshot_id) if p not in done]

    def append_audit(self, audit: StoreRows, snapshot_id: str,
                     drop: Sequence[int] = ()) -> None:
        """Merge verdict rows (``AUDIT_SCHEMA``: tuples, an Arrow table or
        a DataFrame) into the snapshot's audit store, latest row per
        partition winning, and remove the rows of the partitions in
        ``drop`` (-1 for the snapshot-level verdict), as one compacted
        ``run-<seq>`` file; then delete the files it supersedes. Prod
        uses Iceberg MERGE.

        The new file is published with ``os.link``, which fails when the
        name exists: a writer that another one beat to ``run-<seq>``
        re-reads the store (now holding the other's rows) and retries.
        A file linked under a name that a deletion had freed, while a
        newer file already holds rows this writer never read, is merged
        again the same way: a write ends only when its file has the
        highest ``seq`` (the highest file is never deleted), so
        overlapping writers lose no verdict. A superseded file that is
        already gone, or vanishes while being read, was removed by such
        a writer. Tmp files left by a killed writer are removed with the
        superseded files."""
        new = _table(audit, AUDIT_SCHEMA).drop_columns(["snapshot_id"])
        new_rows = list(zip(*(c.to_pylist() for c in new.columns)))
        d = self._audit_dir(snapshot_id)
        os.makedirs(d, exist_ok=True)
        while True:
            try:
                old = self._audit_files(d)
                latest = self._latest_audit(old)
            except FileNotFoundError:
                continue
            for row in new_rows:
                latest[row[0]] = row
            for p in drop:
                latest.pop(int(p), None)
            seq = 1 + max((_run_seq(os.path.basename(f)) or 0 for f in old),
                          default=0)
            if (_publish_new(arrow_table([latest[p] for p in sorted(latest)],
                                         _AUDIT_FILE_SCHEMA),
                             os.path.join(d, f"run-{seq:020d}.parquet"))
                    and seq == max(_run_seq(n) or 0 for n in os.listdir(d))):
                break
        # a writer in flight whose tmp file goes here retries
        for f in old + [os.path.join(d, n) for n in os.listdir(d)
                        if n.startswith(".run-") and n.endswith(".tmp")]:
            _remove_if_present(f)

    # -- violation store (D2, second half) -------------------------------------

    def _violations_dir(self, snapshot_id: str) -> str:
        return os.path.join(self.violations_root, f"snapshot_id={snapshot_id}")

    def append_violations(self, violations: StoreRows,
                          snapshot_id: str) -> None:
        """Persist violation rows (``VIOLATION_SCHEMA``: tuples, an Arrow
        table or a DataFrame), REPLACING the stored rows of every
        partition present in them: re-validating a partition (crash
        before its audit row landed, explicit re-run) replaces that
        partition's violation rows instead of duplicating them — the same
        idempotence contract as the audit path, so the violation store is
        resume-safe by construction. A partition absent from the rows
        keeps its stored ones (``clear_violations`` removes those).
        Snapshot-level rows (drift, schema merge across partitions) live
        under partition_id=-1. Each partition is written as one new file,
        renamed into place before that directory's other files are
        deleted. Prod swaps this for an Iceberg MERGE/overwritePartitions
        on the same key."""
        table = _table(violations, VIOLATION_SCHEMA)
        pids = table.column("partition_id")
        d = self._violations_dir(snapshot_id)
        for pid in sorted(set(pids.to_pylist())):
            pdir = os.path.join(d, f"partition_id={pid}")
            os.makedirs(pdir, exist_ok=True)
            name = f"part-{uuid.uuid4().hex}.parquet"
            _write_atomic(table.filter(pc.equal(pids, pid)).drop_columns(
                ["snapshot_id", "partition_id"]), os.path.join(pdir, name))
            for f in os.listdir(pdir):
                if f != name:
                    os.remove(os.path.join(pdir, f))

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
        """Persisted violations as a local frame (no Spark job), optionally
        pruned to a partition subset (pass -1 to include snapshot-level
        rows); pruning skips the other partition directories."""
        d = self._violations_dir(snapshot_id)
        if not os.path.isdir(d):
            return local_frame(spark, [], VIOLATION_SCHEMA)
        ds = pads.dataset(
            d, format="parquet", schema=_VIOLATION_FILE_ARROW,
            partitioning=pads.partitioning(
                pa.schema([_VIOLATION_FILE_ARROW.field("partition_id")]),
                flavor="hive"))
        table = ds.to_table(filter=None if partitions is None else
                            pads.field("partition_id").isin(
                                [int(p) for p in partitions]))
        return local_frame(spark, table.append_column(
            "snapshot_id", pa.array([snapshot_id] * table.num_rows,
                                    pa.string())), VIOLATION_SCHEMA)

