"""Snapshot schema inference over partitioned data (SURVEY.md §2.D5/D6/D14).

Two cooperating passes, both associative monoids merged with the IR's
strict unifier (the engine analog of the reference's per-expression
inference + substitution composition):

1. **Physical-type census** — metadata-only. Each parquet footer's physical
   schema maps to IR (convert.arrow_type_to_ir); footers are read in a
   distributed map over the manifest's file list and merged
   file→partition→snapshot with ``mgu``. This is what catches the
   "one partition wrote turn_idx as double" conflict *before* Spark's scan
   coercion can widen it away (SURVEY.md §7.3-1). Cost at 100 TB: one
   footer read per file, no data scan.

2. **Column-state pass** — data-level. ``mapInArrow`` over the (pruned)
   snapshot scan computes per-split, per-bucket column states
   (observed value type, null/row counts, min/max); states are merged
   per-partition, then snapshot-wide via ``RDD.treeAggregate(depth=2)``
   (the reference's compose-substitutions as combOp; SURVEY.md §2.A).
   States are a few KB per partition — the shuffle is negligible at any
   scale; the scan is the cost, and it is shared with the constraint
   checks.

Failure semantics: merges never raise. A type conflict becomes an absorbed
failure state that finalizes into a ``schema_merge`` violation row
(reference failure objects, util.clj:153-155), and the affected column's
snapshot type is the failure — partitions that agreed still validate.
"""

from __future__ import annotations

import datetime
import json
from dataclasses import dataclass, field, replace
from typing import Any, Dict, Iterator, List, Optional, Sequence, Tuple

import pyarrow.parquet as pq

from ..ir.convert import arrow_type_to_ir
from ..ir.schema_ir import (
    is_failure,
    merge_column_schema,
    normalize_svars,
    schema_to_json,
)

ColState = Dict[str, Any]
PartState = Dict[str, ColState]  # column -> state


def _empty_col_state() -> ColState:
    return {"schema": None, "phys": [], "count": 0, "nulls": 0,
            "min": None, "max": None, "pids": [], "fail_pids": None}


def _json_safe(v: Any) -> Any:
    if isinstance(v, datetime.datetime):
        # canonical naive-UTC ISO so the arrow and sql state engines agree
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def merge_col_states(a: ColState, b: ColState) -> ColState:
    """Associative, commutative-up-to-failure-attribution combine."""
    out = _empty_col_state()
    merged = merge_column_schema(a["schema"], b["schema"])
    out["schema"] = merged
    if is_failure(merged) and not (is_failure(a["schema"]) or is_failure(b["schema"])):
        out["fail_pids"] = [sorted(a["pids"]), sorted(b["pids"])]
    else:
        out["fail_pids"] = a.get("fail_pids") or b.get("fail_pids")
    out["phys"] = sorted(set(a["phys"]) | set(b["phys"]))
    out["count"] = a["count"] + b["count"]
    out["nulls"] = a["nulls"] + b["nulls"]
    for key, pick in (("min", min), ("max", max)):
        va, vb = a[key], b[key]
        if va is None:
            out[key] = vb
        elif vb is None:
            out[key] = va
        else:
            try:
                out[key] = pick(va, vb)
            except TypeError:
                out[key] = va
    out["pids"] = sorted(set(a["pids"]) | set(b["pids"]))
    return out


def merge_part_states(a: PartState, b: PartState) -> PartState:
    out: PartState = {}
    for col in sorted(set(a) | set(b)):
        if col not in a:
            out[col] = b[col]
        elif col not in b:
            out[col] = a[col]
        else:
            out[col] = merge_col_states(a[col], b[col])
    return out


# ---------------------------------------------------------------------------
# Pass 1: physical-type census (metadata only)
# ---------------------------------------------------------------------------

FOOTER_DISPATCH_THRESHOLD = 512

# by-value census-failure sentinel: a partition whose footer read failed
# maps to {CENSUS_ERROR_KEY: "<path>: <error>"} instead of its column dict
CENSUS_ERROR_KEY = "__census_error__"


def keyed_footer_map(spark, items: List[tuple], fn, reduce_fn=None) -> Dict:
    """Run a metadata-only per-file function over ``items`` (each a tuple
    whose result is ``(key, value)``), returning {key: value} with
    same-key values combined by ``reduce_fn``.

    One policy for every footer-read site (census, split planning): a
    footer read is ~1ms — far below Spark's per-task scheduling cost —
    so small manifests run in a driver thread pool; above
    ``FOOTER_DISPATCH_THRESHOLD`` files the reads distribute as a Spark
    job (10^5 footers must not serialize through one thread), with the
    combine running executor-side as reduceByKey when given.
    """
    n = len(items)
    out: Dict = {}
    if n == 0:
        return out
    if n <= FOOTER_DISPATCH_THRESHOLD or spark is None:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=16) as pool:
            for key, val in pool.map(fn, items):
                out[key] = (reduce_fn(out[key], val)
                            if reduce_fn is not None and key in out else val)
        return out
    rdd = spark.sparkContext.parallelize(items, min(n, 64)).map(fn)
    if reduce_fn is not None:
        rdd = rdd.reduceByKey(reduce_fn)
    return dict(rdd.collect())


def physical_census(spark, files_by_partition: List[Tuple[int, str]],
                    ) -> Dict[int, Dict[str, Dict[str, Any]]]:
    """Distributed parquet-footer read: [(partition_id, path)] ->
    {partition_id: {column: {"ir": <IR>, "phys": "<arrow type>"}}}.

    Runs as a Spark job when the file list is large (10^5+ footers
    parallelize across executors); small manifests are read driver-side in
    a thread pool — a footer read is ~1ms, far below Spark's per-task
    scheduling cost.
    """
    def read_footer(item: Tuple[int, str]):
        pid, path = item
        try:
            return pid, _read_footer_cols(path)
        except Exception as exc:  # noqa: BLE001 — by-value, not by-throw:
            # a corrupt/unreadable footer marks the PARTITION errored (the
            # reference's :throw analog at partition granularity); the
            # validate() lifecycle emits a verdict='error' row for it and
            # the run continues over the healthy partitions.
            return pid, {CENSUS_ERROR_KEY:
                         f"{path}: {type(exc).__name__}: {exc}"}

    def _read_footer_cols(path: str):
        pf = pq.ParquetFile(path)
        sch = pf.schema_arrow
        md = pf.metadata
        # row-group statistics: a free, scan-less stats source — the
        # footer already carries per-row-group min/max/null-count, so the
        # census doubles as a first-pass stats table and a cross-check on
        # the scan path (agreement asserted in tests). String min/max may
        # be writer-truncated, so they are kept as BOUNDS (is_exact=False
        # semantics live with the consumer).
        rg: Dict[str, Dict[str, Any]] = {}
        for i in range(md.num_row_groups):
            row_group = md.row_group(i)
            for j in range(row_group.num_columns):
                cc = row_group.column(j)
                name = cc.path_in_schema
                st = cc.statistics
                ent = rg.setdefault(name, {"rows": 0, "nulls": 0,
                                           "min": None, "max": None,
                                           "has_stats": True})
                ent["rows"] += row_group.num_rows
                if st is None or not st.has_null_count:
                    ent["has_stats"] = False
                    continue
                ent["nulls"] += st.null_count
                if st.has_min_max:
                    mn, mx = st.min, st.max
                    ent["min"] = mn if ent["min"] is None else min(ent["min"], mn)
                    ent["max"] = mx if ent["max"] is None else max(ent["max"], mx)
                elif st.null_count < row_group.num_rows:
                    # non-null values exist but no bounds recorded
                    ent["has_stats"] = False
        cols = {}
        for fld in sch:
            cols[fld.name] = {"ir": arrow_type_to_ir(fld.type),
                              "phys": str(fld.type),
                              "rg": rg.get(fld.name)}
        return cols

    return keyed_footer_map(spark, files_by_partition, read_footer,
                            reduce_fn=_merge_file_cols)


def census_errors(census: Dict[int, Dict[str, Any]]) -> Dict[int, str]:
    """Partitions whose census failed (unreadable/corrupt footer):
    {partition_id: error message}. The error is a by-value sentinel in
    the census map, never an exception — one bad footer must not abort a
    10^6-partition validation."""
    return {pid: cols[CENSUS_ERROR_KEY] for pid, cols in census.items()
            if CENSUS_ERROR_KEY in cols}


def _merge_rg(a, b):
    """Associative combine of per-file row-group stats."""
    if a is None or b is None:
        return a if b is None else b
    out = {"rows": a["rows"] + b["rows"], "nulls": a["nulls"] + b["nulls"],
           "has_stats": a["has_stats"] and b["has_stats"]}
    for key, pick in (("min", min), ("max", max)):
        va, vb = a[key], b[key]
        if va is None:
            out[key] = vb
        elif vb is None:
            out[key] = va
        else:
            try:
                out[key] = pick(va, vb)
            except TypeError:  # physical-type conflict across files
                out[key] = va
                out["has_stats"] = False
    return out


def _merge_file_cols(a, b):
    # a census error in ANY of a partition's files errors the partition:
    # its schema/stats cannot be trusted until the file is repaired
    if CENSUS_ERROR_KEY in a:
        return a
    if CENSUS_ERROR_KEY in b:
        return b
    out = {}
    for col in sorted(set(a) | set(b)):
        if col not in a:
            out[col] = b[col]
        elif col not in b:
            out[col] = a[col]
        else:
            merged = merge_column_schema(a[col]["ir"], b[col]["ir"])
            phys = ",".join(sorted(set(a[col]["phys"].split(","))
                                   | set(b[col]["phys"].split(","))))
            out[col] = {"ir": merged, "phys": phys,
                        "rg": _merge_rg(a[col].get("rg"), b[col].get("rg"))}
    return out


def census_stats(census: Dict[int, Dict[str, Dict[str, Any]]],
                 ) -> Dict[str, Dict[str, Any]]:
    """Snapshot-level column stats from footer metadata ALONE — zero data
    scanned. At 100 TB this answers count/null-rate/min/max questions for
    free and cross-checks the scan path (``column_stats``). Columns whose
    row groups lack statistics (or whose string bounds may be truncated)
    report ``exact=False``; numeric/temporal parquet stats are exact."""
    merged: Dict[str, Dict[str, Any]] = {}
    for pid in sorted(census):
        for col, info in census[pid].items():
            merged[col] = _merge_rg(merged.get(col), info.get("rg"))
    out = {}
    for col, st in merged.items():
        if st is None:
            continue
        out[col] = {
            "count": st["rows"],
            "nulls": st["nulls"] if st["has_stats"] else None,
            "min": _json_safe(st["min"]),
            "max": _json_safe(st["max"]),
            "exact": bool(st["has_stats"]),
        }
    return out


# ---------------------------------------------------------------------------
# Tolerant snapshot read: survive physical type conflicts
# ---------------------------------------------------------------------------

_NUM_RANK = {"int": 0, "float": 1, "double": 2}


def _widened(types: List[str]) -> str:
    """Scan-only type promotion (the engine's *semantics* stay strict — the
    census still emits the non_equal violation; this is just how we keep
    scanning the conflicting partitions for stats + row checks)."""
    if all(t in _NUM_RANK for t in types):
        return max(types, key=lambda t: _NUM_RANK[t])
    return "string"


def read_snapshot_tolerant(spark, catalog, snapshot_id: str,
                           partitions: List[int],
                           census: Dict[int, Dict[str, Dict[str, Any]]]):
    """Read a snapshot whose partitions may disagree on physical types.

    Partitions are grouped by their census type signature; each group scans
    with its own consistent schema (partition-pruned, pushdown intact), is
    cast to the widened common schema, and the groups union. Group count is
    bounded by the number of distinct schema versions (1-2 in practice), so
    this adds no extra shuffle — union is a narrow transformation.
    """
    sig_of = {}
    for pid in partitions:
        cols = census.get(pid, {})
        sig_of[pid] = tuple(sorted((c, json.dumps(v["ir"], sort_keys=True))
                                   for c, v in cols.items()))
    groups: Dict[tuple, List[int]] = {}
    for pid, sig in sig_of.items():
        groups.setdefault(sig, []).append(pid)

    if len(groups) <= 1:
        return catalog.read_snapshot(spark, snapshot_id, partitions)

    # widened target per column (scan-side only)
    from collections import defaultdict
    col_types = defaultdict(set)
    for pid in partitions:
        for c, v in census.get(pid, {}).items():
            t = v["ir"].get("type")
            col_types[c].add(t if isinstance(t, str) else "string")
    from pyspark.sql import functions as F
    # only columns whose physical types actually differ get the widening
    # cast; agreeing columns keep their native scan type
    target = {c: _widened(sorted(ts)) for c, ts in col_types.items()
              if len(ts) > 1}
    spark_t = {"int": "bigint", "float": "float", "double": "double",
               "string": "string"}

    parts = []
    for sig in sorted(groups):
        pids = sorted(groups[sig])
        df = catalog.read_snapshot(spark, snapshot_id, pids)
        exprs = []
        for c in df.columns:
            if c in target and target[c] in spark_t:
                exprs.append(F.col(c).cast(spark_t[target[c]]).alias(c))
            else:
                exprs.append(F.col(c))
        parts.append(df.select(*exprs))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


# ---------------------------------------------------------------------------
# Pass 2: data-level column states
# ---------------------------------------------------------------------------

def _arrow_col_state(col: "pa.ChunkedArray | pa.Array", pid: int) -> ColState:
    """Column state from an Arrow array — pyarrow.compute only, no Python
    objects materialized (the :LIT data path, vectorized)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    st = _empty_col_state()
    st["count"] = len(col)
    st["nulls"] = col.null_count
    st["pids"] = [pid]
    if st["nulls"] < st["count"]:
        st["schema"] = arrow_type_to_ir(col.type)
        st["phys"] = [str(col.type)]
        try:
            mm = pc.min_max(col)
            st["min"] = _json_safe(mm["min"].as_py())
            st["max"] = _json_safe(mm["max"].as_py())
        except pa.ArrowNotImplementedError:
            pass  # unorderable type: no min/max
    return st


def partition_states(df, partition_col: str = "bucket") -> List[Tuple[int, PartState]]:
    """Per-partition column states via mapInArrow (one state blob per Arrow
    batch per bucket), merged per partition then returned as a small list.

    mapInArrow, not mapInPandas: the state math is min/max/null-count over
    whole batches, so converting Arrow buffers into millions of Python
    string objects (what to_pandas does to string columns) would cost more
    than every other phase combined. pyarrow.compute stays in C++.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    data_cols = [c for c in df.columns if c != partition_col]

    def state_fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # one worker per core already: pyarrow's own intra-op pool (sized
        # to ALL cores per process) oversubscribes the machine W x C
        # threads and anti-scales — pin it to 1
        try:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
        except Exception:
            pass
        acc: Dict[int, PartState] = {}
        for batch in batches:
            pids = batch.column(batch.schema.get_field_index(partition_col))
            uniq = pc.unique(pids)
            for pid_scalar in uniq:
                pid = pid_scalar.as_py()
                sub = (batch if len(uniq) == 1
                       else batch.filter(pc.equal(pids, pid_scalar)))
                st: PartState = {
                    c: _arrow_col_state(
                        sub.column(sub.schema.get_field_index(c)), pid)
                    for c in data_cols}
                acc[pid] = merge_part_states(acc[pid], st) if pid in acc else st
        if acc:
            yield pa.RecordBatch.from_pydict({
                "pid": pa.array(list(acc), type=pa.int32()),
                "state_json": pa.array(
                    [json.dumps(s, default=_json_safe) for s in acc.values()],
                    type=pa.string()),
            })

    states_df = df.mapInArrow(state_fn, "pid int, state_json string")
    rows = states_df.collect()  # one tiny row per (split, bucket)
    by_pid: Dict[int, PartState] = {}
    for r in rows:
        st = json.loads(r.state_json)
        by_pid[r.pid] = (merge_part_states(by_pid[r.pid], st)
                         if r.pid in by_pid else st)
    return sorted(by_pid.items())


def sql_partition_states(df, census: Dict[int, Dict[str, Dict[str, Any]]],
                         partition_col: str = "bucket",
                         ) -> List[Tuple[int, PartState]]:
    """``sql_states_and_sketches``' states, without sketches."""
    return sql_states_and_sketches(df, census, partition_col)[0]


def sql_states_and_sketches(df, census: Dict[int, Dict[str, Dict[str, Any]]],
                            partition_col: str = "bucket",
                            sketch_columns: Sequence[str] = (),
                            ) -> Tuple[List[Tuple[int, PartState]],
                                       Dict[str, bytes]]:
    """Per-partition column states via one JVM aggregation (the default
    state engine), plus {column: snapshot KLL sketch} for each of
    ``sketch_columns`` that can carry one: the drift sketches ride on this
    aggregation, one per partition, and merge on the driver (KLL sketches
    are mergeable).

    Same monoid as ``partition_states`` — Spark's partial+final hash
    aggregation IS the associative per-partition combine — but entirely
    whole-stage-codegen: measured on this machine, the JVM agg scales
    ~linearly with cores while the Python Arrow feed serializes on a
    shared allocator lock for string/timestamp columns (8->32 threads made
    it *slower*). Observed value types come from the footer census
    (physical truth, pre-coercion); all-NULL columns are detected from the
    data-level null counts.
    """
    from pyspark.sql import functions as F

    from .stats import kll_aggs, merge_kll

    data_cols = [c for c in df.columns if c != partition_col]
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in data_cols:
        aggs.append(F.count(c).alias(f"{c}__cnt"))
        aggs.append(F.min(c).alias(f"{c}__min"))
        aggs.append(F.max(c).alias(f"{c}__max"))
    sketch_aggs = kll_aggs(df, sketch_columns)
    aggs += sketch_aggs.values()
    rows = df.groupBy(F.col(partition_col).alias("_pid")).agg(*aggs).collect()

    out: List[Tuple[int, PartState]] = []
    for r in rows:
        pid = int(r["_pid"])
        state: PartState = {}
        for c in data_cols:
            st = _empty_col_state()
            st["count"] = int(r["_rows"])
            st["nulls"] = int(r["_rows"]) - int(r[f"{c}__cnt"])
            st["pids"] = [pid]
            if int(r[f"{c}__cnt"]) > 0:
                info = census.get(pid, {}).get(c)
                st["schema"] = (dict(info["ir"]) if info
                                else {"type": "any"})
                st["phys"] = [info["phys"]] if info else []
                st["min"] = _json_safe(r[f"{c}__min"])
                st["max"] = _json_safe(r[f"{c}__max"])
            state[c] = st
        out.append((pid, state))
    return sorted(out), merge_kll(df.sparkSession, rows, list(sketch_aggs))


def tree_merge_states(spark, part_states: List[Tuple[int, PartState]]) -> PartState:
    """Snapshot-level merge: treeAggregate(depth=2) over per-partition
    states — associative combine, no driver-side fold over 10^5 partitions
    (SURVEY.md §2.D6; reference compose-substitutions util.clj:106-113)."""
    if not part_states:
        return {}
    states = [s for _, s in part_states]
    if len(states) == 1:
        return states[0]
    if len(states) <= 256:
        # same associative combine, driver-side: shipping a few KB of
        # state to executors costs more than folding it here. The tree
        # path below is the 10^5-partition shape (exercised in tests).
        from functools import reduce
        return reduce(merge_part_states, states, {})
    rdd = spark.sparkContext.parallelize(states, min(len(states), 64))
    return rdd.treeAggregate({}, merge_part_states, merge_part_states, depth=2)


# ---------------------------------------------------------------------------
# Finalization: states -> snapshot schema + violations
# ---------------------------------------------------------------------------

@dataclass
class InferResult:
    snapshot_id: str
    table_schema: Dict[str, Any]            # column -> IR (normalized)
    column_stats: Dict[str, Dict[str, Any]] # column -> {count,nulls,min,max,null_rate}
    partition_states: Dict[int, PartState]
    census: Dict[int, Dict[str, Any]]
    violations: List[Dict[str, Any]] = field(default_factory=list)
    # column -> snapshot KLL sketch of infer_snapshot's sketch_columns
    sketches: Dict[str, bytes] = field(default_factory=dict)


def finalize_schema(col: str, st: ColState) -> Dict[str, Any]:
    """Column state -> final IR: failures stay failures; no observations ->
    s-var generalized per snapshot (ref: generalize, util.clj:129-137);
    nullability wraps as :maybe (tracked outside the strict value-type
    merge so a nullable partition doesn't false-conflict with a dense one).
    """
    sch = st["schema"]
    if sch is None:
        # all-NULL column: unknown, universally quantified
        return {"type": "scheme", "s_vars": ["t0"],
                "body": {"type": "maybe", "child": {"type": "s-var", "sym": "t0"}}}
    if is_failure(sch):
        return sch
    sch = normalize_svars(sch)
    if st["nulls"] > 0:
        return {"type": "maybe", "child": sch}
    return sch


def snapshot_census(spark, catalog, snapshot_id: str,
                    partitions: Optional[List[int]] = None,
                    ) -> Dict[int, Dict[str, Any]]:
    """Metadata-only footer census for a snapshot (pass 1, standalone) —
    exposed separately so the pipeline can pick the check path (which
    needs census uniformity) BEFORE committing to a data scan, and so the
    fused clustered pass can reuse it without a second footer read."""
    if partitions is None:
        partitions = catalog.partition_ids(snapshot_id)
    files = []
    man = catalog.manifest(snapshot_id)
    keep = set(partitions)
    for p in man["partitions"]:
        if p["partition_id"] in keep:
            for fname in p["files"]:
                files.append((p["partition_id"],
                              f"{catalog.root}/{snapshot_id}/{p['path']}/{fname}"))
    return physical_census(spark, files)


def probe_partitions(spark, catalog, snapshot_id: str,
                     partitions: List[int]) -> Dict[int, str]:
    """Page-depth decode probe: {partition_id: error message} for every
    partition with a file that fails a FULL decode (footer fine, a data
    page not — the failure class the footer census cannot see).

    Used by validate()'s shuffle-path retry: a JVM scan abort names no
    partition, so after a scan-time failure the probe re-finds it
    by-value at partition granularity, the partition gets
    verdict='error', and the scan re-runs over the healthy rest —
    completing the reference's :throw analog (algo_w.clj:286-289) on
    BOTH check paths (the clustered native reader emits per-split error
    rows inline; see _native_split_reader).

    pyarrow decode stands proxy for the JVM vectorized reader: both
    decode the same pages, so the corruption classes this guards (bad
    page header, wrong offsets, garbled values) break either. Cost is
    one extra corpus read, paid ONLY on the rare failure path — and the
    shuffle path serves sub-`clustered.minRows` snapshots, so the probe
    is small by construction.
    """
    man = catalog.manifest(snapshot_id)
    keep = set(partitions)
    files = []
    for p in man["partitions"]:
        if p["partition_id"] in keep:
            for fname in p["files"]:
                files.append(
                    (p["partition_id"],
                     f"{catalog.root}/{snapshot_id}/{p['path']}/{fname}"))
    if not files:
        return {}

    def decode(item: Tuple[int, str]):
        pid, path = item
        try:
            pf = pq.ParquetFile(path)
            for _ in pf.iter_batches(batch_size=1 << 16):
                pass
            return None
        except Exception as exc:  # noqa: BLE001 — by-value, not by-throw
            return pid, f"{path}: {type(exc).__name__}: {exc}"

    bad = (spark.sparkContext.parallelize(files, len(files))
           .map(decode).filter(lambda r: r is not None).collect())
    out: Dict[int, str] = {}
    for pid, msg in sorted(bad):
        out.setdefault(pid, msg)
    return out


def infer_snapshot(spark, catalog, snapshot_id: str,
                   partitions: Optional[List[int]] = None,
                   engine: str = "sql",
                   census: Optional[Dict[int, Dict[str, Any]]] = None,
                   df=None, sketch_columns: Sequence[str] = (),
                   ) -> InferResult:
    """Full inference for one snapshot (optionally a partition subset).

    engine="sql" (default): JVM aggregation computes the per-partition
    states (scales with cores). engine="arrow": mapInArrow computes them
    executor-side in pyarrow — semantically identical (asserted in tests),
    the escape hatch for state shapes SQL can't express. A precomputed
    ``census`` skips the footer re-read (the pipeline does the census
    first to select its check path), and a given ``df`` (their tolerant
    read plan) skips building it again. ``sketch_columns`` (sql engine)
    fills ``InferResult.sketches``.
    """
    if partitions is None:
        partitions = catalog.partition_ids(snapshot_id)
    if census is None:
        census = snapshot_census(spark, catalog, snapshot_id, partitions)
    if df is None:
        df = read_snapshot_tolerant(spark, catalog, snapshot_id, partitions,
                                    census)
    if engine == "arrow":
        return finalize_infer(spark, snapshot_id, census,
                              partition_states(df))
    pstates, sketches = sql_states_and_sketches(
        df, census, sketch_columns=sketch_columns)
    return replace(finalize_infer(spark, snapshot_id, census, pstates),
                   sketches=sketches)


def finalize_infer(spark, snapshot_id: str,
                   census: Dict[int, Dict[str, Any]],
                   pstates: List[Tuple[int, PartState]]) -> InferResult:
    """Per-partition states + census -> InferResult (snapshot schema,
    column stats, schema_merge violations). Shared by both state engines
    and by the fused clustered pass, which computes the states inside the
    same native scan that runs the row-level checks."""
    snap_state = tree_merge_states(spark, pstates)

    # overlay census conflicts: if physical types across partitions disagree,
    # the data-level state may have been masked by scan coercion — re-merge
    # census IRs into the column state schema
    census_merged: Dict[str, Any] = {}
    for pid in sorted(census):
        for col, info in census[pid].items():
            prev = census_merged.get(col)
            if prev is None:
                census_merged[col] = {"ir": info["ir"], "pids": [pid]}
            else:
                merged = merge_column_schema(prev["ir"], info["ir"])
                if is_failure(merged) and not is_failure(prev["ir"]):
                    census_merged[col] = {"ir": merged,
                                          "pids_1": prev["pids"],
                                          "pids_2": [pid]}
                else:
                    prev["ir"] = merged
                    prev.setdefault("pids", []).append(pid)

    violations: List[Dict[str, Any]] = []
    table_schema: Dict[str, Any] = {}
    column_stats: Dict[str, Dict[str, Any]] = {}
    for col in sorted(snap_state):
        st = snap_state[col]
        cm = census_merged.get(col)
        if cm is not None and is_failure(cm["ir"]):
            # canonical attribution: the census merge walks partitions in
            # sorted order, so its pids are deterministic and identical
            # across state engines and parallelism levels
            st = dict(st)
            st["schema"] = cm["ir"]
            st["fail_pids"] = [sorted(cm.get("pids_1", [])),
                               sorted(cm.get("pids_2", []))]
        final = finalize_schema(col, st)
        table_schema[col] = final
        column_stats[col] = {
            "count": st["count"], "nulls": st["nulls"],
            "null_rate": (st["nulls"] / st["count"]) if st["count"] else None,
            "min": st["min"], "max": st["max"],
        }
        if is_failure(final):
            fp = st.get("fail_pids") or [[], []]
            violations.append({
                "snapshot_id": snapshot_id,
                "partition_id": (fp[1][0] if fp[1] else -1),
                "check_id": "schema_merge",
                "mgu_failure": final["mgu_failure"],
                "schema_1": schema_to_json(final["schema_1"]),
                "schema_2": schema_to_json(final["schema_2"]),
                "conv_id": None, "turn_idx": None,
                "payload": json.dumps({"column": col,
                                       "pids_1": fp[0], "pids_2": fp[1]},
                                      sort_keys=True),
            })

    return InferResult(
        snapshot_id=snapshot_id,
        table_schema=table_schema,
        column_stats=column_stats,
        partition_states=dict(pstates),
        census=census,
        violations=violations,
    )
