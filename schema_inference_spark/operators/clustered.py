"""Layout-aware row-level checks: ZERO-shuffle validation over clustered
snapshots, the Arrow check kernel both check paths run, and the native
split reader that feeds it on both.

The kernel (``_segment_checker``) evaluates every row-level check as a
vectorized lag over rows in (conv_id, turn_idx, ts) order. The shuffle
path (``checks.check_rowlevel_fused`` over ``native_rows``) gets that
order from one Exchange on conv_id plus a sort within each task. A
transcripts table written the way an Iceberg pipeline would write it —
bucket-partitioned by conv_id with a declared write sort order of
(conv_id, turn_idx, ts) — already has every conversation's turns
contiguous and sorted on disk, so this module's clustered path needs NO
shuffle at all: the kernel runs per input split, with conversations
spanning split boundaries stitched by per-segment boundary rows (a few
hundred rows, not 10^12).

On both paths the reader (``_native_split_reader``) reads each packed
split natively once and also emits, per (task, partition), the inference
column states and the exact drift counts at the baseline's bin edges
(``reader_meta`` merges them on the driver): a call reads the snapshot
once, for everything.

Clustered plan shape (3 Spark jobs per call, drift included):

    manifest -> row-group-aligned splits, packed into at most
                defaultParallelism tasks (and one per TASK_MIN_ROWS)
                balanced by footer row counts (an Arrow-built
                LocalRelation, one row per task)
      -> mapInArrow: each task reads its parquet ranges NATIVELY with
         pyarrow (C++ decode — the JVM->Python Arrow feed was 14.5s for
         a trivial passthrough of 19.1M rows where a JVM-only count is
         0.31s; see _native_split_reader) and runs the vectorized lag
         logic (no per-row Python)
           emits: violation rows            (sparse)
                  unique-key candidates     (sparse: dup runs + edges)
                  one boundary row per contiguous segment
                  one extent row per (conv, segment)  (contiguity proof)
                  states, drift counts / read errors (per task, partition)
      -> localCheckpoint (job 1), released before returning
      -> ONE collect (jobs 2-3): every row but the extent rows, plus a
         groupBy(conv_id) returning the convs spanning >1 segment
      -> driver, over split-sized rows: read-error filtering, the global
         contiguity proof, the boundary stitch (consecutive segments in
         (file, position) order), unique-key merge, state merge
      -> violations as an Arrow LocalRelation (reading them: no job)

The scan is embarrassingly parallel (file splits), so scaling follows the
scan, not a sort; a hot conv_id is handled by the same mechanism that
handles big files — byte-range splitting + boundary stitching — instead
of turn-block salting. Output is row-identical to the shuffle path's
(asserted in tests).

Trust model: the path is selected only when the snapshot manifest
declares the write order (``write_order`` — the Iceberg sort-order
contract). The UDF *verifies* the declaration per split (conv contiguity
via a seen-set, (turn_idx, ts) monotonicity per conv) and raises on a
layout lie — a metadata/infrastructure failure, which is the one thing
the engine is allowed to throw on (SURVEY.md §2.B: data errors are rows,
never exceptions).

Reference semantics carried over: violations are the same failure-object
rows (util.clj:153-155) the shuffle path emits.
"""

from __future__ import annotations

import json
from typing import Iterator, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLE_NULL_SCHEMA = '{"type":"enum","values":[null]}'

_OUT_DDL = (
    "kind int, partition_id int, check_id string, mgu_failure string, "
    "schema_1 string, schema_2 string, conv_id string, turn_idx bigint, "
    "payload string, cnt bigint, fid int, pos bigint, "
    "f_conv string, f_turn bigint, f_ts bigint, f_bucket int, "
    "l_conv string, l_turn bigint, l_ts bigint"
)
_OUT_COLS = [f.split() for f in _OUT_DDL.split(",")]


def _out_batch(rows: List[tuple]) -> "pa.RecordBatch":  # noqa: F821
    """Row tuples in ``_OUT_DDL`` column order -> one Arrow batch."""
    import pyarrow as pa
    types = {"int": pa.int32(), "bigint": pa.int64(), "string": pa.string()}
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=types[t]) for c, (_, t) in zip(zip(*rows),
                                                          _OUT_COLS)],
        names=[name for name, _ in _OUT_COLS])


def _vocab_json(vocab: List[str]) -> str:
    return json.dumps({"type": "enum", "values": sorted(vocab)},
                      sort_keys=True, separators=(",", ":"))


def _ts_str(us: int) -> str:
    """Second-precision UTC render matching Spark's
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ssXXX") under a UTC session tz
    (XXX prints 'Z' at zero offset). Asserted byte-equal in tests."""
    import datetime as _dt
    return _dt.datetime.fromtimestamp(us // 1_000_000,
                                      _dt.timezone.utc
                                      ).strftime("%Y-%m-%dT%H:%M:%SZ")


def _jstr(v) -> str:
    return json.dumps(v, ensure_ascii=False)


def _segment_checker(role_vocab: List[str], tool_vocab: List[str],
                     fid_of: dict | None = None):
    """Build the mapInArrow function over (bucket, conv_id, turn_idx, ts,
    role, tool) batches. All per-row work is pyarrow/numpy; Python objects
    materialize only for violation rows (sparse).

    With ``fid_of`` (split id -> file id) the input is a clustered scan:
    the kernel verifies the declared layout, raises on a lie or a null
    key, and emits the boundary, extent and edge unique-key rows the
    driver stitches across splits. Without it the input is one task's
    rows already sorted by (conv_id, turn_idx, ts), nulls first (the
    shuffle path): every conversation is whole in the stream, so it
    emits only violation rows, a duplicate key as one ``unique_key`` row,
    and null keys follow the SQL window's semantics — null conv_ids form
    one conversation, and a pair with a null turn_idx (or, for ts_order,
    a null ts) compares false."""
    import numpy as np
    stitch = fid_of is not None
    role_schema2 = _vocab_json(role_vocab)
    tool_schema2 = _vocab_json(tool_vocab)

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa
        import pyarrow.compute as pc
        try:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
        except Exception:
            pass

        out: list = []

        def emit_v(bucket, check_id, mgu, s1, s2, conv, turn, payload):
            out.append((0, int(bucket), check_id, mgu, s1, s2, conv,
                        None if turn is None else int(turn), payload,
                        None, None, None,
                        None, None, None, None, None, None, None))

        def emit_uk(bucket, conv, turn, cnt):
            if not stitch:  # the run is complete: the violation itself
                emit_v(bucket, "unique_key", None, None, None, conv, turn,
                       '{"n_copies":%d}' % cnt)
                return
            out.append((2, int(bucket), None, None, None, None, conv,
                        int(turn), None, int(cnt), None, None,
                        None, None, None, None, None, None, None))

        def emit_c3(conv_v, fid, pos0, is_first, is_last):
            # conv-extent row: one per (conv, segment), flags packed into
            # cnt (1 = conv is the segment's first conv, 2 = its last).
            # Feeds the GLOBAL contiguity verification — a conv
            # reappearing in a NON-adjacent segment is invisible to both
            # the per-split seen-set and the adjacent-boundary stitch.
            out.append((3, None, None, None, None, None, conv_v,
                        None, None,
                        (1 if is_first else 0) | (2 if is_last else 0),
                        fid, pos0,
                        None, None, None, None, None, None, None))

        def ints(a):
            """(int64 values with nulls as 0, validity mask)."""
            if a.null_count:
                return (a.fill_null(0).to_numpy(zero_copy_only=False),
                        np.asarray(a.is_valid()))
            return a.to_numpy(zero_copy_only=False), np.ones(len(a), bool)

        # segment state (a segment = maximal run of rows from one file
        # split, in scan order; the whole stream when not stitching)
        seg = None  # dict: prev=(conv, turn, ts, bucket, turn ok, ts ok), ...
        run = None  # dict: conv, turn, cnt, bucket, at_seg_start
        seen_convs: set = set()

        def close_run(at_seg_end: bool):
            nonlocal run
            if run is None:
                return
            if run["cnt"] >= 2 or (stitch and (run["at_seg_start"]
                                               or at_seg_end)):
                emit_uk(run["bucket"], run["conv"], run["turn"], run["cnt"])
            run = None

        def close_segment():
            nonlocal seg, seen_convs
            if seg is None:
                return
            close_run(at_seg_end=True)
            if stitch:
                if seg["open_conv"] is not None:
                    emit_c3(seg["open_conv"], seg["fid"], seg["pos0"],
                            seg["open_is_first"], True)
                f_conv, f_turn, f_ts, f_bucket = seg["first"]
                l_conv, l_turn, l_ts = seg["prev"][:3]
                out.append((1, None, None, None, None, None, None, None,
                            None, None, seg["fid"], seg["pos0"],
                            f_conv, int(f_turn), int(f_ts), int(f_bucket),
                            l_conv, int(l_turn), int(l_ts)))
            seg = None
            seen_convs = set()

        def flush() -> Iterator["pa.RecordBatch"]:
            nonlocal out
            if out:
                yield _out_batch(out)
                out = []

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            col = {name: batch.column(i)
                   for i, name in enumerate(batch.schema.names)}
            if stitch:
                # nulls in the clustering/sort keys break the declared
                # sort order — refuse and let validate() fall back to the
                # shuffle path, which defines null semantics (ADVICE r2)
                for k in ("conv_id", "turn_idx", "ts"):
                    if col[k].null_count:
                        raise ValueError(
                            f"clustered checks: null {k} in scan batch — "
                            "the declared write order cannot hold for null "
                            "keys; shuffle path (check_rowlevel_fused) "
                            "required")
                fh = col["_fh"].to_numpy(zero_copy_only=False)
                pos = col["pos"].to_numpy(zero_copy_only=False)
            conv = col["conv_id"]  # stays an Arrow string array
            conv_null = (np.asarray(conv.is_null()) if conv.null_count
                         else None)
            turn, turn_ok = ints(col["turn_idx"])
            # timestamp[us] -> epoch-us int64 (zero-copy buffer view)
            ts, ts_ok = ints(col["ts"].cast(pa.int64()))
            bucket = col["bucket"].to_numpy(zero_copy_only=False)
            role, tool = col["role"], col["tool"]

            # vocab checks (a null role is out of vocabulary, a null tool
            # is not); only flagged rows materialize their string value
            rb = ~np.asarray(pc.is_in(
                role, value_set=pa.array(role_vocab, role.type)))
            tb = np.asarray(tool.is_valid()) & ~np.asarray(pc.is_in(
                tool, value_set=pa.array(tool_vocab, tool.type)))
            for i in np.flatnonzero(rb):
                v = role[i].as_py()
                emit_v(bucket[i], "ref_role", "non_equal",
                       ('{"type":"enum","values":[' + _jstr(v) + "]}"
                        if v is not None else ROLE_NULL_SCHEMA),
                       role_schema2, conv[int(i)].as_py(),
                       turn[i] if turn_ok[i] else None,
                       '{"value":' + _jstr(v) + "}" if v is not None else "{}")
            for i in np.flatnonzero(tb):
                v = tool[i].as_py()
                emit_v(bucket[i], "ref_tool", "non_equal",
                       '{"type":"enum","values":[' + _jstr(v) + "]}",
                       tool_schema2, conv[int(i)].as_py(),
                       turn[i] if turn_ok[i] else None,
                       '{"value":' + _jstr(v) + "}")

            # split the batch at file-split changes (rare): each chunk is
            # one contiguous piece of one segment
            starts = ([0, n] if not stitch else np.concatenate(
                ([0], np.flatnonzero(fh[1:] != fh[:-1]) + 1, [n])))
            for s, e in zip(starts[:-1], starts[1:]):
                s, e = int(s), int(e)
                if stitch and seg is not None and seg["fh"] != fh[s]:
                    close_segment()
                seg_started_here = seg is None
                if seg is None:
                    seg = {"prev": None, "open_conv": None,
                           "open_is_first": False}
                    if stitch:
                        fid = fid_of.get(int(fh[s]))
                        if fid is None:
                            raise ValueError(
                                "clustered checks: scan produced a file not "
                                "in the snapshot manifest")
                        seg.update(fh=fh[s], fid=fid, pos0=int(pos[s]),
                                   first=(conv[s].as_py(), turn[s], ts[s],
                                          bucket[s]))

                # lag arrays for the chunk; index 0 pairs with seg["prev"]
                m = e - s
                c_same = np.empty(m, dtype=bool)
                if m > 1:
                    c_same[1:] = np.asarray(
                        pc.equal(conv.slice(s + 1, m - 1),
                                 conv.slice(s, m - 1)).fill_null(False))
                    if conv_null is not None:  # null conv_ids: one group
                        c_same[1:] |= conv_null[s + 1:e] & conv_null[s:e - 1]
                p_turn = np.empty(m, dtype=np.int64)
                p_ts = np.empty(m, dtype=np.int64)
                p_turn_ok = np.empty(m, dtype=bool)
                p_ts_ok = np.empty(m, dtype=bool)
                p_turn[1:] = turn[s:e - 1]
                p_ts[1:] = ts[s:e - 1]
                p_turn_ok[1:] = turn_ok[s:e - 1]
                p_ts_ok[1:] = ts_ok[s:e - 1]
                if seg["prev"] is not None:
                    (pv_conv, p_turn[0], p_ts[0], _, p_turn_ok[0],
                     p_ts_ok[0]) = seg["prev"]
                    c_same[0] = (conv[s].as_py() == pv_conv)
                else:
                    c_same[0] = False
                    p_turn[0] = p_ts[0] = 0
                    p_turn_ok[0] = p_ts_ok[0] = False
                t_ = turn[s:e]
                ts_ = ts[s:e]
                b_ = bucket[s:e]

                if stitch:
                    # layout verification: within a conv, (turn, ts) must
                    # be non-decreasing in scan order (the declared order)
                    bad_sort = c_same & ((t_ < p_turn)
                                         | ((t_ == p_turn) & (ts_ < p_ts)))
                    if bad_sort.any():
                        i = int(np.flatnonzero(bad_sort)[0])
                        raise ValueError(
                            "clustered checks: manifest declares sort order "
                            "(conv_id, turn_idx, ts) but conv "
                            f"{conv[s + i].as_py()!r} is out of order at scan "
                            f"position {int(pos[s + i])} — falling back to "
                            "the shuffle path (check_rowlevel_fused) is "
                            "required")
                    # conv contiguity: a conv may not reappear after
                    # changing. Batch-extract the changed conv values
                    # (take+to_pylist ~10x per-index as_py) — one string
                    # per conversation, not per row.
                    chg = np.flatnonzero(~c_same)
                    for cv in conv.take(pa.array(chg + s)).to_pylist():
                        if cv in seen_convs:
                            raise ValueError(
                                "clustered checks: manifest declares "
                                f"clustering by conv_id but conv {cv!r} is "
                                "non-contiguous in scan order — shuffle path "
                                "required")
                        seen_convs.add(cv)
                        # close the previous conv's extent row, open this
                        is_first = seg["open_conv"] is None
                        if not is_first:
                            emit_c3(seg["open_conv"], seg["fid"],
                                    seg["pos0"], seg["open_is_first"], False)
                        seg["open_conv"] = cv
                        seg["open_is_first"] = is_first

                # a lag pair: same conv, both turn_idx known
                pair = c_same & turn_ok[s:e] & p_turn_ok
                gap = pair & (t_ > p_turn + 1)
                dup = pair & (t_ == p_turn)
                tsb = pair & ts_ok[s:e] & p_ts_ok & (ts_ < p_ts)
                for i in np.flatnonzero(gap):
                    emit_v(bucket[s + i], "turn_gap", None, None, None,
                           conv[s + int(i)].as_py(), t_[i],
                           '{"prev_idx":%d,"missing":%d}'
                           % (p_turn[i], t_[i] - p_turn[i] - 1))
                for i in np.flatnonzero(dup):
                    emit_v(bucket[s + i], "turn_dup", None, None, None,
                           conv[s + int(i)].as_py(), t_[i],
                           '{"prev_idx":%d}' % p_turn[i])
                for i in np.flatnonzero(tsb):
                    emit_v(bucket[s + i], "ts_order", None, None, None,
                           conv[s + int(i)].as_py(), t_[i],
                           '{"prev_ts":"%s","ts":"%s"}'
                           % (_ts_str(int(p_ts[i])), _ts_str(int(ts_[i]))))

                # unique-key runs: maximal runs of equal (conv, turn).
                # dup[i] == row i has the same key as row i-1, so a new
                # run starts exactly where ~dup. Python touches ONLY the
                # runs that can matter — duplicate runs (sparse), the
                # chunk's first run (may continue the carried run), and
                # the chunk's last run (carried forward) — never one
                # iteration per row.
                run_starts = np.flatnonzero(~dup)
                if len(run_starts) == 0:
                    # whole chunk continues the carried run
                    run["cnt"] += m
                    run["bucket"] = min(run["bucket"], int(b_.min()))
                else:
                    first = int(run_starts[0])
                    if first > 0:
                        # rows [0, first) extend the carried run
                        run["cnt"] += first
                        run["bucket"] = min(run["bucket"],
                                            int(b_[:first].min()))
                    close_run(at_seg_end=False)
                    lens = np.diff(np.append(run_starts, m))
                    nruns = len(run_starts)
                    # complete runs (all but the last) that must emit:
                    # cnt >= 2, or the segment-first run (for the stitch)
                    emit = np.flatnonzero(lens[:nruns - 1] >= 2)
                    if (stitch and seg_started_here and run_starts[0] == 0
                            and nruns > 1 and lens[0] < 2):
                        emit = np.concatenate(([0], emit))
                    if len(emit):
                        convs = conv.take(
                            pa.array(run_starts[emit] + s)).to_pylist()
                        for cv, j in zip(convs, emit):
                            rs, cnt = int(run_starts[j]), int(lens[j])
                            emit_uk(b_[rs:rs + cnt].min(), cv,
                                    t_[rs], cnt)
                    # last run becomes the carried run
                    rs, cnt = int(run_starts[-1]), int(lens[-1])
                    run = {"conv": conv[s + rs].as_py(),
                           "turn": int(t_[rs]),
                           "cnt": cnt,
                           "bucket": int(b_[rs:rs + cnt].min()),
                           "at_seg_start": rs == 0 and seg_started_here}
                seg["prev"] = (conv[e - 1].as_py(), turn[e - 1], ts[e - 1],
                               bucket[e - 1], turn_ok[e - 1], ts_ok[e - 1])
            yield from flush()
        close_segment()
        yield from flush()

    return fn


def _plan_splits(catalog, snapshot_id: str, pending: List[int],
                 target_rows: int, spark=None) -> List[tuple]:
    """Manifest -> row-group-aligned scan splits:
    [(split_id, fid, path, partition_id, rg_start, rg_end, pos0, n_rows)].

    Row groups are parquet's split granularity (Spark's byte-range
    splits align to row-group boundaries too); files bigger than
    ``target_rows`` become several splits — the hot-conversation /
    giant-file escape hatch, same boundary-stitch semantics. Footer
    reads are metadata-only (~1ms each) but NOT free at manifest scale:
    they run in a driver thread pool, and above the same 512-file
    threshold ``infer.physical_census`` uses they distribute as a Spark
    job (a 10^5-file manifest must not serialize minutes of footer I/O
    through one thread). Split/file ids stay manifest-ordered either
    way — the boundary stitch depends on that order.
    """
    import os as _os

    import pyarrow.parquet as pq

    man = catalog.manifest(snapshot_id)
    keep = set(pending)
    snap_dir = _os.path.join(catalog.root, snapshot_id)
    files = []  # (fid, path, partition_id) in manifest order
    for p in man["partitions"]:
        if p["partition_id"] not in keep:
            continue
        for fname in p["files"]:
            files.append((len(files),
                          _os.path.abspath(_os.path.join(snap_dir, p["path"],
                                                         fname)),
                          p["partition_id"]))

    from .infer import keyed_footer_map

    def rg_rows_of(item) -> tuple:
        fid, path = item
        md = pq.ParquetFile(path).metadata
        return fid, [md.row_group(i).num_rows
                     for i in range(md.num_row_groups)]

    rows_by_fid = keyed_footer_map(spark, [(f[0], f[1]) for f in files],
                                   rg_rows_of)

    splits = []
    for fid, path, pid in files:
        rg_rows = rows_by_fid[fid]
        pos0, rg0, acc = 0, 0, 0
        for i, n in enumerate(rg_rows):
            acc += n
            if acc >= target_rows and i + 1 < len(rg_rows):
                splits.append((len(splits), fid, path, pid, rg0, i + 1, pos0,
                               acc))
                pos0 += acc
                rg0, acc = i + 1, 0
        if acc > 0 or rg0 < len(rg_rows) or not rg_rows:
            splits.append((len(splits), fid, path, pid, rg0, len(rg_rows),
                           pos0, acc))
    return splits


# A file with more footer rows than this is cut into several scan splits
# at row-group boundaries (``_plan_splits``): the escape hatch for a giant
# file or a hot conversation, which then spreads over tasks and is
# stitched at the seams like any other split boundary.
SPLIT_TARGET_ROWS = 1_000_000

# Rows per native-read batch. Independent of the JVM<->Python Arrow
# transfer cap (arrow.maxRecordsPerBatch): these batches never cross the
# bridge, and per-batch Python/numpy setup amortizes with size — measured
# 9.8s -> 6.3s for the 19.1M-turn corpus pass going from 10k to 256k
# rows. 128k rows ~ 10-20 MB decoded per in-flight batch per core.
READ_BATCH_ROWS = 131_072

# At most one scan task per this many footer rows (and at most
# defaultParallelism): each task is a Python worker of ~150 MB VmHWM, so a
# small snapshot must not fork one per core. Measured with perfbench
# unclustered_drift_resume (4 cores, 3g driver heap, seeds 701-704): its
# 120k-row snapshot read in 4 tasks without the floor and in 2 with it,
# peak RSS 2,099-2,156 MB against 1,788-1,804 MB, turns/s within noise.
# The 239k-row clustered_snapshot scan keeps its 4 tasks.
TASK_MIN_ROWS = 65_536


def _pack_tasks(spark, splits: List[tuple]) -> DataFrame:
    """Splits -> one row per scan task, each holding a list of splits.

    At most ``defaultParallelism`` tasks and one per ``TASK_MIN_ROWS``
    footer rows, balanced by footer row counts (largest split first onto
    the least-loaded task): a Python task per split paid worker setup per
    split, and round robin lets one task collect the big files. The table
    is Arrow-built, so Spark holds it as a LocalRelation and gives each
    row its own scan partition; a Python list would become an RDD that
    costs a deserialisation job per call."""
    import heapq

    import pyarrow as pa
    split_t = pa.struct([
        ("split_id", pa.int64()), ("fid", pa.int32()), ("path", pa.string()),
        ("partition_id", pa.int32()), ("rg_start", pa.int32()),
        ("rg_end", pa.int32()), ("pos0", pa.int64())])
    total_rows = sum(sp[7] for sp in splits)
    n_tasks = max(1, min(len(splits), spark.sparkContext.defaultParallelism,
                         -(-total_rows // TASK_MIN_ROWS)))
    load = [(0, t) for t in range(n_tasks)]
    tasks: List[list] = [[] for _ in range(n_tasks)]
    for sp in sorted(splits, key=lambda sp: -sp[7]):
        rows, t = heapq.heappop(load)
        tasks[t].append(sp)
        heapq.heappush(load, (rows + sp[7], t))
    names = [f.name for f in split_t]
    cells = [[dict(zip(names, sp)) for sp in sorted(t)] for t in tasks if t]
    return spark.createDataFrame(
        pa.table({"splits": pa.array(cells, pa.list_(split_t))}))


# the shuffle path's row source (``native_rows``): the kernel's six check
# columns plus ``meta``, null on turn rows and the metadata JSON on the
# reader's one row per (task, partition)
_ROWS_DDL = ("bucket int, conv_id string, turn_idx bigint, ts timestamp, "
             "role string, tool string, meta string")

# check_id of the rows that carry the reader's metadata past the kernel
# on the shuffle path (partition_id + meta JSON in payload); never a
# violation
META_CHECK = "_reader_meta"


def _native_split_reader(checker, batch_rows: int,
                         state_cols: List[str] | None = None,
                         drift_bins: dict | None = None):
    """mapInArrow over packed task rows (``_pack_tasks``): each task
    reads its splits' parquet row-group ranges natively with pyarrow
    (C++ decode, zero JVM row->Arrow conversion).

    Why native: Spark's JVM->Python Arrow feed converts UnsafeRows
    column-by-column under a shared allocator lock — measured 14.5s for
    a TRIVIAL passthrough of this corpus at 8 cores while the same scan
    as a JVM-only count is 0.31s, and it anti-scales with cores (the
    same finding that made infer use the JVM hash-agg state engine).
    Reading the (pruned) columns straight from parquet in the worker
    keeps the whole pass in C++ at pyarrow speed and makes the stage
    embarrassingly parallel across splits. The seam: prod object-store
    catalogs need worker-side filesystem access (pyarrow.fs handles
    s3://, hdfs://); a catalog that can't offer it keeps the JVM-scan
    shuffle path.

    Each file is read with its own schema, and the check columns are cast
    the way the JVM read plan casts them: ``conv_id``/``role``/``tool`` to
    string, ``turn_idx`` to int64 (a float file truncates, as Spark's
    cast does), ``ts`` to timestamp[us, UTC] (INT96 and nanosecond files
    included); a column the file lacks reads as nulls.

    With ``checker`` (the clustered path) the batches stream into
    ``_segment_checker`` with their split id and position; without it
    (the shuffle path) they leave as ``_ROWS_DDL`` rows for the exchange.

    The same decoded batches ALSO feed, per (task, partition), one
    metadata record (``meta`` JSON, see ``reader_meta``), so the snapshot
    is read once for everything:
    - ``states``: with ``state_cols``, the inference column-state monoid
      (infer._arrow_col_state — per-column null counts, min/max, observed
      type, ``phys`` from the footer); a column the file lacks gets an
      all-null state of the file's length;
    - ``drift``: for each column of ``drift_bins`` ({column: (edges,
      baseline CDF)}), its non-null count and its count <= each edge,
      exact. The values are what the baseline's KLL sketch was built
      from: ``text_len`` is ``length(text)`` (code points), numerics are
      float64, timestamps epoch seconds;
    - ``error``: a split that fails to read errors its partition.
    On the clustered path the records leave as kind=4 rows of ``_OUT_DDL``
    (partition_id + JSON in payload); on the shuffle path as ``_ROWS_DDL``
    rows with ``meta`` set.
    """
    import numpy as np

    edges = {c: np.asarray(e, np.float64)
             for c, (e, _) in (drift_bins or {}).items()}

    def fn(batches):
        import json as _json

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from schema_inference_spark.operators.infer import (
            _arrow_col_state,
            _json_safe,
            merge_part_states,
        )
        try:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
        except Exception:
            pass
        scan_types = {"conv_id": pa.string(), "turn_idx": pa.int64(),
                      "ts": pa.timestamp("us", "UTC"), "role": pa.string(),
                      "tool": pa.string()}
        wanted = list(dict.fromkeys(
            [*scan_types, *(state_cols or ()),
             *(("text" if c == "text_len" else c) for c in edges)]))
        states: dict = {}  # pid -> PartState
        drift: dict = {}   # pid -> {column: [n, counts <= each edge]}
        errors: dict = {}  # pid -> read-error message (by-value :throw)

        def drift_values(col: dict, c: str):
            """Non-null float64 values of drift column ``c``, or None when
            the file cannot supply them."""
            if c == "text_len" and "text" in col:
                a = pc.utf8_length(col["text"])
            elif c in col:
                a = col[c]
            else:
                return None
            t = a.type
            if pa.types.is_timestamp(t):
                us = a.cast(pa.timestamp("us", "UTC"), safe=False).cast(
                    pa.int64()).drop_null().to_numpy()
                return us.astype(np.float64) / 1e6
            if not (pa.types.is_integer(t) or pa.types.is_floating(t)
                    or pa.types.is_decimal(t)):
                return None
            v = a.cast(pa.float64(), safe=False).drop_null().to_numpy()
            return v[~np.isnan(v)]

        def one_split(row):
            pf = pq.ParquetFile(row["path"])
            if row["rg_start"] >= row["rg_end"]:
                return
            pos = row["pos0"]
            pid = row["partition_id"]
            # physical truth comes from the footer schema: pyarrow may
            # decode e.g. string as large_string in memory, but `phys`
            # records what the FILE stores (what the census reports)
            fsch = pf.schema_arrow
            read = [c for c in wanted if c in fsch.names]
            for full in pf.iter_batches(
                    batch_size=batch_rows,
                    row_groups=range(row["rg_start"], row["rg_end"]),
                    columns=read):
                n = full.num_rows
                col = dict(zip(full.schema.names, full.columns))
                if state_cols is not None:
                    st = {}
                    for c in state_cols:
                        cs = _arrow_col_state(
                            col[c] if c in col else pa.nulls(n), pid)
                        if cs["phys"]:
                            cs["phys"] = [str(fsch.field(c).type)]
                        st[c] = cs
                    states[pid] = (merge_part_states(states[pid], st)
                                   if pid in states else st)
                acc = drift.setdefault(pid, {}) if edges else None
                for c, e in edges.items():
                    v = drift_values(col, c)
                    if v is None:
                        continue
                    # bin j+1 holds the values in (e[j], e[j+1]]: its
                    # running sum up to j is count(x <= e[j])
                    le = np.cumsum(np.bincount(np.searchsorted(e, v),
                                               minlength=len(e) + 1))[:-1]
                    n0, le0 = acc.get(c, (0, 0))
                    acc[c] = (n0 + len(v), le0 + le)
                cols = [pa.array(np.full(n, pid, np.int32))] + [
                    col[c].cast(t, safe=False) if c in col
                    else pa.nulls(n, t) for c, t in scan_types.items()]
                names = ["bucket", *scan_types]
                if checker is None:
                    yield pa.RecordBatch.from_arrays(
                        cols + [pa.nulls(n, pa.string())],
                        names=names + ["meta"])
                else:
                    yield pa.RecordBatch.from_arrays(cols + [
                        pa.array(np.full(n, row["split_id"], np.int64)),
                        pa.array(np.arange(pos, pos + n, dtype=np.int64)),
                    ], names=names + ["_fh", "pos"])
                pos += n

        def row_batches():
            for sp in batches:
                for row in (r for task in sp.column(0).to_pylist()
                            for r in task):
                    try:
                        yield from one_split(row)
                    except Exception as exc:  # noqa: BLE001 — by-value
                        # :throw at partition granularity: a corrupt data
                        # page / unreadable file errors its PARTITION (an
                        # error record), never the job. Rows this split
                        # (or its partition's other splits) already
                        # emitted never reach a result: the clustered
                        # path drops every row of an errored partition,
                        # and validate() re-runs the shuffle path's pass
                        # without it.
                        errors[row["partition_id"]] = (
                            f"{row['path']}: rg[{row['rg_start']}:"
                            f"{row['rg_end']}]: "
                            f"{type(exc).__name__}: {exc}")

        yield from (row_batches() if checker is None
                    else checker(row_batches()))
        # the generators above are fully drained here, so the
        # accumulators are complete: one record per (task, partition)
        meta = [(p, _json.dumps({"error": errors[p]})) for p in sorted(errors)]
        meta += [(p, _json.dumps(
            {"states": states.get(p),
             "drift": {c: [int(n), [int(x) for x in le]]
                       for c, (n, le) in drift.get(p, {}).items()}},
            default=_json_safe))
            for p in sorted(set(states) | set(drift)) if p not in errors]
        if not meta:
            return
        if checker is None:
            k = len(meta)
            yield pa.RecordBatch.from_arrays(
                [pa.array([p for p, _ in meta], pa.int32())]
                + [pa.nulls(k, t) for t in scan_types.values()]
                + [pa.array([m for _, m in meta], pa.string())],
                names=["bucket", *scan_types, "meta"])
        else:
            yield _out_batch([(4, p) + (None,) * 6 + (m,) + (None,) * 10
                              for p, m in meta])

    return fn


def reader_meta(payloads) -> tuple:
    """The reader's metadata records [(partition_id, meta JSON)] ->
    ``(pstates, drift_counts, read_errors)``: per-partition column states
    merged with the associative monoid the state engines use, sorted by
    partition; {column: (non-null values, [count <= each edge])} summed
    over partitions; {partition_id: message}. A partition with a read
    error contributes no state and no count."""
    from .infer import merge_part_states
    recs = [(pid, json.loads(m)) for pid, m in payloads]
    errors = {pid: m["error"] for pid, m in recs if "error" in m}
    states: dict = {}
    drift: dict = {}
    for pid, m in recs:
        if pid in errors:
            continue
        st = m["states"]
        if st is not None:
            states[pid] = (merge_part_states(states[pid], st)
                           if pid in states else st)
        for c, (n, le) in m["drift"].items():
            tot, cum = drift.get(c, (0, [0] * len(le)))
            drift[c] = (tot + n, [a + b for a, b in zip(cum, le)])
    return sorted(states.items()), drift, errors


def _with_meta(checker):
    """``_segment_checker`` over ``_ROWS_DDL`` rows (the shuffle path):
    turn rows stream into the kernel, and the reader's metadata rows,
    which the exchange sent along with them, leave untouched as
    ``META_CHECK`` rows (kind 4, partition_id, meta JSON in payload)."""
    def fn(batches):
        import pyarrow.compute as pc
        meta: list = []

        def turns():
            for b in batches:
                m = b.column(b.schema.get_field_index("meta"))
                if m.null_count < len(m):
                    is_meta = m.is_valid()
                    meta.extend(zip(b.column(0).filter(is_meta).to_pylist(),
                                    m.filter(is_meta).to_pylist()))
                    b = b.filter(pc.invert(is_meta))
                yield b

        yield from checker(turns())
        if meta:
            yield _out_batch([(4, p, META_CHECK) + (None,) * 5 + (m,)
                              + (None,) * 10 for p, m in meta])

    return fn


def native_rows(spark: SparkSession, catalog, snapshot_id: str,
                pending: List[int], state_cols: List[str],
                drift_bins: dict | None = None) -> DataFrame:
    """The shuffle path's row source, in place of the JVM read plan: the
    packed manifest splits read natively (``_native_split_reader``), one
    ``_ROWS_DDL`` row per turn plus one metadata row per (task,
    partition) carrying the column states of ``state_cols``, the exact
    drift counts at ``drift_bins``' edges and read errors. Building it
    runs no Spark job; ``checks.check_rowlevel_fused`` exchanges it on
    conv_id into the kernel, whose output passes the metadata rows on."""
    splits = _plan_splits(catalog, snapshot_id, list(pending),
                          SPLIT_TARGET_ROWS, spark=spark)
    return _pack_tasks(spark, splits).mapInArrow(
        _native_split_reader(None, READ_BATCH_ROWS, state_cols, drift_bins),
        _ROWS_DDL)


def check_rowlevel_clustered(spark: SparkSession, catalog, snapshot_id: str,
                             pending: List[int], role_vocab: List[str],
                             tool_vocab: List[str],
                             partition_col: str = "bucket",
                             collect_states: bool = False,
                             with_errors: bool = False,
                             drift_bins: dict | None = None):
    """All row-level checks (uniqueness, role/tool vocab, ordering) with
    zero shuffle over a snapshot whose manifest declares the clustered
    write order. Row-identical to ``check_rowlevel_fused``.

    The corpus pass distributes manifest row-group splits and reads them
    natively in the workers (see ``_native_split_reader`` for why — the
    JVM->Python Arrow feed was the whole cost of this stage). Everything
    after it runs on the driver over split-sized rows from ONE collect;
    the returned violations are a LocalRelation, so reading them runs no
    Spark job.

    ``collect_states=True`` fuses the inference column-state pass into
    the SAME scan (every column, including the ones the checks prune) and
    returns ``(violations, pstates)`` — the snapshot then needs ONE
    corpus read total instead of a stats pass plus a check pass.

    ``drift_bins`` ({column: (edges, baseline CDF)}, from
    ``drift.baseline_bins``) makes the same scan count each column's
    values at the edges, exactly, and appends {column: (non-null values,
    [count <= each edge])} to the return tuple, after the states.

    ``with_errors=True`` appends an ``{partition_id: message}`` dict of
    partitions whose native read failed (corrupt data page, unreadable
    file) to the return tuple — the reference's by-value ``:throw``
    (algo_w.clj:286-289) at partition granularity: the failing split
    emits an error row instead of aborting the job, every row of an
    errored partition is dropped before any check consumes it, and the
    caller emits a verdict='error' for it (resume re-validates after
    repair). With the default ``with_errors=False`` a read error raises,
    preserving fail-fast semantics for direct callers."""
    from ..functions.frames import local_frame
    from ..functions.prof import profile_marker
    from .checks import VIOLATION_DDL
    _tmark = profile_marker("clustered")

    splits = _plan_splits(catalog, snapshot_id, list(pending),
                          SPLIT_TARGET_ROWS, spark=spark)
    _tmark(f"plan-splits ({len(splits)} splits)")
    # _fh is the split id (unique per split: two splits of one file must
    # open separate segments even if a task sees them back to back); fid
    # stays the FILE id so boundary ordering is (file, position in file)
    fid_of = {s[0]: s[1] for s in splits}

    checker = _segment_checker(role_vocab, tool_vocab, fid_of)
    state_cols = None
    if collect_states and splits:
        # census uniformity is a precondition of this path, so the first
        # file's schema is every file's schema; the partition column is
        # directory-derived, never in the files
        import pyarrow.parquet as _pq
        state_cols = [c for c in _pq.ParquetFile(splits[0][2])
                      .schema_arrow.names if c != partition_col]
    out = _pack_tasks(spark, splits).mapInArrow(
        _native_split_reader(checker, READ_BATCH_ROWS, state_cols,
                             drift_bins),
        _OUT_DDL).localCheckpoint(eager=False)
    # The UDF output is violation-sized except for the kind=3 extent rows
    # (one per conversation), and two branches read it below, so it is
    # materialized once. The count is the eager checkpoint, run on the
    # held RDD so the blocks can be released even when the scan raises a
    # layout lie (which it surfaces here, at call time).
    stored = out._jdf.queryExecution().analyzed().rdd()
    try:
        stored.count()
        _tmark("scan (localCheckpoint out)")
        # ONE driver collect: every row but the extent rows, plus the
        # conversations whose extent rows span more than one segment —
        # the only ones the global contiguity proof has to look at.
        multi = (out.filter(F.col("kind") == 3)
                 .groupBy("conv_id")
                 .agg(F.collect_list(F.struct("fid", "pos", "cnt"))
                      .alias("segs"))
                 .filter(F.size("segs") > 1)
                 .select(F.lit(3).alias("kind"), "conv_id", "segs"))
        rows = (out.filter(F.col("kind") != 3)
                .unionByName(multi, allowMissingColumns=True).collect())
    finally:
        stored.unpersist(True)
    _tmark("collect")

    by_kind: dict = {k: [] for k in range(5)}
    for r in rows:
        by_kind[r.kind].append(r)
    pstates, drift, read_errors = reader_meta(
        (r.partition_id, r.payload) for r in by_kind[4])
    if read_errors and not with_errors:
        raise RuntimeError(
            "clustered scan read errors: "
            + "; ".join(f"partition {p}: {m}"
                        for p, m in sorted(read_errors.items())))
    # the per-partition by-value :throw: every row of an errored partition
    # — including rows good splits of it already produced — is dropped
    # before any check reads it (an incomplete partition's extent rows
    # could otherwise fabricate a lie; convs never span partitions, so
    # dropping whole partitions cannot). Boundary and extent rows carry
    # no partition_id but a file id, and a file is in one partition.
    bad_fids = {s[1] for s in splits if s[3] in read_errors}
    keep = {k: [r for r in by_kind[k] if r.partition_id not in read_errors]
            for k in (0, 2)}

    # stitch: boundary rows in (file, position) order are global scan
    # order, so each pair of consecutive segments is one seam
    bnd = sorted((r for r in by_kind[1] if r.fid not in bad_fids),
                 key=lambda r: (r.fid, r.pos))
    seg_rank = {(r.fid, r.pos): i for i, r in enumerate(bnd)}
    seams = [(p, f) for p, f in zip(bnd, bnd[1:]) if p.l_conv == f.f_conv]

    # GLOBAL conv contiguity: the UDF verifies contiguity within each
    # split and the stitch compares only ADJACENT segments, so a conv
    # reappearing in a non-adjacent segment is invisible to both. Each
    # conv must occupy consecutive segments (ranked among the segments
    # present), first-of-segment everywhere but its first and
    # last-of-segment everywhere but its last.
    for r in by_kind[3]:
        occ = sorted((seg_rank[(s.fid, s.pos)], s.cnt) for s in r.segs
                     if (s.fid, s.pos) in seg_rank)
        if len(occ) < 2:
            continue
        lo, hi = occ[0][0], occ[-1][0]
        if (len(occ) != hi - lo + 1
                or any(not fl & 1 for rk, fl in occ if rk != lo)
                or any(not fl & 2 for rk, fl in occ if rk != hi)):
            raise ValueError(
                "clustered checks: manifest declares clustering by "
                f"conv_id but conv {r.conv_id!r} occupies non-adjacent "
                "segments in scan order — shuffle path "
                "(check_rowlevel_fused) required")
    # cross-split sort order: a lie that exists ONLY across a boundary
    # (locally sorted splits, key regressing at the seam) must also
    # refuse; equal (turn, ts) at the seam is a legitimate duplicate
    for p, f in seams:
        if (f.f_turn, f.f_ts) < (p.l_turn, p.l_ts):
            raise ValueError(
                "clustered checks: manifest declares sort order (conv_id, "
                f"turn_idx, ts) but conv {f.f_conv!r} regresses across a "
                "split boundary — shuffle path (check_rowlevel_fused) "
                "required")

    out_rows = [(snapshot_id, r.partition_id, r.check_id, r.mgu_failure,
                 r.schema_1, r.schema_2, r.conv_id, r.turn_idx, r.payload)
                for r in keep[0]]
    # split-spanning duplicate runs: per-key partial counts -> one row per
    # duplicated key (same (n_copies, min-bucket) row the fused window
    # folds to)
    uk: dict = {}
    for r in keep[2]:
        n, pid = uk.get((r.conv_id, r.turn_idx), (0, r.partition_id))
        uk[(r.conv_id, r.turn_idx)] = (n + r.cnt, min(pid, r.partition_id))
    out_rows += [(snapshot_id, pid, "unique_key", None, None, None, conv,
                  turn, '{"n_copies":%d}' % n)
                 for (conv, turn), (n, pid) in uk.items() if n > 1]
    # the seam pairs' lag checks; payloads match the fused path's to_json
    for p, f in seams:
        hits = []
        if f.f_turn > p.l_turn + 1:
            hits.append(("turn_gap", '{"prev_idx":%d,"missing":%d}'
                         % (p.l_turn, f.f_turn - p.l_turn - 1)))
        if f.f_turn == p.l_turn:
            hits.append(("turn_dup", '{"prev_idx":%d}' % p.l_turn))
        if f.f_ts < p.l_ts:
            hits.append(("ts_order", '{"prev_ts":"%s","ts":"%s"}'
                         % (_ts_str(p.l_ts), _ts_str(f.f_ts))))
        out_rows += [(snapshot_id, f.f_bucket, c, None, None, None,
                      f.f_conv, f.f_turn, payload) for c, payload in hits]
    out = ((local_frame(spark, out_rows, VIOLATION_DDL),)
           + ((pstates,) if collect_states else ())
           + ((drift,) if drift_bins is not None else ())
           + ((read_errors,) if with_errors else ()))
    return out if len(out) > 1 else out[0]


def census_uniform(census: dict, pending: List[int]) -> bool:
    """True when every pending partition's footer census agrees on physical
    column types — the precondition for the plain (non-widening) scan the
    clustered path reads with."""
    sigs = set()
    for pid in pending:
        cols = census.get(pid, {})
        sigs.add(tuple(sorted((c, json.dumps(v["ir"], sort_keys=True))
                              for c, v in cols.items())))
    return len(sigs) <= 1


def manifest_declares_order(manifest: dict) -> bool:
    """True when the snapshot's write order guarantees the clustered
    path's layout contract (the Iceberg sort-order seam)."""
    wo = manifest.get("write_order") or {}
    return (wo.get("clustered_by") == ["conv_id"]
            and wo.get("sorted_by") == ["conv_id", "turn_idx", "ts"])
