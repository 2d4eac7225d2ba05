"""Validation pipeline: the engine's `validate(snapshot)` lifecycle
(SURVEY.md §3.4).

    plan:    manifest -> pending partitions = all - completed(audit);
             footer census -> check path; baseline sketches -> drift bins
    read:    ONE native read of the snapshot: the row-level checks
             (uniqueness, referential, ordering: one Arrow kernel over
             conv-ordered rows), the Arrow column states and the exact
             drift counts at the baseline's bin edges
    infer:   column states -> treeAggregate mgu merge
    check:   drift (PSI/KS, baseline CDF vs exact current CDF), schema
             compat
    verdict: per-partition pass/fail + stable-ordered violation rows
    audit:   per-partition lineage + metrics, resume-safe

No executor code raises on data errors — violations are rows (the
reference's by-value failure propagation, algo_w.clj:9-11); the job only
throws on infrastructure failures.
"""

from __future__ import annotations

import json
import time
from collections import Counter
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.frames import local_frame
from .functions.prof import profile_marker
from .operators import checks as C
from .operators import stats as S
from .operators.drift import (baseline_bins, drift_violations,
                              schema_drift_violation)
# infer_snapshot is no longer called here (both paths take the states
# from the native read); perfbench's tracer still patches it by this name
from .operators.infer import InferResult, infer_snapshot, read_snapshot_tolerant
from .sources.catalog import SnapshotCatalog

ROLE_VOCAB = ["system", "user", "assistant", "tool"]
TOOL_VOCAB = ["search", "code", "browser", "none"]


class ValidationResult:
    """Result of one ``validate()`` run.

    ``violations`` and ``verdicts`` are Arrow local frames of rows held
    on the driver: reading them runs no Spark job.

    ``snapshot_stats`` is LAZY: the full per-column profile is built from
    ``stats_thunk`` on first access (a fresh read plan and ~1s of
    Catalyst analysis over 50+ agg expressions, which pass/fail callers
    never pay) and memoized, with nothing cached in Spark.
    """

    def __init__(self, snapshot_id: str, partitions: List[int],
                 table_schema: Dict, violations: DataFrame,
                 verdicts: DataFrame, infer: InferResult,
                 stats_thunk: Optional[Callable[[], DataFrame]] = None,
                 errors: Optional[Dict[int, str]] = None,
                 check_path: str = "fused",
                 skipped: Optional[Dict[str, str]] = None):
        self.snapshot_id = snapshot_id
        self.partitions = partitions
        self.table_schema = table_schema
        self.violations = violations   # stable-ordered, F5 shape
        self.verdicts = verdicts       # per-partition pass/fail/error + metrics
        self.infer = infer
        # partitions whose scan/census failed -> error message; they got
        # verdict='error' rows (not completed: resume retries after repair)
        self.errors = errors or {}
        # how the native split reader's rows reached the row-level check
        # kernel: "clustered" (per split, no shuffle), "fused" (one
        # exchange on conv_id), or "none" (nothing pending)
        self.check_path = check_path
        # checks this run could not evaluate -> why, e.g.
        # {"drift_psi:<column>": "baseline sketch unreadable: ..."}
        self.skipped = skipped or {}
        self.stats_thunk = stats_thunk

    @property
    def snapshot_stats(self) -> DataFrame:  # per-column stats + sketches
        if not hasattr(self, "_stats_df"):
            if self.stats_thunk is None:
                raise AttributeError(
                    "ValidationResult was constructed without a "
                    "stats_thunk — snapshot_stats is unavailable")
            self._stats_df = self.stats_thunk()
        return self._stats_df


def validate(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    snapshot_id: str,
    role_vocab: Optional[List[str]] = None,
    tool_vocab: Optional[List[str]] = None,
    baseline_sketches: Optional[Dict[str, bytes]] = None,
    baseline_schema: Optional[Dict[str, Dict]] = None,
    contract: Optional[Dict[str, Dict]] = None,
    role_protocol: Optional[set] = None,
    baseline_transitions: Optional[Dict] = None,
    rules: Optional[List[Dict]] = None,
    completeness: bool = False,
    stuck_loops: bool = False,
    conv_dedup: bool = False,
    conv_near_dedup: Optional[float] = None,
    conv_near_dedup_max_turns: Optional[int] = None,
    context_budget: Optional[int] = None,
    resume: bool = True,
    write_audit: bool = True,
    write_violations: Optional[bool] = None,
    clustered_checks: Optional[bool] = None,
    partition_col: str = "bucket",
    partitions: Optional[List[int]] = None,
) -> ValidationResult:
    """Validate one snapshot end-to-end: schema inference + row-level
    constraint checks + opt-in conversation-structure checks, with
    per-partition verdicts, violation rows, and checkpoint/resume —
    the engine's main entry point (the north rule's job, deployed by
    ``submit_validate.py``).

    Always on: per-partition schema inference (the reference's
    Algorithm-W merge semantics over column states; conflicts emit
    ``mgu_failure`` violation rows), uniqueness of (conv_id, turn_idx)
    (D10), role/tool referential integrity (D11, ``role_vocab`` /
    ``tool_vocab`` default to the module vocabularies), and turn-
    ordering gap/regression checks (D12). A corrupt partition gets a
    ``verdict='error'`` row and is excluded — never aborts the run —
    and is NOT marked completed, so a resumed run retries exactly the
    errored partitions after repair (the reference's ``:throw`` at
    partition granularity).

    Opt-in, each adding the minimum extra plan over the shared scan:
    ``baseline_sketches``/``baseline_schema`` (PSI/KS drift + schema
    compat vs a baseline snapshot, D13), ``contract`` (sub-schema
    conformance gate), ``role_protocol`` (transition-matrix check),
    ``baseline_transitions`` (structure drift), ``rules`` (declared
    FD/implication constraints), ``completeness`` (head-truncation /
    gap totals per conversation), ``stuck_loops`` (repeated-run
    detection), ``conv_dedup`` (whole-conversation exact dup members),
    ``conv_near_dedup=<jaccard>`` (conversation near-dups — re-rollouts
    — at the given exact-Jaccard threshold; the one raw-text fold, see
    ``checks.check_conv_near_dup`` for its memory contract and the
    ``max_turns`` whale guard — ``conv_near_dedup_max_turns`` tunes
    the prefix cap, None keeps the check's measured default, and <= 0
    disables it for whole-transcript comparison), and
    ``context_budget`` (running text-cost crossings).

    Execution: a metadata census first selects the check path. Both
    read the snapshot once, with the native split reader, and run the
    same Arrow check kernel (``clustered._segment_checker``) over its
    rows: ``clustered`` (zero shuffle, taken when the manifest declares
    the Iceberg sort-order contract and the snapshot has at least
    ``spark.schema_inference.clustered.minRows`` pending rows) or
    ``fused`` (the reader's rows repartitioned by conv_id and sorted,
    taken otherwise); ``clustered_checks`` forces either. The two are
    row-identical (tested) and the chosen path is reported as
    ``ValidationResult.check_path``. The same read yields the inference
    column states and, for each ``baseline_sketches`` column, exact
    counts at the baseline's bin edges: drift compares the baseline's
    CDF, read from its KLL sketch at the sketch's interior deciles, with
    the current rows' exact CDF there, so one snapshot and baseline give
    one drift payload in every run. An unreadable baseline sketch, or a
    compared column without current values, is skipped and named in
    ``ValidationResult.skipped``. The full profile,
    ``result.snapshot_stats``, is built only when read.

    Memory contract: on every path a call's violation rows are
    materialized once, ON THE DRIVER (one collect, plus the driver-side
    schema-merge/drift/compat rows), ordered and counted there, so they
    must stay violation-sized (one row per anomaly, not per turn).
    Violations and verdicts return as Arrow local frames that read
    without a Spark job; a clustered call without opt-in checks or
    persistence runs 3 jobs, with drift too. The baseline's bin edges are
    read on the driver and the catalog reads and writes its stores there
    (no job), so a persisting shuffle-path drift call runs 2: the check
    kernel's collect (the native read into the exchange, then the
    kernel). The JVM read plan is built only for the opt-in checks.
    ``resume=True`` skips partitions whose latest audit verdict is pass
    or fail; a resubmit with nothing pending runs 0 jobs and returns the
    stored verdicts. ``partitions=[...]`` restricts to an explicit subset
    (the conv-dedup checks still fold the full corpus but emit only
    pending partitions' rows). ``write_audit``/``write_violations``
    persist per-partition lineage + violation rows idempotently (each
    validated partition's stored rows, and -1's when every partition was
    validated, become this run's, none included; violations are written
    before verdicts), which is what makes interrupted runs resumable
    without rescanning validated partitions."""
    t0 = time.monotonic()
    _mark = profile_marker("validate")

    role_vocab = role_vocab or ROLE_VOCAB
    tool_vocab = tool_vocab or TOOL_VOCAB

    # -- plan: resume from lineage (D19) ------------------------------------
    all_parts = catalog.partition_ids(snapshot_id)
    if partitions is not None:
        # explicit subset: validate just these partitions (on-demand
        # re-check, bench warm-up); resume filtering still applies on top
        pending = [p for p in partitions if p in set(all_parts)]
        if resume:
            done = set(catalog.completed_partitions(spark, snapshot_id))
            pending = [p for p in pending if p not in done]
    else:
        pending = (catalog.pending_partitions(spark, snapshot_id)
                   if resume else list(all_parts))
    if not pending:
        empty_v = C.empty_violations(spark)
        return ValidationResult(
            snapshot_id, [], {}, empty_v,
            catalog.read_audit(spark, snapshot_id),
            InferResult(snapshot_id, {}, {}, {}, {}, []),
            stats_thunk=lambda: local_frame(
                spark, [], "snapshot_id string, column string"),
            check_path="none")

    # -- census first (metadata-only): selects the check path ---------------
    from .operators.clustered import (META_CHECK, census_uniform,
                                      check_rowlevel_clustered,
                                      manifest_declares_order, native_rows,
                                      reader_meta)
    from .operators.infer import census_errors, finalize_infer, snapshot_census
    census = snapshot_census(spark, catalog, snapshot_id, pending)
    _mark("census")

    # by-value error isolation (the reference's :throw at partition
    # granularity): a partition whose footer is corrupt/unreadable gets a
    # verdict='error' row instead of aborting the run; it is excluded
    # from every downstream pass and NOT marked completed, so resume
    # re-validates exactly the errored partitions after repair.
    errors: Dict[int, str] = {}

    def exclude(bad: Dict[int, str]) -> None:
        nonlocal census, pending
        errors.update(bad)
        census = {p: c for p, c in census.items() if p not in bad}
        pending = [p for p in pending if p not in bad]

    exclude(census_errors(census))

    # path selection: clustered (zero-shuffle, layout-aware) when the
    # manifest declares the write order — the Iceberg sort-order contract —
    # AND the snapshot is big enough to amortize the path's fixed cost;
    # else fused (one scan + one exchange on conv_id). clustered_checks
    # forces it either way. Both paths are row-identical (tested).
    #
    # The row threshold was set when the clustered path paid ~3-5s of
    # fixed cost per call (26 Spark jobs, a Python task per split); at
    # local[32] the shuffle path then won up to 1M rows and lost 6x at
    # 5M, so the default sits at 2M. The path now runs 3 jobs over packed
    # tasks, and re-measured on 4 cores (warm JVM, median of 3 calls,
    # clustered vs fused) it wins at every size tried: 1.7s vs 2.9s at
    # 239k turns, 2.1s vs 2.8s at 1M, 2.9s vs 5.9s at 2.87M. The default
    # is left at 2M until a cluster measurement backs a lower one; a
    # deployment that wants the clustered path throughout sets 0.
    man_full = catalog.manifest(snapshot_id)
    min_rows = int(spark.conf.get(
        "spark.schema_inference.clustered.minRows", "2000000"))
    pend_set = set(pending)
    total_rows = sum(int(p["n_rows"]) for p in man_full["partitions"]
                     if p["partition_id"] in pend_set)
    use_clustered = (clustered_checks if clustered_checks is not None
                     else (manifest_declares_order(man_full)
                           and total_rows >= min_rows))
    # a cross-partition physical-type conflict forces the widening scan
    # (read_snapshot_tolerant), which the layout fast path cannot use —
    # those snapshots take the shuffle path regardless
    use_clustered = use_clustered and census_uniform(census, pending)

    # -- drift's baseline side, before the pass: the bin edges and the
    # baseline CDF there, read from the baseline sketches in one
    # driver-local projection (no job); the pass counts the current rows
    # at those edges exactly
    bins, unreadable = baseline_bins(spark, baseline_sketches or {})
    skipped = {f"drift_psi:{c}": why for c, why in unreadable.items()}

    # -- the corpus pass: checks + inference states + drift counts ----------
    # Both paths read the snapshot ONCE, with the native split reader,
    # which computes the column states (collect_states) and the drift
    # counts next to the row-level checks: in the clustered path's own
    # zero-shuffle kernel, or (shuffle path) as rows exchanged on conv_id
    # into the same kernel. The JVM read plan is built only for the
    # opt-in checks.
    inf = None
    violations = None
    drift_counts: Dict[str, tuple] = {}
    path_used = "fused"
    opt_in = (role_protocol or baseline_transitions or rules or completeness
              or stuck_loops or conv_dedup or conv_near_dedup is not None
              or context_budget is not None)
    if not pending:
        # every pending partition errored at census: nothing left to
        # scan — emit only the error verdicts below
        violations = C.empty_violations(spark)
        inf = InferResult(snapshot_id, {}, {}, {}, {}, [])
        path_used = "none"
    elif use_clustered:
        try:
            # eager: the one corpus pass runs here, so a layout lie
            # (manifest declares an order the files don't honor)
            # surfaces now — fall back to the shuffle path instead of
            # failing the job. The declared order is metadata we verify,
            # not trust.
            violations, pstates, drift_counts, scan_errors = \
                check_rowlevel_clustered(
                    spark, catalog, snapshot_id, pending, role_vocab,
                    tool_vocab, partition_col, collect_states=True,
                    with_errors=True, drift_bins=bins)
            # same by-value isolation as the census probe, one level
            # deeper: the footer was fine but a data page wasn't
            exclude(scan_errors)
            inf = finalize_infer(spark, snapshot_id, census, pstates)
            path_used = "clustered"
            _mark("checks+infer (one fused scan)")
        except Exception as exc:  # noqa: BLE001 — executor errors arrive
            if "clustered checks:" not in str(exc):  # as Py4J wrappers
                raise

    # -- full profile (D7-D9), built only when snapshot_stats is read --------
    def _build_stats() -> DataFrame:
        # always rebuilds the read plan instead of capturing `df`: the
        # thunk outlives validate() on the returned result, and holding
        # the analyzed plan of a snapshot most callers never profile is
        # pure retention (plan analysis is the cost being deferred).
        # Reads `pending`/`census` at call time, so it tracks the retry
        # loop's error exclusions.
        d = read_snapshot_tolerant(spark, catalog, snapshot_id, pending,
                                   census)
        if "text" in d.columns:
            d = d.withColumn("text_len", S.text_len())
        return S.profile_snapshot(
            d, snapshot_id, partition_col=partition_col)["snapshot"]

    df = None
    # The scan section runs at most twice. The shuffle path's reader
    # reports a split that fails to read as an error record of its
    # partition, found after the collect: the section re-runs without
    # that partition, so none of its rows reach a check. An opt-in
    # check's JVM scan abort (data page corrupt under an intact footer —
    # invisible to the census) names no partition, so on that failure a
    # page-depth decode probe (infer.probe_partitions) re-finds it
    # by-value; the probe gates the retry: a failure it cannot attribute
    # to a partition re-raises unchanged.
    for _attempt in (1, 2):
        try:
            if not pending and violations is None:
                violations = C.empty_violations(spark)
                inf = InferResult(snapshot_id, {}, {}, {}, {}, [])
                path_used = "none"
            # the JVM read plan (building one from the census runs no
            # job), shared by the opt-in checks below
            if pending and df is None and opt_in:
                df = read_snapshot_tolerant(spark, catalog, snapshot_id,
                                            pending, census)
                _mark("read-plan")
            if violations is None:
                # the shuffle path: the native reader's rows, one exchange
                # on conv_id, the Arrow check kernel; the reader's
                # metadata rows (column states, drift counts, read
                # errors) ride along and come out of the same collect
                state_cols = list(dict.fromkeys(
                    c for p in pending for c in census[p]
                    if c != partition_col))
                violations = C.check_rowlevel_fused(
                    native_rows(spark, catalog, snapshot_id, pending,
                                state_cols, bins),
                    snapshot_id, role_vocab, tool_vocab)

            if opt_in:
                # opt-in conversation-structure checks: the protocol
                # matrix (checks.check_role_protocol) and/or the
                # snapshot-vs-baseline transition drift. Both need the
                # per-conv (turn_idx, ts) ordering, which the check
                # kernel does not compute — so when enabled each adds
                # its own window or aggregation pass (an extra exchange)
                # over the tolerant read plan, paid only by configured
                # callers.
                if role_protocol:
                    violations = violations.unionByName(
                        C.check_role_protocol(df, snapshot_id,
                                              role_protocol,
                                              partition_col))
                if completeness:
                    # per-conv head-truncation/gap totals: one groupBy
                    # on (bucket, conv) with map-side partials — no
                    # window, so it shares nothing with D12 and adds no
                    # sort
                    violations = violations.unionByName(
                        C.check_conv_completeness(df, snapshot_id,
                                                  partition_col=partition_col))
                if stuck_loops:
                    # retry-loop/echo runs: one window Exchange on
                    # (conv, bucket) shared with nothing (the run fold
                    # reuses its clustering); invisible to D12 since a
                    # stuck loop has perfectly consecutive turn_idx
                    violations = violations.unionByName(
                        C.check_stuck_loops(df, snapshot_id,
                                            partition_col=partition_col))
                if (conv_dedup or conv_near_dedup is not None) and pending:
                    # whole-conversation dedup checks. UNLIKE the other
                    # opt-ins these are cross-partition (dup members
                    # live in different buckets), so a resumed run must
                    # fold the FULL corpus (minus errored partitions) —
                    # ONE read plan shared by both — but emits rows only
                    # for PENDING partitions: the completed partitions'
                    # members were emitted by the run that completed
                    # them, and re-emitting would let the store's
                    # per-partition overwrite wipe their other checks'
                    # persisted rows. (`and pending`: with nothing
                    # pending the post-fold filter would discard every
                    # row, so skipping avoids paying the corpus fold —
                    # the near-dup one carries raw text — for a
                    # guaranteed-empty result.) Emission across runs is
                    # COMPLETE because snapshots are immutable: every
                    # run folds the same full corpus, so the run that
                    # validates a reporter's partition sees its dup
                    # group and emits it — rows for new data appended
                    # AS A NEW SNAPSHOT come from that snapshot's own
                    # validation (or the incremental index probes).
                    full_parts = [p for p in all_parts if p not in errors]
                    df_full = (df if set(pending) == set(full_parts)
                               else catalog.read_snapshot(spark, snapshot_id,
                                                          full_parts))
                    pend_ids = [int(p) for p in pending]
                    if conv_dedup:
                        # exact members: one fold exchange on the conv
                        # key (turn content digested map-side) + a
                        # signature-keyed join over the one-row-per-
                        # conversation frame; invisible to every other
                        # check (a duplicate transcript is internally
                        # perfectly well-formed)
                        violations = violations.unionByName(
                            C.check_conv_dup(df_full, snapshot_id,
                                             partition_col=partition_col)
                            .filter(F.col("partition_id").isin(pend_ids)))
                    if conv_near_dedup is not None:
                        # near-dup (re-rollout) members at exact-Jaccard
                        # >= the given threshold. max_turns: None =
                        # the check's default cap; <= 0 = uncapped
                        mt = conv_near_dedup_max_turns
                        kw = {} if mt is None else {
                            "max_turns": (int(mt) if mt > 0 else None)}
                        violations = violations.unionByName(
                            C.check_conv_near_dup(
                                df_full, snapshot_id,
                                partition_col=partition_col,
                                threshold=conv_near_dedup, **kw)
                            .filter(F.col("partition_id").isin(pend_ids)))
                if context_budget is not None:
                    # running text-cost budget crossing per conversation
                    # (serving context limit / export row cap audit)
                    violations = violations.unionByName(
                        C.check_context_overflow(
                            df, snapshot_id, budget=context_budget,
                            partition_col=partition_col))
                if rules:
                    # declared row-rule constraints (implication rules
                    # share the snapshot scan — zero extra shuffle; FD
                    # rules add one aggregation on their determinant)
                    from .operators.constraints import rules_violations
                    rv = rules_violations(df, snapshot_id, rules,
                                          partition_col)
                    if rv is not None:
                        violations = violations.unionByName(rv)

            # -- materialize ONCE, on the driver: one collect runs the
            # check plan; the shuffle path's metadata rows come out of it
            collected = [tuple(r) for r in violations.collect()]
            if inf is None:
                pstates, drift_counts, bad = reader_meta(
                    (r[1], r[8]) for r in collected if r[2] == META_CHECK)
                if bad:
                    exclude(bad)
                    if _attempt == 1:
                        violations = None
                        df = None
                        _mark(f"unreadable splits -> {sorted(bad)} errored")
                        continue
                    # a split that read on the first attempt and failed
                    # on the second: its partition's rows are dropped, as
                    # on the clustered path
                    collected = [r for r in collected if r[1] not in bad]
                inf = finalize_infer(spark, snapshot_id, census, pstates)
                _mark("checks+infer (one native read, one exchange)")

            # -- driver-side violations: schema merge, drift, compat --------
            driver_rows: List[Dict] = list(inf.violations)
            if baseline_transitions:
                # structure drift: this snapshot's transition matrix
                # (|roles|^2 rows collected) vs the baseline's — one
                # snapshot-level row when the matrix PSI drifts
                from .operators.drift import (
                    transition_drift_violation,
                    transition_matrix,
                )
                cur_matrix = transition_matrix(df)
                row = transition_drift_violation(
                    snapshot_id, baseline_transitions, cur_matrix)
                if row:
                    driver_rows.append(row)
            if contract:
                # protocol-conformance gate (the reference's
                # :protocol-invoke / sub-schema check, algo_w.clj:223-248)
                # over the inferred schema
                from .plans.registry import CheckRegistry
                driver_rows += CheckRegistry().conforms(
                    inf.table_schema, contract, snapshot_id)
            if bins:
                drift_rows, no_values = drift_violations(snapshot_id, bins,
                                                         drift_counts)
                driver_rows += drift_rows
                skipped.update({f"drift_psi:{c}": why
                                for c, why in no_values.items()})
            if baseline_schema:
                for col, base in sorted(baseline_schema.items()):
                    snap = inf.table_schema.get(col)
                    if snap is None:
                        continue
                    row = schema_drift_violation(snapshot_id, col, snap,
                                                 base)
                    if row:
                        driver_rows.append(row)

            # the rows are ordered (Python str order is Spark's UTF-8
            # binary order) and counted here and return as a
            # LocalRelation that reads without a Spark job
            rows = sorted([r for r in collected if r[2] != META_CHECK]
                          + [tuple(r[c] for c in C.VIOLATION_COLS)
                             for r in driver_rows], key=C.stable_key)
            counts = Counter(r[1] for r in rows)
            violations = local_frame(spark, rows, C.VIOLATION_DDL)
            _mark("materialize-violations (driver)")
            break
        except Exception:  # noqa: BLE001 — scan aborts arrive as Py4J
            if _attempt == 2:  # wrappers with no partition attribution
                raise
            from .operators.infer import probe_partitions
            bad = probe_partitions(spark, catalog, snapshot_id, pending)
            if not bad:
                raise
            exclude(bad)
            inf = None
            violations = None
            df = None
            # the retry recomputes violations via the shuffle path even
            # when the clustered path had succeeded before the failure —
            # report the path that actually produced the final rows
            path_used = "fused"
            _mark(f"scan failure -> probe ({sorted(bad)} errored)")

    # -- persist (D2 second half), a true per-partition replace of the
    # driver rows: the write replaces only partitions present in them, so
    # a validated partition that came out clean (and -1, when this run
    # covered every manifest partition) is cleared AFTER the write — a
    # crash in between loses nothing.
    clear_snapshot_level = (set(pending) == set(all_parts)
                            and -1 not in counts)
    if (write_violations if write_violations is not None else write_audit):
        if rows:
            catalog.append_violations(rows, snapshot_id)
        cleared = set(pending) - set(counts)
        if clear_snapshot_level:
            cleared.add(-1)
        catalog.clear_violations(snapshot_id, sorted(cleared))
        _mark("persist violations")

    # -- verdicts: per-partition pass/fail + metrics (F4) ---------------------
    man = {p["partition_id"]: p for p in man_full["partitions"]}
    snapshot_level = counts.get(-1, 0)
    wall_ms = int((time.monotonic() - t0) * 1000)
    verdict_rows = []
    for pid in sorted(pending):
        n_v = counts.get(pid, 0)
        verdict_rows.append((
            snapshot_id, pid,
            "fail" if n_v > 0 else "pass",
            int(man[pid]["n_rows"]), int(n_v), wall_ms,
            json.dumps(inf.partition_states.get(pid, {}), sort_keys=True,
                       default=str),
        ))
    for pid in sorted(errors):
        # infrastructure failure (corrupt footer/page, unreadable file):
        # verdict='error' — by-value, the job continued; NOT counted as
        # completed, so resume re-validates exactly these after repair
        verdict_rows.append((
            snapshot_id, pid, "error", int(man[pid]["n_rows"]), 0, wall_ms,
            json.dumps({"error": errors[pid]})))
    if snapshot_level:
        # snapshot-scoped failures (drift, cross-partition schema merge)
        # get their own verdict row instead of being folded into every
        # partition's tally — one drift hit must not flip all partitions
        verdict_rows.append((snapshot_id, -1, "fail", 0,
                             int(snapshot_level), wall_ms, json.dumps({})))
    verdicts = local_frame(
        spark, verdict_rows,
        "snapshot_id string, partition_id int, verdict string, "
        "n_rows bigint, n_violations bigint, wall_ms bigint, state_json string")

    # -- audit append (D19): idempotent per-partition lineage -----------------
    _mark("verdicts")
    if write_audit:
        # a run that cleared the snapshot-level violations drops their
        # stored -1 verdict in the same write, or latest-wins keeps it
        catalog.append_audit(verdict_rows, snapshot_id,
                             drop=[-1] if clear_snapshot_level else ())
        _mark("audit")

    return ValidationResult(
        snapshot_id=snapshot_id,
        partitions=sorted(pending),
        table_schema=inf.table_schema,
        violations=violations,
        verdicts=verdicts,
        infer=inf,
        stats_thunk=_build_stats,
        errors=errors,
        check_path=path_used,
        skipped=skipped,
    )


def baseline_from_result(result: ValidationResult) -> Dict:
    """Turn a validated snapshot into the drift baseline for the next one:
    {column -> kll bytes} + {column -> IR schema}."""
    sketches = {}
    for r in result.snapshot_stats.select("column", "kll").collect():
        sketches[r.column] = bytes(r.kll) if r.kll is not None else None
    return {"sketches": sketches, "schema": result.table_schema}


def transition_baseline(spark: SparkSession, catalog: SnapshotCatalog,
                        snapshot_id: str) -> Dict:
    """Collect a validated snapshot's role-transition matrix as the
    structure baseline for ``validate(baseline_transitions=...)`` on the
    next snapshot — the dialogue-structure analog of
    ``baseline_from_result``'s value sketches."""
    from .operators.drift import transition_matrix
    return transition_matrix(catalog.read_snapshot(spark, snapshot_id))


def validate_replica(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    snapshot_id: str,
    reference_id: str,
    partitions: Optional[List[int]] = None,
    text_col: str = "text",
    partition_col: str = "bucket",
    write_violations: bool = False,
) -> DataFrame:
    """Copy/migration verification job: the north rule's per-row
    invariant — per-turn text equality under stable turn ordering —
    between a candidate snapshot (a migrated/replicated copy) and its
    reference, as standard violation rows. One row per failing turn:

    - ``replica_text_mismatch`` — the turn exists in both, texts differ
      (NULL vs NULL is equal; NULL vs text is a mismatch)
    - ``replica_missing_turn``  — the reference has the turn, the copy
      lost it
    - ``replica_extra_turn``    — the copy has a turn the reference
      never had

    Run it as a post-migration gate, on the whole snapshot or on a
    slice (``partitions=...``).

    Plan (operators/checks.turn_text_diff): each side reduces map-side
    to (bucket, conv_id, turn_idx, md5, is_null), so the full-outer
    join's exchange carries 16-byte digests per turn, never transcript
    payload; joining on ``partition_col`` too keeps attribution exact
    and, with both snapshots written under the same conv_id bucketing
    (the catalog guarantees this), keeps the join co-partitioned.
    Duplicate (conv_id, turn_idx) keys — the F1 planted anomaly shape,
    which turn_text_diff's unique-key contract excludes — compare as
    MULTISETS: each side first folds to one sorted-digest-of-digests
    row per key (the fold's hash partitioning is the join's own
    exchange, so robustness costs zero extra shuffle), so a copy that
    preserved the duplicates byte-for-byte is clean and one that
    dropped or altered any copy of a duplicated turn mismatches.

    ``write_violations=True`` persists the rows to a store of their
    OWN, keyed by (snapshot, reference) — NOT the candidate's
    validate() store: the store's per-partition dynamic overwrite
    assumes one writer produces all of a partition's rows, so sharing
    it would let a replica run wipe validate()'s persisted violations
    for any partition with a replica finding (and vice versa). A full
    run (``partitions=None``) replaces the pair's store wholesale, so
    the read-back is exactly this run's findings; a ``partitions=``
    subset run overwrites only those partitions' rows (other
    partitions' earlier findings for the SAME pair remain)."""
    keys = [partition_col, "conv_id", "turn_idx"]
    cols = keys + [text_col]
    row_dig = F.md5(F.coalesce(F.col(text_col), F.lit("\x00")))

    def _multiset(df: DataFrame) -> DataFrame:
        return (df.groupBy(*keys)
                .agg(F.concat_ws("\x1f", F.array_sort(
                    F.collect_list(row_dig))).alias(text_col)))

    left = _multiset(
        catalog.read_snapshot(spark, snapshot_id, partitions).select(*cols))
    right = _multiset(
        catalog.read_snapshot(spark, reference_id, partitions).select(*cols))
    d = C.turn_text_diff(left, right, keys=keys, text_col=text_col)
    check_id = (F.when(F.col("status") == "text_mismatch",
                       F.lit("replica_text_mismatch"))
                 .when(F.col("status") == "missing_left",
                       F.lit("replica_missing_turn"))
                 .otherwise(F.lit("replica_extra_turn")))
    payload = F.to_json(F.struct(
        F.lit(reference_id).alias("reference_id"),
        F.col("left_md5").alias("copy_md5"),
        F.col("right_md5").alias("reference_md5")))
    shaped = d.select(
        F.lit(snapshot_id).alias("snapshot_id"),
        F.col(partition_col).cast("int").alias("partition_id"),
        check_id.alias("check_id"),
        F.lit(None).cast("string").alias("mgu_failure"),
        F.lit(None).cast("string").alias("schema_1"),
        F.lit(None).cast("string").alias("schema_2"),
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("bigint").alias("turn_idx"),
        payload.alias("payload"))
    if write_violations:
        import shutil

        # one row per failing turn is not violation-sized, so unlike the
        # catalog's driver-side stores this one is written and read by
        # Spark, in the same hive layout
        store_id = f"{snapshot_id}--replica--{reference_id}"
        store = catalog._violations_dir(store_id)
        if partitions is None:
            shutil.rmtree(store, ignore_errors=True)
        else:
            # dynamic partition overwrite only replaces partitions
            # PRESENT in the written frame: a re-verified partition
            # whose findings dropped to zero (the replica was repaired
            # in place) writes nothing and would read back its stale
            # rows as still-divergent — so the requested partitions'
            # dirs are cleared explicitly first, making the subset run
            # a true per-partition replace
            catalog.clear_violations(store_id, partitions)
        (shaped.drop("snapshot_id").repartition(1).write
         .option("partitionOverwriteMode", "dynamic").mode("overwrite")
         .partitionBy("partition_id").parquet(store))
        shaped = (spark.read.schema(C.VIOLATION_DDL.split(", ", 1)[1])
                  .option("basePath", store).parquet(store)
                  .select(F.lit(snapshot_id).alias("snapshot_id"),
                          *C.VIOLATION_COLS[1:]))
    return C.stable_order(shaped)
