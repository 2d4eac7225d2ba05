"""Exact drift on the baseline's bin edges: the current side is counted,
not sketched, so a snapshot and a baseline give one drift payload in
every run, on both check paths, and after a crash-resume."""

import json

import pytest
from pyspark.sql import functions as F

from schema_inference_spark.operators import checks as C
from schema_inference_spark.operators.clustered import (
    META_CHECK,
    check_rowlevel_clustered,
    native_rows,
    reader_meta,
)
from schema_inference_spark.operators.drift import (
    baseline_bins,
    drift_violations,
)
from schema_inference_spark.pipeline import (
    ROLE_VOCAB,
    TOOL_VOCAB,
    baseline_from_result,
    validate,
)
from schema_inference_spark.sources.catalog import SnapshotCatalog
from schema_inference_spark.sources.transcripts import (
    generate_turns,
    write_snapshot,
)

COLS = ("text_len", "turn_idx", "ts")


@pytest.fixture(scope="module")
def base(spark, catalog):
    """s1's drift baseline: {column: KLL sketch} from its full profile."""
    r = validate(spark, catalog, "s1", resume=False, write_audit=False)
    return baseline_from_result(r)["sketches"]


def _drift(result):
    return [x.payload for x in result.violations.collect()
            if x.check_id == "drift_psi"]


def _verdicts(result):
    return sorted((v.partition_id, v.verdict, v.n_violations)
                  for v in result.verdicts.collect())


def test_exact_cdf_equals_kll_rank_below_k(spark, base, tmp_path):
    """On fewer values than the KLL sketch's k, KLL keeps every item and
    its rank is exact: the counts both readers take at the baseline's
    edges give exactly ``kll_sketch_get_rank_double`` there, for a
    derived column (``text_len`` = Spark ``length(text)``), an integer
    column and a timestamp column (epoch seconds)."""
    root = str(tmp_path)
    write_snapshot(root, "tiny", generate_turns(n_conv=8, seed=5),
                   n_buckets=2)
    cat = SnapshotCatalog(root)
    parts = cat.partition_ids("tiny")
    df = cat.read_snapshot(spark, "tiny")
    assert 0 < df.count() < 200  # Spark's KLL default k
    bins, skipped = baseline_bins(spark, {c: base[c] for c in COLS})
    assert sorted(bins) == sorted(COLS) and not skipped

    _, clu = check_rowlevel_clustered(spark, cat, "tiny", parts, ROLE_VOCAB,
                                      TOOL_VOCAB, drift_bins=bins)
    rows = C.check_rowlevel_fused(
        native_rows(spark, cat, "tiny", parts, [], bins), "tiny",
        ROLE_VOCAB, TOOL_VOCAB).collect()
    _, fus, errors = reader_meta((r.partition_id, r.payload) for r in rows
                                 if r.check_id == META_CHECK)
    assert clu == fus and not errors

    values = {"text_len": F.length("text").cast("double"),
              "turn_idx": F.col("turn_idx").cast("double"),
              "ts": F.col("ts").cast("double")}
    sk = df.select(*[F.kll_sketch_agg_double(values[c]).alias(c)
                     for c in COLS]).first()
    for c in COLS:
        edges = bins[c][0]
        n, le = clu[c]
        assert n == df.filter(values[c].isNotNull()).count(), c
        rank = spark.range(1).select(F.kll_sketch_get_rank_double(
            F.lit(bytearray(sk[c])),
            F.array(*[F.lit(e) for e in edges]))).first()[0]
        assert [x / n for x in le] == rank, c


def test_drift_payload_is_identical_over_runs_and_a_crash_resume(
        spark, catalog, fixture_root, base, monkeypatch):
    """Five validations of one snapshot, and one more after a crash that
    left every partition pending, give byte-identical drift payloads and
    verdicts (a randomized current-side sketch gave a different PSI in
    every build)."""
    runs = [validate(spark, catalog, "s4", baseline_sketches=base,
                     resume=False, write_audit=False) for _ in range(5)]
    first = (_drift(runs[0]), _verdicts(runs[0]))
    assert len(first[0]) == 1 and json.loads(first[0][0])["psi"] > 0.25
    assert all((_drift(r), _verdicts(r)) == first for r in runs[1:])

    cat = SnapshotCatalog(fixture_root,
                          audit_root=f"{fixture_root}/_audit_exact_drift",
                          violations_root=f"{fixture_root}/_vstore_exact_"
                                          "drift")

    def crash(*a, **kw):
        raise RuntimeError("killed before the audit write")

    with monkeypatch.context() as m:
        m.setattr(SnapshotCatalog, "append_audit", crash)
        with pytest.raises(RuntimeError, match="killed"):
            validate(spark, cat, "s4", baseline_sketches=base)
    resumed = validate(spark, cat, "s4", baseline_sketches=base)
    assert resumed.partitions == cat.partition_ids("s4")
    assert (_drift(resumed), _verdicts(resumed)) == first
    stored = cat.read_violations(spark, "s4", partitions=[-1]).collect()
    assert [x.payload for x in stored] == first[0]


def test_corrupt_baseline_sketch_skips_only_its_column(spark, catalog,
                                                       base):
    """An unreadable baseline sketch is skipped, and reported, for its
    own column; the drifting column next to it still yields its row."""
    bad = {"text_len": base["text_len"], "turn_idx": b"\x00not a sketch"}
    r = validate(spark, catalog, "s4", baseline_sketches=bad,
                 resume=False, write_audit=False, clustered_checks=False)
    assert [json.loads(p)["column"] for p in _drift(r)] == ["text_len"]
    assert list(r.skipped) == ["drift_psi:turn_idx"]
    assert "unreadable" in r.skipped["drift_psi:turn_idx"]


def test_column_without_current_values_is_skipped():
    """A compared column with no non-null current value is skipped by
    name, not divided by zero."""
    bins = {"a": ([1.0, 2.0], [0.0, 0.5, 0.9, 1.0]),
            "b": ([1.0], [0.0, 0.5, 1.0])}
    rows, skipped = drift_violations("s", bins, {"a": (0, [0, 0])})
    assert rows == []
    assert skipped == {"a": "no non-null current values",
                       "b": "no non-null current values"}
