"""Check registry + contract conformance (the :def / :protocol-invoke /
:ABS-signature analogs, SURVEY.md §2.B)."""

import pytest

from schema_inference_spark.plans.registry import (
    TRANSCRIPTS_CONTRACT,
    CheckRegistry,
)


def fn_sig(children, output):
    return {"type": "=>", "input": {"type": "cat", "children": children},
            "output": output}


INT = {"type": "int"}
BOOL = {"type": "boolean"}


def test_register_binds_env():
    reg = CheckRegistry()
    reg.register("c1", fn_sig([INT], BOOL), lambda df, sid: df)
    assert reg.env["c1"] == fn_sig([INT], BOOL)


def test_register_rejects_duplicate():
    # one signature per check (ref: multi-arity throws, algo_w.clj:148-149)
    reg = CheckRegistry()
    reg.register("c1", fn_sig([INT], BOOL), lambda df, sid: df)
    with pytest.raises(ValueError, match="already registered"):
        reg.register("c1", fn_sig([INT], INT), lambda df, sid: df)


def test_register_typechecks_body():
    reg = CheckRegistry()
    # body: (fn [x] (pos x)) with pos : int -> boolean
    reg.env["pos"] = fn_sig([INT], BOOL)
    body = {"op": "abs", "params": ["x"],
            "body": {"op": "app", "fn": {"op": "var", "sym": "pos"},
                     "args": [{"op": "var", "sym": "x"}]}}
    reg.register("ok", fn_sig([INT], BOOL), lambda df, sid: df,
                 body_expr=body)
    # declared output string does not unify with inferred boolean
    with pytest.raises(ValueError, match="does not unify"):
        reg.register("bad", fn_sig([INT], {"type": "string"}),
                     lambda df, sid: df, body_expr=body)


def test_conformance_gate():
    reg = CheckRegistry()
    good = dict(TRANSCRIPTS_CONTRACT)
    assert reg.conforms(good, snapshot_id="s") == []
    # missing column
    missing = {k: v for k, v in good.items() if k != "ts"}
    v = reg.conforms(missing, snapshot_id="s")
    assert len(v) == 1 and "var_not_found" in v[0]["payload"]
    # wrong type: turn_idx as string is NOT a sub-schema of int
    bad = dict(good)
    bad["turn_idx"] = {"type": "string"}
    v = reg.conforms(bad, snapshot_id="s")
    assert len(v) == 1 and v[0]["check_id"] == "contract"
    # non-nullable variant conforms to nullable contract column
    denser = dict(good)
    denser["tool"] = {"type": "string"}
    assert reg.conforms(denser, snapshot_id="s") == []
    # all-NULL (scheme) column passes by instantiation
    unresolved = dict(good)
    unresolved["tool"] = {"type": "scheme", "s_vars": ["t0"],
                          "body": {"type": "maybe",
                                   "child": {"type": "s-var", "sym": "t0"}}}
    assert reg.conforms(unresolved, snapshot_id="s") == []


def test_validate_with_contract(spark, catalog):
    from schema_inference_spark.pipeline import validate
    from schema_inference_spark.plans.registry import TRANSCRIPTS_CONTRACT
    r = validate(spark, catalog, "s1", contract=TRANSCRIPTS_CONTRACT,
                 write_audit=False)
    assert r.violations.filter("check_id='contract'").count() == 0
    # s2's turn_idx merge failure is reported as schema_merge, not contract
    r2 = validate(spark, catalog, "s2", contract=TRANSCRIPTS_CONTRACT,
                  write_audit=False)
    assert r2.violations.filter("check_id='schema_merge'").count() == 1
    assert r2.violations.filter("check_id='contract'").count() == 0


# --- winnowing fingerprints (rolling-hash doc fingerprinting) ---------------

def test_winnow_properties(spark):
    from schema_inference_spark.operators.textstats import (
        winnow_fingerprints,
        winnow_similar_pairs,
    )
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    df = spark.createDataFrame([
        (1, shared + " kilo lima mike"),
        (2, "zulu yankee " + shared),          # shares a 10-token run
        (3, shared + " kilo lima mike"),       # identical to 1
        (4, "whiskey victor uniform tango sierra romeo papa"),
    ], "doc_id bigint, text string")
    fps = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc, set()).add(r.fp)
    # identical docs -> identical fingerprint sets
    assert by_doc[1] == by_doc[3]
    # a shared run of >= k+window-1 tokens shares >= 1 fingerprint
    assert by_doc[1] & by_doc[2]
    # unrelated doc shares nothing
    assert not (by_doc[1] & by_doc[4])
    pairs = {(r.d1, r.d2): r.n_shared
             for r in winnow_similar_pairs(df, min_shared=1).collect()}
    assert (1, 3) in pairs and (1, 2) in pairs and (1, 4) not in pairs
