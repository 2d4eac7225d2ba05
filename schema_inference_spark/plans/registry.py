"""Typed check registry + table-contract conformance gate.

Operationalizes three reference rules (SURVEY.md §2.B):

- ``:def`` (algo_w.clj:130-135): registering a named check binds
  {name -> inferred schema} into the environment — here, ``register``
  type-checks a check's declared ``:=>`` signature with Algorithm W
  before admitting it (one signature per check; overloading is
  unsupported in the reference too, algo_w.clj:148-149).
- ``:ABS`` typed signatures (algo_w.clj:75-90): a check body given as an
  expression IR gets its schema inferred and unified against the
  declaration — mismatches are failures at registration time, not at
  run time on the cluster.
- ``:protocol-invoke`` (algo_w.clj:223-248, the only caller of
  sub-schema?): before running checks, ``conforms`` gates the table
  against the transcripts contract via structural sub-schema — "does this
  table satisfy the contract" = the reference's must-extend-protocol
  check, with a violation row instead of an exception.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional

from ..ir.algo_w import algo_w
from ..ir.schema_ir import instantiate, is_failure, mgu, schema_to_json
from ..ir.subschema import sub_schema

Schema = Dict[str, Any]

# the transcripts contract (input_hint shape) as engine IR — the
# "protocol" tables must extend before validation runs
TRANSCRIPTS_CONTRACT: Dict[str, Schema] = {
    "conv_id": {"type": "string"},
    "turn_idx": {"type": "int"},
    "role": {"type": "string"},
    "text": {"type": "string"},
    "tool": {"type": "maybe", "child": {"type": "string"}},
    "ts": {"type": "timestamp"},
}


@dataclass
class RegisteredCheck:
    name: str
    signature: Schema                      # a :=> schema
    fn: Callable                           # (DataFrame, snapshot_id) -> DataFrame
    doc: str = ""


@dataclass
class CheckRegistry:
    env: Dict[str, Schema] = field(default_factory=dict)
    checks: Dict[str, RegisteredCheck] = field(default_factory=dict)

    def register(self, name: str, signature: Schema, fn: Callable,
                 body_expr: Optional[Dict[str, Any]] = None,
                 doc: str = "") -> RegisteredCheck:
        """Admit a named check. One signature per name (ref throws on
        multi-arity, algo_w.clj:148-149); if a body expression is supplied
        its inferred schema must unify with the declaration.
        """
        if name in self.checks:
            raise ValueError(f"check {name!r} already registered "
                             "(one signature per check)")
        if signature.get("type") not in ("=>", "scheme"):
            raise ValueError(f"check {name!r}: signature must be a :=> "
                             "schema or a scheme over one")
        if body_expr is not None:
            inferred = algo_w(body_expr, dict(self.env))
            if "failure" in inferred:
                raise ValueError(
                    f"check {name!r}: body inference failed: "
                    f"{inferred['failure']!r}")
            u = mgu(instantiate(signature), inferred["schema"])
            if is_failure(u):
                raise ValueError(
                    f"check {name!r}: declared signature does not unify "
                    f"with body schema: {u!r}")
        # the :def rule: bind name -> schema into the environment
        self.env[name] = signature
        rc = RegisteredCheck(name, signature, fn, doc)
        self.checks[name] = rc
        return rc

    def conforms(self, table_schema: Dict[str, Schema],
                 contract: Optional[Dict[str, Schema]] = None,
                 snapshot_id: str = "") -> List[Dict[str, Any]]:
        """Protocol-conformance gate: every contract column must exist and
        its inferred schema must be a structural sub-schema of the
        contract's. Returns violation rows (empty = conforms)."""
        contract = contract or TRANSCRIPTS_CONTRACT
        out: List[Dict[str, Any]] = []
        for col, want in sorted(contract.items()):
            got = table_schema.get(col)
            if got is None:
                out.append(_violation(snapshot_id, "contract",
                                      None, schema_to_json(want),
                                      {"column": col, "error": "var_not_found"}))
                continue
            body = got["body"] if got.get("type") == "scheme" else got
            if got.get("type") == "scheme" or body.get("type") == "s-var":
                # unresolved column (all-NULL): compatible by instantiation
                continue
            if is_failure(body):
                continue  # already reported as schema_merge
            if not sub_schema(body, want):
                out.append(_violation(snapshot_id, "contract",
                                      schema_to_json(body),
                                      schema_to_json(want),
                                      {"column": col}))
        return out

    def run(self, df, snapshot_id: str,
            names: Optional[List[str]] = None) -> List:
        """Run registered checks (all, or a subset) -> list of violation
        DataFrames. Checks never raise on data errors."""
        picked = names or sorted(self.checks)
        return [self.checks[n].fn(df, snapshot_id) for n in picked]


def _violation(snapshot_id: str, check_id: str, s1, s2, payload) -> Dict:
    return {
        "snapshot_id": snapshot_id, "partition_id": -1,
        "check_id": check_id, "mgu_failure": "non_equal",
        "schema_1": s1, "schema_2": s2,
        "conv_id": None, "turn_idx": None,
        "payload": json.dumps(payload, sort_keys=True),
    }
