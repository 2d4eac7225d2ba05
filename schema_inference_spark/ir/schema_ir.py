"""Pure-Python schema algebra — the engine's semantic core.

Re-implements (from scratch, in Python, over plain dicts) the schema algebra
the reference defines over Malli map-syntax schemas:

- ground canonicalization        (ref: impl/ground.clj:3-31)
- free-type-vars / -env          (ref: impl/util.clj:13-49)
- substitute / substitute-env    (ref: impl/util.clj:55-102)
- compose-substitutions          (ref: impl/util.clj:106-113)
- instantiate / generalize       (ref: impl/util.clj:117-137)
- mgu (most general unifier) with the five failure kinds
                                 (ref: impl/util.clj:142-250)

Schema IR shapes (mirroring the reference's map-syntax 1:1 so its golden
test vectors translate mechanically):

- ground:     {"type": "<name>"}              e.g. {"type": "int"}
- s-var:      {"type": "s-var", "sym": "T"}
- scheme:     {"type": "scheme", "s_vars": ["a", ...], "body": <schema>}
- unary ctor: {"type": "vector"|"set"|"sequential"|"maybe", "child": <schema>}
- n-ary ctor: {"type": "tuple"|"cat", "children": [<schema>, ...]}
- map-of:     {"type": "map-of", "key": <schema>, "value": <schema>}
- fn schema:  {"type": "=>", "input": <cat>, "output": <schema>}
- enum:       {"type": "enum", "values": [...]}           (sub-schema spec)
- or / and:   {"type": "or"|"and", "children": [...]}     (sub-schema spec)
- map/struct: {"type": "map", "entries": {name: <schema>}, "optional": [..]}

Failures are data, never exceptions (ref invariant: algo_w.clj:9-11; only
the API boundary throws, algo_w.clj:16-17):

    {"mgu_failure": "non_equal" | "occurs_check" | "mismatched_schema_ctor"
                    | "mismatched_arity" | "non_positional_args",
     "schema_1": <schema>, "schema_2": <schema>}
"""

from __future__ import annotations

import itertools
import json
from typing import Any, Dict, Iterable, Optional, Set

Schema = Dict[str, Any]
Subs = Dict[str, Schema]

# ---------------------------------------------------------------------------
# Ground types (ref: impl/ground.clj)
# ---------------------------------------------------------------------------

_GROUND_ALIASES = {
    # integer widths collapse (ground.clj:18-21)
    "byte": "int", "short": "int", "integer": "int", "long": "int",
    "int8": "int", "int16": "int", "int32": "int", "int64": "int",
    "uint8": "int", "uint16": "int", "uint32": "int", "uint64": "int",
    "bigint": "int",
    # floats keep their widths (ground.clj:22-23)
    "float32": "float", "float64": "double", "real": "float",
    # misc
    "str": "string", "varchar": "string", "text": "string",
    "bool": "boolean", "binary": "bytes", "null": "nil", "none": "nil",
    "timestamp_ntz": "timestamp", "datetime": "timestamp",
    "some": "any", "object": "any",
}

CTOR_TYPES = {
    "vector", "set", "sequential", "maybe", "tuple", "cat", "map-of",
    "=>", "s-var", "scheme", "enum", "or", "and", "map",
}

UNARY_CTORS = ("vector", "set", "sequential", "maybe")
NARY_CTORS = ("tuple", "cat")


def canonical_ground_name(name: str) -> str:
    """Canonicalize a ground type alias (ref: ground.clj:3-12 canonical-ground)."""
    n = name.lower()
    return _GROUND_ALIASES.get(n, n)


def ground(name: str) -> Schema:
    return {"type": canonical_ground_name(name)}


def s_var(sym: str) -> Schema:
    return {"type": "s-var", "sym": sym}


def maybe(child: Schema) -> Schema:
    return {"type": "maybe", "child": child}


def scheme(s_vars: Iterable[str], body: Schema) -> Schema:
    return {"type": "scheme", "s_vars": list(s_vars), "body": body}


def is_ground(schema: Schema) -> bool:
    """Is the schema atomic? (ref: util.clj:5-9 ground?)

    One-entry map whose type is not a constructor and not an s-var.
    """
    return (
        isinstance(schema, dict)
        and len(schema) == 1
        and isinstance(schema.get("type"), str)
        and schema["type"] not in CTOR_TYPES
    )


def canonical_ground(schema: Schema) -> Schema:
    if is_ground(schema):
        return {"type": canonical_ground_name(schema["type"])}
    return schema


def is_failure(x: Any) -> bool:
    """mgu-failure? (ref: util.clj:153-155)."""
    return isinstance(x, dict) and x.get("mgu_failure") is not None


def _fail(kind: str, a: Schema, b: Schema) -> Schema:
    return {"mgu_failure": kind, "schema_1": a, "schema_2": b}


# ---------------------------------------------------------------------------
# Free type variables (ref: util.clj:13-49)
# ---------------------------------------------------------------------------

def free_type_vars(schema: Schema) -> Set[str]:
    t = schema.get("type")
    if t == "s-var":
        return {schema["sym"]}
    if t in UNARY_CTORS:
        return free_type_vars(schema["child"])
    if t in NARY_CTORS or t in ("or", "and"):
        out: Set[str] = set()
        for c in schema.get("children", ()):
            out |= free_type_vars(c)
        return out
    if t == "map-of":
        return free_type_vars(schema["key"]) | free_type_vars(schema["value"])
    if t == "=>":
        return free_type_vars(schema["input"]) | free_type_vars(schema["output"])
    if t == "scheme":
        # a scheme's bound vars are not free (ref: util.clj:39-41)
        return free_type_vars(schema["body"]) - set(schema["s_vars"])
    if t == "map":
        out = set()
        for c in schema.get("entries", {}).values():
            out |= free_type_vars(c)
        return out
    return set()


def free_type_vars_env(env: Dict[str, Schema]) -> Set[str]:
    out: Set[str] = set()
    for s in env.values():
        out |= free_type_vars(s)
    return out


# ---------------------------------------------------------------------------
# Substitution (ref: util.clj:55-113)
# ---------------------------------------------------------------------------

def substitute(subs: Subs, schema: Schema) -> Schema:
    t = schema.get("type")
    if t == "s-var":
        return subs.get(schema["sym"], schema)
    if t in UNARY_CTORS:
        return {"type": t, "child": substitute(subs, schema["child"])}
    if t in NARY_CTORS or t in ("or", "and"):
        return {"type": t,
                "children": [substitute(subs, c) for c in schema["children"]]}
    if t == "map-of":
        return {"type": "map-of", "key": substitute(subs, schema["key"]),
                "value": substitute(subs, schema["value"])}
    if t == "=>":
        return {"type": "=>", "input": substitute(subs, schema["input"]),
                "output": substitute(subs, schema["output"])}
    if t == "scheme":
        # bound vars shadow the substitution (ref: util.clj:92-94,
        # golden util_test.clj:46-52)
        inner = {k: v for k, v in subs.items() if k not in schema["s_vars"]}
        return {"type": "scheme", "s_vars": list(schema["s_vars"]),
                "body": substitute(inner, schema["body"])}
    if t == "map":
        out = dict(schema)
        out["entries"] = {k: substitute(subs, v)
                          for k, v in schema.get("entries", {}).items()}
        return out
    # ground: canonicalize aliases on the way through (ref: util.clj:57-58)
    return canonical_ground(schema)


def substitute_env(subs: Subs, env: Dict[str, Schema]) -> Dict[str, Schema]:
    return {k: substitute(subs, v) for k, v in env.items()}


def compose_substitutions(subs1: Subs, subs2: Subs) -> Subs:
    """subs1 ∘ subs2 (ref: util.clj:106-113).

    Applies subs1 to subs2's values; entries from (substituted) subs2
    override subs1 on key collision — matches the reference's
    ``(into subs1 ...)`` and golden util_test.clj:73-84.
    """
    out = dict(subs1)
    for k, v in subs2.items():
        out[k] = substitute(subs1, v)
    return out


# ---------------------------------------------------------------------------
# Instantiate / generalize (ref: util.clj:117-137)
# ---------------------------------------------------------------------------

_fresh_counter = itertools.count()


def fresh_var(prefix: str = "s-") -> Schema:
    """Engine gensym (ref gensym use: util.clj:121, algo_w.clj:43,81)."""
    return {"type": "s-var", "sym": f"{prefix}{next(_fresh_counter)}"}


def reset_fresh_counter() -> None:
    """Deterministic tests/output: reset the gensym counter."""
    global _fresh_counter
    _fresh_counter = itertools.count()


def instantiate(schema: Schema) -> Schema:
    """Replace a scheme's bound vars with fresh ones (ref: util.clj:117-125)."""
    if schema.get("type") != "scheme":
        return schema
    subs = {v: fresh_var() for v in schema["s_vars"]}
    return substitute(subs, schema["body"])


def generalize(env: Dict[str, Schema], schema: Schema) -> Schema:
    """Quantify free vars not free in env (ref: util.clj:129-137)."""
    schema = instantiate(schema)
    svars = free_type_vars(schema) - free_type_vars_env(env)
    if not svars:
        return schema
    return {"type": "scheme", "s_vars": sorted(svars), "body": schema}


def normalize_svars(schema: Schema) -> Schema:
    """Rename s-vars to canonical t0,t1,... in first-occurrence order.

    Output determinism requirement (north_rule byte-for-byte violation rows):
    fresh gensym names must never leak into emitted artifacts — the
    reference's analogous normalization is the sorted s-var list at
    util.clj:136.
    """
    mapping: Dict[str, str] = {}

    def walk(s: Schema) -> Schema:
        t = s.get("type")
        if t == "s-var":
            sym = s["sym"]
            if sym not in mapping:
                mapping[sym] = f"t{len(mapping)}"
            return {"type": "s-var", "sym": mapping[sym]}
        if t in UNARY_CTORS:
            return {"type": t, "child": walk(s["child"])}
        if t in NARY_CTORS or t in ("or", "and"):
            return {"type": t, "children": [walk(c) for c in s["children"]]}
        if t == "map-of":
            return {"type": "map-of", "key": walk(s["key"]),
                    "value": walk(s["value"])}
        if t == "=>":
            return {"type": "=>", "input": walk(s["input"]),
                    "output": walk(s["output"])}
        if t == "scheme":
            body = walk(s["body"])
            return {"type": "scheme",
                    "s_vars": sorted(mapping[v] for v in s["s_vars"]
                                     if v in mapping),
                    "body": body}
        if t == "map":
            out = dict(s)
            out["entries"] = {k: walk(v) for k, v in s.get("entries", {}).items()}
            return out
        return s

    return walk(schema)


def schema_to_json(schema: Schema) -> str:
    """Canonical sorted-key JSON used in violation rows (FIXTURES.md F5)."""
    return json.dumps(schema, sort_keys=True, separators=(",", ":"),
                      default=str)


# ---------------------------------------------------------------------------
# Most General Unifier (ref: util.clj:142-250)
# ---------------------------------------------------------------------------

def _bind_var(var: Schema, schema: Schema) -> Schema:
    """ref: util.clj bind-var (occurs check at :171-175)."""
    if var == schema:
        return {}
    if var["sym"] in free_type_vars(schema):
        return _fail("occurs_check", var, schema)
    return {var["sym"]: schema}


def _mgu_ctor1(a: Schema, b: Schema) -> Schema:
    if a["type"] != b["type"]:
        return _fail("mismatched_schema_ctor", a, b)
    return mgu(a["child"], b["child"])


def _mgu_ctorN(a: Schema, b: Schema) -> Schema:
    if a["type"] != b["type"]:
        return _fail("mismatched_schema_ctor", a, b)
    ac, bc = a["children"], b["children"]
    if len(ac) != len(bc):
        return _fail("mismatched_arity", a, b)
    subs: Subs = {}
    # left-to-right with substitution threading (ref: util.clj:205-216)
    for ca, cb in zip(ac, bc):
        r = mgu(substitute(subs, ca), substitute(subs, cb))
        if is_failure(r):
            return r
        subs = compose_substitutions(r, subs)
    return subs


def mgu(a: Schema, b: Schema) -> Schema:
    """Most general unifier: substitution dict, or failure dict.

    Dispatch precedence mirrors the reference (util.clj:142-151):
    [maybe maybe] before the s-var cases; unmatched type pairs fall to
    strict equality (non_equal) — the reference never widens.
    """
    at, bt = a.get("type"), b.get("type")
    if at == "maybe" and bt == "maybe":
        return _mgu_ctor1(a, b)
    if at == "s-var":
        return _bind_var(a, b)
    if bt == "s-var":
        return _bind_var(b, a)
    if at == bt:
        if at in UNARY_CTORS:
            return _mgu_ctor1(a, b)
        if at in NARY_CTORS:
            return _mgu_ctorN(a, b)
        if at == "map-of":
            # key first, then value under the key substitution
            # (ref: util.clj:221-228)
            ks = mgu(a["key"], b["key"])
            if is_failure(ks):
                return ks
            vs = mgu(substitute(ks, a["value"]), substitute(ks, b["value"]))
            if is_failure(vs):
                return vs
            return compose_substitutions(vs, ks)
        if at == "=>":
            # positional-only (ref: util.clj:230-242)
            if a["input"].get("type") != "cat" or b["input"].get("type") != "cat":
                return _fail("non_positional_args", a, b)
            in_s = mgu(a["input"], b["input"])
            if is_failure(in_s):
                return in_s
            out_s = mgu(substitute(in_s, a["output"]),
                        substitute(in_s, b["output"]))
            if is_failure(out_s):
                return out_s
            return compose_substitutions(out_s, in_s)
        if at == "map":
            # engine extension: struct unification — same keys, pointwise
            ak, bk = set(a.get("entries", {})), set(b.get("entries", {}))
            if ak != bk:
                return _fail("mismatched_arity", a, b)
            subs: Subs = {}
            for k in sorted(ak):
                r = mgu(substitute(subs, a["entries"][k]),
                        substitute(subs, b["entries"][k]))
                if is_failure(r):
                    return r
                subs = compose_substitutions(r, subs)
            return subs
    # default: strict equality after ground canonicalization
    # (ref: util.clj:244-250) — ints never silently merge with doubles
    ca, cb = canonical_ground(a), canonical_ground(b)
    if ca == cb:
        return {}
    return _fail("non_equal", a, b)


def unify_or_failure(a: Schema, b: Schema) -> Schema:
    """Unify two schemas and return the merged (substituted) schema, or the
    failure object. This is the cross-partition column-merge combine
    (SURVEY.md §2.A mgu row): strict — a partition of longs does not
    silently merge with a partition of doubles.
    """
    r = mgu(a, b)
    if is_failure(r):
        return r
    return substitute(r, a)


def merge_column_schema(a: Optional[Schema], b: Optional[Schema]) -> Schema:
    """Associative merge used inside the stats-monoid combiner.

    ``None`` is the monoid identity (no observations). A previously-failed
    merge stays failed (failures absorb — by-value propagation, ref
    algo_w.clj:9-11).
    """
    if a is None:
        return b  # type: ignore[return-value]
    if b is None:
        return a
    if is_failure(a):
        return a
    if is_failure(b):
        return b
    return unify_or_failure(a, b)
