"""Every package module is reachable from an entry point: the engine
(``pipeline``, ``functions``), the deployed job (``submit_validate.py``)
or the Spark entry contract (``__spark_entry__.py``). Imports are walked with
``ast``, function-local ones included, so a module nothing can run fails
here instead of growing back unnoticed. No JVM needed."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "schema_inference_spark"

def _path(mod):
    base = os.path.join(ROOT, *mod.split("."))
    for p in (os.path.join(base, "__init__.py"), base + ".py"):
        if os.path.isfile(p):
            return p
    return None


def _imports(path, mod):
    pkg = mod.split(".")[:None if path.endswith("__init__.py") else -1]
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = ".".join(pkg[:len(pkg) - node.level + 1] + [node.module or ""]
                            if node.level else [node.module])
            names = [base.strip(".")] + [f"{base.strip('.')}.{a.name}"
                                         for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            # every prefix is imported too (a package's __init__ runs)
            yield from (".".join(parts[:i]) for i in range(1, len(parts) + 1))


def test_every_package_module_is_reachable():
    todo = [f"{PKG}.pipeline", f"{PKG}.functions", "submit_validate",
            "__spark_entry__"]
    seen = set()
    while todo:
        mod = todo.pop()
        path = _path(mod)
        if mod in seen or path is None:
            continue
        seen.add(mod)
        todo += [m for m in _imports(path, mod) if m.split(".")[0] == PKG]
    reached = {_path(m) for m in seen}
    every = {os.path.join(d, f)
             for d, _, files in os.walk(os.path.join(ROOT, PKG))
             for f in files if f.endswith(".py")}
    unreached = sorted(os.path.relpath(p, ROOT) for p in every - reached)
    assert unreached == []


# The Spark entry contract's own functions, called by name from outside.
CONTRACT = {"entry", "queries", "oracle_sql"}


def _py_files(*tops):
    for top in tops:
        top = os.path.join(ROOT, top)
        if top.endswith(".py"):
            yield top
            continue
        for d, _, files in os.walk(top):
            yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def _defined(stmt):
    """Names a top-level statement defines."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return {stmt.name}
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign)
               else [])
    return {n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name)}


def _referenced(node):
    """Identifiers ``node`` reads: names, attributes, imported names and
    identifier strings (perfbench patches functions named in strings)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.split(".")[-1]
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            yield n.value


def test_every_package_definition_is_referenced():
    """Every top-level def, class and module-level name of the package is
    referenced outside its own definition by the package, the entry
    points, the tests or perfbench; a cut that leaves an operator nothing
    calls fails here. Names are matched by identifier, not by scope."""
    covered = set(_py_files(PKG, "__spark_entry__.py"))
    defs, refs = [], set()
    for path in _py_files(PKG, "__spark_entry__.py", "submit_validate.py",
                          "tests", "perfbench"):
        for stmt in ast.parse(open(path).read()).body:
            own = _defined(stmt)
            if path in covered:
                rel = os.path.relpath(path, ROOT)
                defs += [(rel, name) for name in own
                         if not (name.startswith("__") and name.endswith("__"))
                         and not (rel == "__spark_entry__.py"
                                  and name in CONTRACT)]
            refs |= set(_referenced(stmt)) - own
    assert sorted(d for d in defs if d[1] not in refs) == []


# Every knob the deployed code reads, each justified where it is read:
# SPARK_GRAFT_CPUS  deployment override of local[N] (functions/session.py)
# SPARK_GRAFT_DRIVER_MEM  explicit driver heap; perfbench pins 3g
# SPARK_GRAFT_PROFILE  stage-timing prints (functions/prof.py)
# A new knob is added here next to the measurement that justifies it.
KNOBS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_PROFILE"}


def test_every_knob_is_listed():
    """Every environment (``SPARK_GRAFT_*``) and Spark conf
    (``spark.schema_inference.*``) key named as a string constant in the
    package or the entry points is in ``KNOBS``, and every listed knob is
    still read. f-string parts count, so a key built from a prefix fails
    too."""
    import re
    knob = re.compile(r"SPARK_GRAFT_\w*|spark\.schema_inference\.[\w.]*")
    found = set()
    for path in _py_files(PKG, "submit_validate.py", "__spark_entry__.py"):
        for n in ast.walk(ast.parse(open(path).read())):
            if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and knob.fullmatch(n.value)):
                found.add(n.value)
    assert found == KNOBS
