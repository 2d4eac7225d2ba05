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
