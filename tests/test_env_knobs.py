"""Every engine setting has one source: library code reads no environment
variable except the deployment settings below. A query's result, plan
and stage count follow from its spec and inputs alone."""

from __future__ import annotations

import ast
import fnmatch
import pathlib

_PKG = pathlib.Path(__file__).resolve().parent.parent / "gfw_pixetl_spark"

# (module glob, variable): the only environment reads allowed in the
# package. The session's core count and driver memory are deployment
# settings; the stress harness's scale factor is set by
# tools/stress_probe.py, and its source path is a cache location.
_ALLOWED = {
    ("session.py", "SPARK_GRAFT_CPUS"),
    ("session.py", "SPARK_DRIVER_MEMORY"),
    ("harness/scale_stress*.py", "SPARK_GRAFT_STRESS_SCALE"),
    ("harness/scale_stress*.py", "SPARK_GRAFT_STRESS_SRC"),
}


def _env_reads(tree: ast.AST):
    """Yield the variable name of every ``environ``/``getenv`` use in
    ``tree``: ``os.environ.get(k)``, ``os.environ[k]``, ``os.getenv(k)``
    and the ``__import__("os")`` forms. A use with no literal key (the
    whole mapping passed on, a computed key) yields None."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        name = node.attr if isinstance(node, ast.Attribute) else getattr(
            node, "id", None)
        if name not in ("environ", "getenv"):
            continue
        up = parents.get(node)
        if name == "environ" and isinstance(up, ast.Attribute):
            node, up = up, parents.get(up)  # environ.get / environ.pop
        if isinstance(up, ast.Call) and up.func is node and up.args:
            key = up.args[0]
        elif isinstance(up, ast.Subscript) and up.value is node:
            key = up.slice
        else:
            key = None
        yield key.value if isinstance(key, ast.Constant) else None


def _allowed(rel: str, var: str | None) -> tuple[str, str] | None:
    for glob, name in _ALLOWED:
        if var == name and fnmatch.fnmatch(rel, glob):
            return glob, name
    return None


def test_env_reader_sees_every_form():
    src = """
import os
a = os.environ.get("A", "1")
b = os.environ["B"]
c = os.getenv("C")
d = __import__("os").environ.get("D")
e = dict(os.environ)
"""
    assert sorted(map(str, _env_reads(ast.parse(src)))) == [
        "A", "B", "C", "D", "None"]


def test_no_environment_knobs_in_library_code():
    found, used = [], set()
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        for var in _env_reads(ast.parse(path.read_text())):
            hit = _allowed(rel, var)
            if hit is None:
                found.append((rel, var))
            else:
                used.add(hit)
    assert found == [], (
        "library code reads the environment; make the value a constant or "
        "a parameter")
    assert _ALLOWED - used == set(), "stale allowlist entry"
