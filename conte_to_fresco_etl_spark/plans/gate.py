"""The order of ``queries()``, which decides what the driver's gate (first 50 names) re-verifies.

A query's fingerprint hashes the package code it statically reaches (functions and classes
as ``ast.dump`` of their source, so comment-only edits do not count; constants by ``repr``)
and its ``oracle_sql()``.  ``GATE_MANIFEST.json`` holds each query's fingerprint at its last
driver-green row and that row's round.  ``python -m conte_to_fresco_etl_spark.plans.gate
[CORRECTNESS_rN.json ...]`` records driver verdicts or, given none, prints the must-gate names.
"""

import ast
import functools
import hashlib
import importlib
import inspect
import json
import pathlib
import pkgutil
import re
import sys
import textwrap
import types

from conte_to_fresco_etl_spark.plans import catalog, catalog_analytics, catalog_text, catalog_tpch  # noqa: F401

PKG = "conte_to_fresco_etl_spark"
MANIFEST = pathlib.Path(__file__).resolve().parents[2] / "GATE_MANIFEST.json"

def _ours(obj) -> bool:  # a package function, class or module
    return (getattr(obj, "__module__", None) or obj.__name__).startswith(PKG)

def _canon(v, found: list) -> str | None:
    """Process-independent text of a constant (else None); appends package code in it to ``found``."""
    if not isinstance(v, type):  # regexes, numpy values and Spark types as data
        v = ((v.pattern, v.flags) if isinstance(v, re.Pattern) else v.tolist() if hasattr(v, "tolist")
             else v.jsonValue() if hasattr(v, "jsonValue") else v)
    if isinstance(v, (types.FunctionType, type)):
        found.append(v)
        return f"{v.__module__}.{v.__qualname__}"
    if not isinstance(v, (list, tuple, set, frozenset, dict)):
        return repr(v) if isinstance(v, (str, bytes, int, float, complex, type(None), range)) else None
    parts = [_canon(x, found) or f"<{type(x).__name__}>" for x in (v.items() if isinstance(v, dict) else v)]
    return f"{type(v).__name__}({sorted(parts) if isinstance(v, (set, frozenset, dict)) else parts})"

def _names(code) -> set:
    return set(code.co_names).union(*(_names(c) for c in code.co_consts if isinstance(c, types.CodeType)))

def _refs(fn) -> list[tuple[str, object]]:
    """(qualified name, value) of the globals, defaults and package-module names ``fn`` uses."""
    g, names = fn.__globals__, sorted(_names(fn.__code__))
    refs = [(f"{g['__name__']}.{n}", g[n]) for n in names if n in g]
    refs += [(f"{fn.__qualname__}()", v) for v in [*(fn.__defaults__ or ()), *(fn.__kwdefaults__ or {}).values()]]
    mods = [importlib.import_module(n) for n in names if n.startswith(PKG)]
    mods += [v for _, v in refs if isinstance(v, types.ModuleType) and _ours(v)]
    for m in mods:
        for n in (n for n in names if hasattr(m, n)):
            refs.append((f"{m.__name__}.{n}", v := getattr(m, n)))
            mods += [v] if isinstance(v, types.ModuleType) and _ours(v) and v not in mods else []
    return refs

@functools.cache
def _node(obj) -> tuple[tuple[str, ...], tuple]:
    """(hash lines, package functions and classes named) of a function or class."""
    try:
        src = ast.dump(ast.parse(textwrap.dedent(inspect.getsource(obj))))
    except OSError:  # generated code (dataclass methods): its class's source covers it
        src = ""
    lines, found = [f"{obj.__module__}.{obj.__qualname__} {hashlib.sha1(src.encode()).hexdigest()}"], []
    refs = _refs(obj) if not isinstance(obj, type) else [
        (None, getattr(v, "__func__", getattr(v, "fget", v))) for v in [*vars(obj).values(), *obj.__bases__]]
    for key, v in refs:
        if isinstance(v := getattr(v, "__wrapped__", v), (types.FunctionType, type)):
            found.append(v)
        elif key and (c := _canon(v, found)) is not None:
            lines.append(f"{key} {c}")
    return tuple(lines), tuple(dict.fromkeys(f for f in found if _ours(f)))

def closure(fn) -> set:
    """Every package function and class ``fn`` can reach, ``fn`` included."""
    seen, todo = set(), [fn]
    while todo:
        seen.add(obj := todo.pop())
        todo.extend(f for f in _node(obj)[1] if f not in seen)
    return seen

def _import_time_names(tree: ast.Module) -> set[str]:
    """Names the module body evaluates at import: decorators, bases, defaults and plain
    statements (imports excepted), not function bodies."""
    names, todo = set(), list(tree.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            parts = [*node.decorator_list]
            if isinstance(node, ast.ClassDef):
                parts += [*node.bases, *node.keywords]
                todo.extend(node.body)  # a class body runs at import
            else:
                parts += [*node.args.defaults, *(d for d in node.args.kw_defaults if d)]
        else:
            parts = [node]
        names.update(n.id for p in parts for n in ast.walk(p) if isinstance(n, ast.Name))
    return names

def unreached() -> dict[str, int]:
    """``module.name`` -> source lines of each top-level package function or class that no
    root reaches.  The roots: every query, every function and class of ``pipeline``,
    ``measure``, ``__main__``, ``session`` and this module, and whatever module-level code
    names (decorators, defaults, constants built at import)."""
    mods = [importlib.import_module(m.name)
            for m in pkgutil.walk_packages(importlib.import_module(PKG).__path__, PKG + ".")]
    entry = {f"{PKG}.{m}" for m in ("pipeline", "measure", "__main__", "session", "plans.gate")}
    defs, roots = {}, list(catalog.QUERIES.values())
    for m in mods:
        own = {n: v for n, v in vars(m).items()
               if isinstance(v, (types.FunctionType, type)) and v.__module__ == m.__name__}
        defs.update((f"{m.__name__}.{n}", v) for n, v in own.items())
        roots += own.values() if m.__name__ in entry else []
        g = vars(m)
        for n in _import_time_names(ast.parse(inspect.getsource(m))) & g.keys():
            v = getattr(g[n], "__wrapped__", g[n])
            if isinstance(v, (types.FunctionType, type)):
                roots.append(v)
            else:
                _canon(v, roots)
    reached = set()
    for r in roots:
        if _ours(r) and r not in reached:
            reached |= closure(r)
    return {k: len(inspect.getsourcelines(v)[0]) for k, v in defs.items() if v not in reached}

@functools.cache
def fingerprints() -> dict[str, str]:
    """Query name -> fingerprint, in registration order."""
    out = {}
    for name, fn in catalog.QUERIES.items():
        lines = sorted(line for obj in closure(fn) for line in _node(obj)[0])
        out[name] = hashlib.sha256("\n".join([*lines, catalog.ORACLES.get(name, "")]).encode()).hexdigest()[:16]
    return out

def _manifest() -> dict:
    return json.loads(MANIFEST.read_text()) if MANIFEST.exists() else {}

def must_gate() -> list[str]:
    """Queries never driver-green or changed since their last green row, in registration order."""
    man = _manifest()
    return [n for n, fp in fingerprints().items() if man.get(n, {}).get("fp") != fp]

@functools.cache
def order() -> tuple[str, ...]:
    """:func:`must_gate`, then the rest by last green round, stalest first."""
    must, man = must_gate(), _manifest()
    return (*must, *sorted((n for n in fingerprints() if n not in must), key=lambda n: man[n]["round"]))

def record(paths: list[str]) -> None:
    """Give each green row of ``CORRECTNESS_rN.json`` today's fingerprint and round N (newest wins)."""
    fps, man = fingerprints(), _manifest()
    for rnd, path in sorted((int(re.search(r"r(\d+)", pathlib.Path(p).name)[1]), p) for p in paths):
        for name, row in json.loads(pathlib.Path(path).read_text()).items():
            ok = row.get("rows_match") and row.get("schema_match") and row.get("hash_match", True)
            if ok and not row.get("err") and name in fps and man.get(name, {}).get("round", 0) <= rnd:
                man[name] = {"fp": fps[name], "round": rnd}
    rows = ",\n".join(f" {json.dumps(n)}: {json.dumps(e)}" for n, e in sorted(man.items()))
    MANIFEST.write_text("{\n" + rows + "\n}\n")  # one line per query, so a verdict diffs by line

if __name__ == "__main__":
    record(sys.argv[1:]) if sys.argv[1:] else print("\n".join(must_gate()))
