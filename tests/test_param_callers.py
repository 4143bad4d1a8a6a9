"""Every parameter with a default in the paper modules is set by some call.

The paper modules are the ``kgforge`` modules reachable by imports from the
entry points ``api``, ``kg.pipeline``, ``kg.io`` and ``sparql``.  A default
that no call in the repository overrides (by keyword or by position; tests,
scripts and the benchmark included) is a constant with a settable name: it
selects nothing, or a path nothing runs.  Such a parameter becomes a
constant, or, when it is a seam a future caller needs, is named in
``SEAMS`` with its reason.

The scan matches calls by function name, so a call to another function of
the same name counts as a setter: the check can miss an unset parameter,
never invent one.  No Spark session is started.
"""

from __future__ import annotations

import ast
import os
from glob import glob

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY_POINTS = ("kgforge.api", "kgforge.kg.pipeline", "kgforge.kg.io", "kgforge.sparql")

SEAMS = {
    "kgforge.kg.io:write_graph.iceberg_table":
        "the graph's target table format; sessions without the Iceberg "
        "catalog jars cannot run it, so no test does",
    "kgforge.api:anonymize_flat_json.transport":
        "substitutes the HTTP fetch of configurationUrl",
    "kgforge.api:anonymize_jsonld_response.config":
        "substitutes a parsed config for the configurationUrl fetch",
    "kgforge.api:anonymize_jsonld_response.transport":
        "substitutes the HTTP fetch of configurationUrl",
}


def _path(module: str) -> str:
    base = os.path.join(ROOT, *module.split("."))
    return os.path.join(base, "__init__.py") if os.path.isdir(base) else base + ".py"


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), filename=path)


def _kgforge_imports(module: str) -> set[str]:
    """The kgforge modules ``module`` imports, function-local imports too."""
    path = _path(module)
    package = module if path.endswith("__init__.py") else module.rpartition(".")[0]
    names = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            names |= {base} | {f"{base}.{a.name}" for a in node.names}
    return {n for n in names if n.startswith("kgforge") and os.path.exists(_path(n))}


def paper_modules() -> list[str]:
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        module = todo.pop()
        if module not in seen:
            seen.add(module)
            todo += _kgforge_imports(module) - seen
    return sorted(seen)


def _calls_by_name() -> dict[str, list[ast.Call]]:
    files = glob(os.path.join(ROOT, "**", "*.py"), recursive=True)
    calls: dict[str, list[ast.Call]] = {}
    for path in files:
        if os.sep + "." in os.path.relpath(path, ROOT):
            continue  # benchmark inputs and other hidden scratch
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _sets(call: ast.Call, name: str, index: int | None) -> bool:
    if any(k.arg in (name, None) for k in call.keywords):  # None: **kwargs
        return True
    if index is None:
        return False
    return len(call.args) > index or any(isinstance(a, ast.Starred) for a in call.args)


def unset_defaults() -> list[str]:
    calls = _calls_by_name()
    unset = []

    def check(module, qual, fn, cls):
        a = fn.args
        positional = a.posonlyargs + a.args
        # methods are called through an instance: ``self`` is not in the call
        shift = 1 if cls and positional and positional[0].arg in ("self", "cls") else 0
        defaulted = positional[len(positional) - len(a.defaults):]
        defaulted += [k for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        callers = calls.get(cls if fn.name == "__init__" else fn.name, [])
        for arg in defaulted:
            index = positional.index(arg) - shift if arg in positional else None
            if not any(_sets(c, arg.arg, index) for c in callers):
                unset.append(f"{module}:{qual}{fn.name}.{arg.arg}")

    def visit(module, node, qual, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(module, child, f"{qual}{child.name}.", child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                check(module, qual, child, cls)
                visit(module, child, f"{qual}{child.name}.", None)
            else:
                visit(module, child, qual, cls)

    for module in paper_modules():
        visit(module, _parse(_path(module)), "", None)
    return unset


def test_paper_modules_found():
    modules = paper_modules()
    assert set(ENTRY_POINTS) <= set(modules)
    assert {"kgforge.anonymize.kpi", "kgforge.kg.lsh", "kgforge.rank"} <= set(modules)


def test_every_default_is_set_by_a_call():
    unset = set(unset_defaults())
    assert not unset - set(SEAMS), sorted(unset - set(SEAMS))


def test_every_seam_is_still_an_unset_default():
    """A seam that gained a caller, or lost its parameter, leaves the list."""
    assert set(SEAMS) <= set(unset_defaults())
