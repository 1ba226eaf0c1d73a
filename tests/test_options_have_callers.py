"""Every defaulted parameter in the package has a caller that sets it.

A parameter with a default that no call site passes is a constant with
extra steps: it doubles the configurations a reader must consider and no
test or workload ever runs the other side. This test parses the package,
``tests/``, ``tools/``, ``bench.py``, ``perfbench/`` and
``__spark_entry__.py`` with ``ast`` and lists every defaulted parameter of
a package function that no call sets.

Counting rules, conservative where a call cannot be resolved:

* A call names its callee by the last part of its name (``f(...)``,
  ``mod.f(...)``, ``obj.f(...)``); a class name stands for its
  ``__init__``. Every package function with that name counts as called.
* A parameter is set by a call that passes it by keyword, or by position.
* A keyword passed to a call whose callee is not a package function name
  (``op(df, strict=True)`` over a list of operators, ``partial(f, k=v)``)
  counts as set for every parameter with that name.
* A call that passes ``*args`` or ``**kwargs`` sets every parameter of
  the functions it names.

Run as a script to print the inventory:
``python tests/test_options_have_callers.py``.
"""
from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "retail_data_pipeline_and_forecasting_system_spark"
CALLER_ROOTS = [PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "perfbench",
                ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# Deployment settings: paths, addresses, credentials and write modes that a
# deployment sets although no call in the repo does.
# Keyed by (path prefix inside the package, parameter name).
ALLOWED = {
    ("streaming/", "schema"): "input schema of the deployed feed",
    ("streaming/", "max_files_per_trigger"):
        "micro-batch size of the deployed feed",
    ("sources/writers.py", "url"): "JDBC address of the deployed database",
    ("sources/writers.py", "driver"): "JDBC driver class of the deployed database",
    ("sources/writers.py", "user"): "JDBC credential",
    ("sources/writers.py", "password"): "JDBC credential",
    ("sources/writers.py", "batch_size"):
        "JDBC insert batch size of the deployed database",
    ("sources/writers.py", "mode"): "save mode of the deployed sink",
}


def _allowed(rel: str, name: str) -> bool:
    return any(rel.startswith(prefix) and name == param
               for prefix, param in ALLOWED)


def _py_files(roots):
    for root in roots:
        if root.is_file():
            yield root
        elif root.is_dir():
            yield from sorted(p for p in root.rglob("*.py")
                              if "__pycache__" not in p.parts)


def _callee_name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def defaulted_params(fn: ast.FunctionDef) -> list[str]:
    """Names of the parameters of ``fn`` that have a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out = [p.arg for p in positional[len(positional) - len(a.defaults):]]
    out += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def unset_options():
    """Sorted (relative path, line, function, parameter) of every defaulted
    package parameter that no call site sets, and the number of defaulted
    parameters scanned."""
    trees = {path: ast.parse(path.read_text(), str(path))
             for path in _py_files(CALLER_ROOTS)}
    defs = {}          # callee name -> [(relpath, FunctionDef)]
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        rel = str(path.relative_to(PACKAGE))
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                for item in node.body:
                    if (isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef))
                            and item.name == "__init__"):
                        defs.setdefault(node.name, []).append((rel, item))
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(node.name, []).append((rel, node))

    set_params = {}    # id(FunctionDef) -> set of parameter names
    fully_set = set()  # id(FunctionDef)
    loose_keywords = set()
    for tree in trees.values():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            keywords = {k.arg for k in node.keywords if k.arg is not None}
            starred = (any(isinstance(a, ast.Starred) for a in node.args)
                       or any(k.arg is None for k in node.keywords))
            targets = defs.get(_callee_name(node.func))
            if not targets:
                loose_keywords |= keywords
                continue
            for _, fn in targets:
                if starred:
                    fully_set.add(id(fn))
                    continue
                got = set_params.setdefault(id(fn), set())
                got |= keywords
                positional = fn.args.posonlyargs + fn.args.args
                # A bound method call does not pass ``self`` positionally.
                skip = 1 if positional and positional[0].arg in ("self", "cls") else 0
                got |= {p.arg for p in positional[skip:skip + len(node.args)]}

    unset, total, seen = [], 0, set()
    for targets in defs.values():
        for rel, fn in targets:
            if id(fn) in seen:
                continue
            seen.add(id(fn))
            for name in defaulted_params(fn):
                total += 1
                if (id(fn) in fully_set or name in loose_keywords
                        or name in set_params.get(id(fn), ())
                        or _allowed(rel, name)):
                    continue
                unset.append((rel, fn.lineno, fn.name, name))
    return sorted(unset), total


def test_every_defaulted_parameter_has_a_caller():
    unset, total = unset_options()
    assert total > 0
    listing = "\n".join(f"  {rel}:{line} {fn}({name})"
                        for rel, line, fn, name in unset)
    assert not unset, (
        f"{len(unset)} of {total} defaulted parameters are set by no call "
        f"site; make each default a constant at its point of use:\n{listing}")


if __name__ == "__main__":
    unset, total = unset_options()
    for rel, line, fn, name in unset:
        print(f"{rel}:{line} {fn}({name})")
    print(f"{len(unset)} of {total} defaulted parameters set by no call site",
          file=sys.stderr)
