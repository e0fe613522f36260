"""Guard against dead package code regrowing.

Every module-level function, class and assignment in ``ts_process_spark``
must be named somewhere besides its own definition: in the package, the
jobs, tools, tests, perfbench or the root-level scripts.  A name that
occurs exactly once across those ``.py`` files is a definition nothing
calls, and should be deleted rather than kept alive.

The check is lexical (a count of ``\\w+`` tokens, comments and strings
included), so it errs towards keeping code: a name cited only in a
comment elsewhere still counts as used.  No Spark session is needed.

Options regrow the same way: a defaulted parameter that no call ever
passes is a constant with a name, and any branch it selects never runs.
The second check walks the call sites of every package function and
fails on a defaulted parameter none of them sets.
"""

from __future__ import annotations

import ast
import re
from collections import Counter, defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "ts_process_spark"
SCANNED_DIRS = ("ts_process_spark", "jobs", "tools", "tests", "perfbench")


def _scanned_files():
    yield from REPO.glob("*.py")
    for d in SCANNED_DIRS:
        yield from (REPO / d).rglob("*.py")


def _module_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node.lineno
            continue
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for target in targets:
            for sub in ast.walk(target):
                if isinstance(sub, ast.Name):
                    yield sub.id, node.lineno


def test_every_package_definition_is_named_elsewhere():
    tokens = Counter()
    for path in _scanned_files():
        tokens.update(re.findall(r"\w+", path.read_text()))

    unreferenced = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for name, lineno in _module_level_names(tree):
            if name.startswith("__") and name.endswith("__"):
                continue
            if tokens[name] <= 1:
                rel = path.relative_to(REPO)
                unreferenced.append(f"{rel}:{lineno} {name}")

    assert not unreferenced, (
        "module-level definitions nothing names:\n  "
        + "\n  ".join(unreferenced)
    )


def _defaulted_params(fn: ast.FunctionDef):
    """(position or None, name) of each parameter that has a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    for i, arg in enumerate(pos[first:], start=first):
        yield i, arg.arg
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield None, arg.arg


def _passes(call: ast.Call, position, name) -> bool:
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    if position is None:
        return False
    return (len(call.args) > position
            or any(isinstance(a, ast.Starred) for a in call.args))


def test_every_defaulted_parameter_is_passed():
    """A call matches a package function by name alone (``f(...)`` or
    ``x.f(...)``) and passes a parameter by keyword, by position, or by
    a ``*``/``**`` splat.  Names defined more than once in the package
    are skipped: their calls cannot be told apart."""
    defs = defaultdict(list)
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                defs[node.name].append((path, node))

    calls = defaultdict(list)
    for path in _scanned_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            if isinstance(func, ast.Name):
                calls[func.id].append(node)
            elif isinstance(func, ast.Attribute):
                calls[func.attr].append(node)

    unpassed = []
    for name, found in defs.items():
        if len(found) != 1:
            continue
        path, fn = found[0]
        for position, param in _defaulted_params(fn):
            if not any(_passes(c, position, param) for c in calls[name]):
                rel = path.relative_to(REPO)
                unpassed.append(f"{rel}:{fn.lineno} {name}({param})")

    assert not unpassed, (
        f"{len(unpassed)} defaulted parameters no call passes; fold each "
        "into a constant:\n  " + "\n  ".join(unpassed)
    )
