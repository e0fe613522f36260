"""Guard against dead package code regrowing.

Every module-level function, class and assignment in ``ts_process_spark``
must be named somewhere besides its own definition: in the package, the
jobs, tools, tests, perfbench or the root-level scripts.  A name that
occurs exactly once across those ``.py`` files is a definition nothing
calls, and should be deleted rather than kept alive.

The check is lexical (a count of ``\\w+`` tokens, comments and strings
included), so it errs towards keeping code: a name cited only in a
comment elsewhere still counts as used.  No Spark session is needed.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
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
