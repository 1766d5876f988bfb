"""Dead-code guard: every undecorated top-level function in the package
must be named somewhere in the repo's Python besides its own ``def``
line — a call, an import, a test or a comment.  Decorated functions
(registry queries, UDFs) are reached through their decorator and are
not checked.  No allowlist: a function nothing names is deleted."""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP_DIRS = {".git", "spark-warehouse"}


def _py_files(root: str):
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def test_no_unreferenced_top_level_functions():
    defs: dict[str, set[tuple[str, int]]] = {}
    for path in _py_files(os.path.join(REPO, "timesearch_spark")):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not node.decorator_list):
                defs.setdefault(node.name, set()).add((path, node.lineno))
    word = re.compile(r"\b(" + "|".join(map(re.escape, defs)) + r")\b")
    named = set()
    for path in _py_files(REPO):
        with open(path, encoding="utf-8", errors="replace") as fh:
            for lineno, line in enumerate(fh, 1):
                for name in word.findall(line):
                    if (path, lineno) not in defs[name]:
                        named.add(name)
    dead = sorted(set(defs) - named)
    assert not dead, f"top-level functions nothing names: {dead}"
