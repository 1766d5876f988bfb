"""Dead-code guard.

* Every undecorated top-level function in the package must be named
  somewhere in the repo's Python besides its own ``def`` line — a call,
  an import, a test or a comment.  Decorated functions (registry
  queries, UDFs) are reached through their decorator and are not
  checked.  No allowlist: a function nothing names is deleted.
* Every top-level assignment in the package must be named the same way.
  Dunders (``__all__``) are exempt; there is no allowlist.
* Every defaulted parameter of an undecorated package function must be
  passed by some call in the repo — by keyword or by position.  A
  parameter nothing passes is a configuration no test or benchmark
  covers: fold it into its default.  Calls are matched by callee name,
  so the scan over-approximates what is passed.  See
  :func:`unpassed_parameters` for what counts as a call.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "timesearch_spark")
SKIP_DIRS = {".git", "spark-warehouse"}

# Defaulted parameters kept although nothing in the repo passes them.
ALLOWED_UNPASSED = {
    # deployment scale setting: a store that already exists keeps the
    # bucket count its pointer records, so no test can vary it usefully
    "ParquetMergeStore(n_buckets)",
}


def _py_files(root: str):
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def repo_sources() -> dict[str, str]:
    out = {}
    for path in _py_files(REPO):
        with open(path, encoding="utf-8", errors="replace") as fh:
            out[path] = fh.read()
    return out


def _named_elsewhere(defs: dict[str, set[tuple[str, int]]]) -> set[str]:
    """Names in ``defs`` that some line of the repo's Python mentions
    other than the lines that define them."""
    word = re.compile(r"\b(" + "|".join(map(re.escape, defs)) + r")\b")
    named = set()
    for path, text in repo_sources().items():
        for lineno, line in enumerate(text.splitlines(), 1):
            for name in word.findall(line):
                if (path, lineno) not in defs[name]:
                    named.add(name)
    return named


def _package_trees():
    for path in _py_files(PACKAGE):
        with open(path, encoding="utf-8") as fh:
            yield path, ast.parse(fh.read(), path)


def test_no_unreferenced_top_level_functions():
    defs: dict[str, set[tuple[str, int]]] = {}
    for path, tree in _package_trees():
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not node.decorator_list):
                defs.setdefault(node.name, set()).add((path, node.lineno))
    dead = sorted(set(defs) - _named_elsewhere(defs))
    assert not dead, f"top-level functions nothing names: {dead}"


def test_no_unreferenced_top_level_names():
    defs: dict[str, set[tuple[str, int]]] = {}
    for path, tree in _package_trees():
        for node in tree.body:
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target] if isinstance(node, ast.AnnAssign)
                       else [])
            for tgt in targets:
                for n in ast.walk(tgt):
                    if (isinstance(n, ast.Name)
                            and not (n.id.startswith("__")
                                     and n.id.endswith("__"))):
                        defs.setdefault(n.id, set()).add((path, node.lineno))
    dead = sorted(set(defs) - _named_elsewhere(defs))
    assert not dead, f"top-level names nothing names: {dead}"


# -- parameters nothing passes -------------------------------------------------

def _callee(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _defaulted(fn: ast.FunctionDef, method: bool) -> list[tuple[int | None, str]]:
    """``(position, name)`` of each defaulted parameter; the position
    counts from the first argument a caller writes (after ``self``), and
    is None for keyword-only parameters."""
    a = fn.args
    positional = (a.posonlyargs + a.args)[1 if method else 0:]
    first = len(positional) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(positional) if i >= first]
    out += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


class _Calls(ast.NodeVisitor):
    """Every call in a module, by callee name: the keywords it passes,
    the most positional arguments it passes, and whether it spreads
    ``*args`` or ``**kwargs``.  Also every name loaded as a value rather
    than called (a function handed around, whose calls go unseen)."""

    def __init__(self):
        self.keywords: dict[str, set[str]] = {}
        self.positional: dict[str, int] = {}
        self.spread: set[str] = set()
        self.values: set[str] = set()
        self._bases: list[list[str]] = []
        # ids of the nodes in call or owner position: not handed on
        self._not_values: set[int] = set()
        self._bound: set[str] = set()

    def visit_ClassDef(self, node):
        self._bases.append([b for b in map(_callee, node.bases) if b])
        self.generic_visit(node)
        self._bases.pop()

    def _record(self, name: str, args: list, keywords: list) -> None:
        kws = self.keywords.setdefault(name, set())
        for kw in keywords:
            if kw.arg is None:
                self.spread.add(name)
            else:
                kws.add(kw.arg)
        if any(isinstance(x, ast.Starred) for x in args):
            self.spread.add(name)
        self.positional[name] = max(self.positional.get(name, 0), len(args))

    def visit_Call(self, node):
        self._not_values.add(id(node.func))
        name = _callee(node.func)
        if (name == "__init__" and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Call)
                and _callee(node.func.value.func) == "super"):
            for base in (self._bases[-1] if self._bases else []):
                self._record(base, node.args, node.keywords)
        elif name == "partial" and node.args:
            target = _callee(node.args[0])
            if target:
                self._not_values.add(id(node.args[0]))
                self._record(target, node.args[1:], node.keywords)
        elif name:
            self._record(name, node.args, node.keywords)
        self.generic_visit(node)

    def visit_Module(self, node):
        # a bare name reaches a package function only when the module
        # imports or defines it; otherwise it is some local of that name
        self._bound = {a.asname or a.name for n in ast.walk(node)
                       if isinstance(n, ast.ImportFrom) for a in n.names}
        self._bound |= {n.name for n in node.body if isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}
        # node ids are only unique while their tree is alive
        self._not_values = set()
        self.generic_visit(node)

    def visit_Name(self, node):
        if (isinstance(node.ctx, ast.Load) and id(node) not in self._not_values
                and node.id in self._bound):
            self.values.add(node.id)

    def visit_Attribute(self, node):
        if isinstance(node.ctx, ast.Load) and id(node) not in self._not_values:
            self.values.add(node.attr)
        # ``mod.f`` / ``Cls.m``: the owner is looked into, not handed on
        self._not_values.add(id(node.value))
        self.generic_visit(node)


class _Defs(ast.NodeVisitor):
    """Every undecorated function of a module with its defaulted
    parameters, keyed by the name a caller writes: the class name for
    ``__init__``, the function name otherwise.  Dunders other than
    ``__init__`` are called by the language, not by name, and skipped."""

    def __init__(self, path: str):
        self.path = path
        self.found: list[tuple[str, str, ast.FunctionDef, bool]] = []
        self._scope: list[ast.AST] = []

    def visit_ClassDef(self, node):
        self._scope.append(node)
        self.generic_visit(node)
        self._scope.pop()

    def visit_FunctionDef(self, node):
        method = bool(self._scope) and isinstance(self._scope[-1], ast.ClassDef)
        dunder = node.name.startswith("__") and node.name.endswith("__")
        if not node.decorator_list and (not dunder or node.name == "__init__"):
            key = self._scope[-1].name if node.name == "__init__" else node.name
            self.found.append((self.path, key, node, method))
        self._scope.append(node)
        self.generic_visit(node)
        self._scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef


def unpassed_parameters(sources: dict[str, str],
                        package: str = PACKAGE) -> list[str]:
    """``"path:line name(param)"`` for each defaulted parameter of a
    function under ``package`` that no call in ``sources`` passes.

    A call passes a parameter when its callee name is the function's
    name (or its class's name, for ``__init__``) and it passes the
    parameter by keyword or writes at least as many positional
    arguments as the parameter's position.  ``super().__init__(...)``
    calls the enclosing class's bases; ``partial(f, ...)`` calls ``f``;
    a call that spreads ``*args`` or ``**kwargs`` passes everything.  A
    function whose name is also loaded as a value (handed to
    ``mapInPandas``, stored in a table) is called where the scan cannot
    see, so it is skipped; a class handed on (to ``isinstance``, to a
    patcher) is not constructed there, so its ``__init__`` is not."""
    calls = _Calls()
    defs: list[tuple[str, str, ast.FunctionDef, bool]] = []
    for path, text in sources.items():
        tree = ast.parse(text, path)
        calls.visit(tree)
        if os.path.commonpath([os.path.abspath(path), package]) == package:
            d = _Defs(path)
            d.visit(tree)
            defs += d.found
    out = []
    for path, key, fn, method in defs:
        handed_on = key in calls.values and fn.name != "__init__"
        if handed_on or key in calls.spread:
            continue
        kws = calls.keywords.get(key, set())
        npos = calls.positional.get(key, 0)
        for pos, name in _defaulted(fn, method):
            if name in kws or (pos is not None and pos < npos):
                continue
            if f"{key}({name})" not in ALLOWED_UNPASSED:
                out.append(f"{os.path.relpath(path, REPO)}:{fn.lineno} "
                           f"{key}({name})")
    return sorted(out)


def test_every_defaulted_parameter_is_passed():
    assert len(ALLOWED_UNPASSED) <= 5
    unpassed = unpassed_parameters(repo_sources())
    assert not unpassed, ("defaulted parameters nothing passes; fold each "
                          f"into its default: {unpassed}")


_SYNTHETIC_DEFS = '''
def fold(df, knob=1):
    return df

class Store:
    def __init__(self, path, width=4):
        self.path = path

class Child(Store):
    def __init__(self, path):
        super().__init__(path)
'''


def _synthetic_unpassed(calls: str) -> list[str]:
    pkg = os.path.join(REPO, "synthetic_pkg")
    found = unpassed_parameters({os.path.join(pkg, "mod.py"): _SYNTHETIC_DEFS,
                                 os.path.join(REPO, "synthetic_test.py"): calls},
                                package=pkg)
    return [f.split(" ", 1)[1] for f in found]


def test_parameter_scan_flags_an_unpassed_parameter():
    assert _synthetic_unpassed("fold(1)\nStore('p')\n") == [
        "fold(knob)", "Store(width)"]


def test_parameter_scan_accepts_each_way_of_passing():
    ways = {
        "fold(knob)": ["fold(1, knob=2)",                  # keyword
                       "fold(1, 2)",                       # position
                       "from functools import partial\n"
                       "partial(fold, knob=2)(1)",          # partial
                       "opts = {}\nfold(1, **opts)"],       # ** spread
        "Store(width)": ["Store('p', width=2)",            # class name
                         "Store('p', 2)"],
    }
    for param, calls in ways.items():
        for call in calls:
            assert param not in _synthetic_unpassed(call), call
    # super().__init__ reaches the base class's constructor
    child = _SYNTHETIC_DEFS.replace("super().__init__(path)",
                                    "super().__init__(path, width=8)")
    pkg = os.path.join(REPO, "synthetic_pkg")
    assert unpassed_parameters({os.path.join(pkg, "mod.py"): child},
                               package=pkg) == [
        "synthetic_pkg/mod.py:2 fold(knob)"]
