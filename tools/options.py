"""Census of the package's defaulted parameters and of who sets them.

Parses source only (no imports). Every ``def`` in the package, including
methods and nested functions, contributes its defaulted parameters
(positional-or-keyword and keyword-only). Every call in the package,
``tests/``, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py`` is then matched to the definitions by the called
name (``f(...)``, ``obj.f(...)``, ``functools.partial(f, ...)``; a call
of a class name goes to its ``__init__``). A parameter counts as set when
a matched call passes it by keyword or by position. A ``*name`` or
``**name`` bound once to a tuple or dict literal passes its elements or
keys, a function's own ``**kwargs`` passes what its callers pass, and
any other ``*args`` or ``**kwargs`` sets every parameter it could reach.
The match is by name only, so a call counts for every definition of that
name: the census can miss an unset parameter but never reports a set one
as unset.

Usage: python tools/options.py    # totals per module, then each unset one
"""

from __future__ import annotations

import ast
import os
import sys
from collections import Counter
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "osm_poi_database_maker_spark"
CALLER_ROOTS = (PACKAGE, "tests", "tools", "perfbench", "bench.py",
                "__spark_entry__.py")


@dataclass
class Param:
    module: str     # path relative to the repo
    func: str       # qualified name inside the module
    name: str
    line: int
    set_by: set = field(default_factory=set)   # caller roots that set it


def _py_files(root: str) -> list:
    path = os.path.join(REPO, root)
    if path.endswith(".py"):
        return [path] if os.path.exists(path) else []
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith("."))
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaulted(a: ast.arguments) -> list:
    positional = [p.arg for p in a.posonlyargs + a.args]
    names = positional[len(positional) - len(a.defaults):] if a.defaults else []
    return names + [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None]


def _collect_defs(path: str, tree: ast.Module, defs: dict, owned: dict,
                  classes: set) -> None:
    """Adds ``name -> [(positional params, {name: Param}, is_method)]`` to
    ``defs`` and ``id(def node) -> {name: Param}`` to ``owned``."""
    module = os.path.relpath(path, REPO)

    def visit(node, stack):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                classes.add(child.name)
            if isinstance(child, _FUNCS):
                parent = stack[-1] if stack else None
                qual = ".".join([s.name for s in stack] + [child.name])
                params = {n: Param(module, qual, n, child.lineno)
                          for n in _defaulted(child.args)}
                is_method = isinstance(parent, ast.ClassDef) and not any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in child.decorator_list)
                key = child.name
                if key == "__init__" and isinstance(parent, ast.ClassDef):
                    key = parent.name
                a = child.args
                defs.setdefault(key, []).append(
                    ([p.arg for p in a.posonlyargs + a.args], params,
                     is_method))
                owned[id(child)] = params
            if isinstance(child, ast.stmt):  # defs nest in statements only
                visit(child, stack + [child] if isinstance(
                    child, (ast.ClassDef,) + _FUNCS) else stack)

    visit(tree, [])


def _called_name(func: ast.AST):
    if isinstance(func, ast.Name):
        return func.id, False
    if isinstance(func, ast.Attribute):
        return func.attr, True
    return None, False


def _assigned(fn: ast.AST) -> dict:
    """Names bound inside ``fn`` -> the value of their only assignment
    (``None`` when bound more than once, or by anything but a plain
    assignment: a loop, a nested function's or lambda's parameter, a
    comprehension)."""
    out = {}
    for node in ast.walk(fn):
        targets = []
        if isinstance(node, ast.Assign):
            targets = [(t, node.value) for t in node.targets]
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign, ast.For,
                               ast.NamedExpr, ast.comprehension)):
            targets = [(node.target, None)]
        elif isinstance(node, (ast.Lambda,) + _FUNCS) and node is not fn:
            targets = [(a, None) for a in ast.walk(node.args)
                       if isinstance(a, ast.arg)]
        for t, value in targets:
            if isinstance(t, ast.arg):
                out[t.arg] = None
            for n in ast.walk(t):
                if isinstance(n, ast.Name):
                    out[n.id] = value if n.id not in out else None
    return out


def _dict_keys(value) -> set | None:
    """Keys of ``dict(k=...)`` or of a literal ``{"k": ...}``, else None."""
    if isinstance(value, ast.Call) and isinstance(value.func, ast.Name) \
            and value.func.id == "dict" and not value.args \
            and all(k.arg for k in value.keywords):
        return {k.arg for k in value.keywords}
    if isinstance(value, ast.Dict) and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str)
            for k in value.keys):
        return {k.value for k in value.keys}
    return None


class _Scope:
    """The def enclosing a call (``fn`` None at module level): its
    defaulted parameters and, computed on first use, its bindings;
    ``module`` holds the module-level ones."""

    def __init__(self, fn, params: dict, module: dict):
        self.fn, self.params, self.module, self._local = fn, params, module, None

    @property
    def local(self) -> dict:
        if self._local is None:
            self._local = _assigned(self.fn) if self.fn is not None else {}
        return self._local

    def value(self, name):
        """The one value bound to ``name`` here or at module level."""
        return self.local[name] if name in self.local else self.module.get(name)


def _module_assigned(tree: ast.Module) -> dict:
    out = {}
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign):
            for t in stmt.targets:
                if isinstance(t, ast.Name):
                    out[t.id] = stmt.value if t.id not in out else None
    return out


def _positional(args: list, scope: _Scope) -> list:
    """``args`` with each ``*name`` bound to a tuple or list literal
    spread into its elements."""
    out = []
    for a in args:
        v = scope.value(a.value.id) if isinstance(a, ast.Starred) and \
            isinstance(a.value, ast.Name) else None
        if isinstance(v, (ast.Tuple, ast.List)) and not any(
                isinstance(e, ast.Starred) for e in v.elts):
            out.extend(v.elts)
        else:
            out.append(a)
    return out


@dataclass
class _Site:
    call: ast.Call
    name: str       # the called name
    via_attr: bool  # ``obj.name(...)``
    skip: int       # leading args that are not the callee's (``partial``)
    root: str
    scope: _Scope


def _sites(root: str, tree: ast.Module, owned: dict) -> list:
    out = []

    module = _module_assigned(tree)

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, _FUNCS):
                visit(child, _Scope(child, owned.get(id(child), {}), module))
                continue
            if isinstance(child, ast.Call):
                name, via_attr = _called_name(child.func)
                skip = 0
                if name == "partial" and child.args:
                    (name, via_attr), skip = _called_name(child.args[0]), 1
                if name:
                    out.append(_Site(child, name, via_attr, skip, root, scope))
            visit(child, scope)

    visit(tree, _Scope(None, {}, module))
    return out


def census() -> list:
    """Every defaulted package parameter, with the caller roots that set it.

    A call that passes a function's own defaulted parameter on unchanged
    (a bare name, never rebound in the function) sets the callee's
    parameter only where the forwarding one is set, and a call that
    passes the function's own ``**kwargs`` on sets the keywords the
    function's callers pass: the roots propagate along such edges to a
    fixpoint."""
    defs, owned, classes = {}, {}, set()
    trees = {root: [(p, _parse(p)) for p in _py_files(root)]
             for root in CALLER_ROOTS}
    for path, tree in trees[PACKAGE]:
        _collect_defs(path, tree, defs, owned, classes)
    sites = [s for root, files in trees.items() for _, tree in files
             for s in _sites(root, tree, owned)]
    # keyword -> roots that pass it, per called name; None: an unknown **
    passed = {}
    for s in sites:
        kw = passed.setdefault(s.name, {})
        for k in s.call.keywords:
            kw.setdefault(k.arg, set()).add(s.root)

    events = []     # (callee Param, roots, forwarding Param or None)
    for s in sites:
        args = _positional(s.call.args[s.skip:], s.scope)
        star_pos = any(isinstance(x, ast.Starred) for x in args)
        kws, star_roots = {}, set()
        for k in s.call.keywords:
            if k.arg is not None:
                kws[k.arg] = (k.value, {s.root})
                continue
            name = k.value.id if isinstance(k.value, ast.Name) else None
            fn, local = s.scope.fn, s.scope.local
            keys = _dict_keys(s.scope.value(name))
            if keys is not None:
                kws.update({key: (None, {s.root}) for key in keys})
            elif fn is not None and fn.args.kwarg \
                    and fn.args.kwarg.arg == name and name not in local:
                fwd = passed.get(fn.name, {})
                kws.update({key: (None, roots) for key, roots in fwd.items()
                            if key is not None})
                star_roots |= fwd.get(None, set())
            else:
                star_roots.add(s.root)
        for positional, params, is_method in defs.get(s.name, ()):
            # obj.method(a) and Class(a) both bind ``a`` after ``self``.
            offset = 1 if is_method and (s.via_attr or s.name in classes) \
                else 0
            bound = {p: (v, {s.root})
                     for p, v in zip(positional[offset:], args)}
            bound.update(kws)
            for p in params.values():
                if star_roots:
                    events.append((p, star_roots, None))
                if star_pos and p.name in positional:
                    events.append((p, {s.root}, None))
                elif p.name in bound:
                    arg, roots = bound[p.name]
                    src = s.scope.params.get(arg.id) if isinstance(
                        arg, ast.Name) else None
                    if src is not None and arg.id in s.scope.local:
                        src = None      # rebound: not the caller's value
                    events.append((p, roots, src))
    changed = True
    while changed:
        changed = False
        for p, roots, src in events:
            roots = roots if src is None else src.set_by
            if not roots <= p.set_by:
                p.set_by |= roots
                changed = True
    return [p for entries in defs.values() for _, params, _ in entries
            for p in params.values()]


def main() -> None:
    params = census()
    unset = [p for p in params if not p.set_by]
    tests_only = [p for p in params if p.set_by == {"tests"}]
    total, n_unset, n_tests = (Counter(p.module for p in xs)
                               for xs in (params, unset, tests_only))
    print(f"{'module':<58} {'defaulted':>9} {'unset':>6} {'tests':>6}")
    for mod in sorted(total, key=lambda m: (-n_unset[m], m)):
        print(f"{mod:<58} {total[mod]:>9} {n_unset[mod]:>6} {n_tests[mod]:>6}")
    print(f"{'total':<58} {len(params):>9} {len(unset):>6} "
          f"{len(tests_only):>6}")
    for p in sorted(unset, key=lambda p: (p.module, p.line)):
        print(f"unset: {p.module}:{p.line} {p.func}({p.name})")


if __name__ == "__main__":
    sys.exit(main())
