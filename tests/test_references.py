"""Every ``gridfia_spark`` reference in the program files resolves.

Most engine modules are imported inside functions, so a dangling name
(a deleted function, a renamed helper) otherwise surfaces only when
someone runs that path. This walks the AST of every ``.py`` file under
``gridfia_spark/``, ``scripts/``, ``examples/``, ``perfbench/`` and the
checkout root, without running any of them, and checks four things:

- every ``gridfia_spark`` import (absolute, relative, module-level or
  function-local) names a module or an attribute that exists;
- every ``<name>.<attr>`` load whose ``<name>`` is bound to an imported
  ``gridfia_spark`` module in the enclosing scopes names an attribute (or
  submodule) that exists, following chains through submodules;
- every import, of any module, binds a name the file reads somewhere
  (an unused import survives a cut silently and misleads readers about
  what a module depends on);
- every top-level ``gridfia_spark`` name is read somewhere in those files
  or under ``tests/`` (``@q`` queries exempt): a name nothing reads is
  dead code a cut left behind.

Only stdlib ``ast`` and ``importlib`` are used; no Spark session starts.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
import re
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "gridfia_spark"
DIRS = (PKG, "scripts", "examples", "perfbench")

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _files() -> list[str]:
    out = [
        os.path.join(ROOT, f)
        for f in sorted(os.listdir(ROOT))
        if f.endswith(".py")
    ]
    for d in DIRS:
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, d)):
            dirnames[:] = sorted(n for n in dirnames if n != "__pycache__")
            out += [os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py")]
    return out


def _package_of(path: str) -> str | None:
    """Dotted package a file's relative imports resolve against."""
    parts = os.path.relpath(path, ROOT).split(os.sep)
    return ".".join(parts[:-1]) if parts[0] == PKG else None


def _submodule(mod: types.ModuleType, name: str) -> types.ModuleType | None:
    full = f"{mod.__name__}.{name}"
    if getattr(mod, "__path__", None) is None or importlib.util.find_spec(full) is None:
        return None
    return importlib.import_module(full)


def _attr(mod: types.ModuleType, name: str):
    """(found, value) of ``mod.name``, counting not-yet-imported submodules."""
    if hasattr(mod, name):
        return True, getattr(mod, name)
    sub = _submodule(mod, name)
    return sub is not None, sub


class _Checker:
    def __init__(self, path: str):
        self.path = os.path.relpath(path, ROOT)
        self.package = _package_of(path)
        self.failures: list[str] = []
        self.n_refs = 0

    def fail(self, node: ast.AST, msg: str) -> None:
        self.failures.append(f"{self.path}:{node.lineno}: {msg}")

    # ----------------------------------------------------------- imports
    def _import(self, node: ast.AST, env: dict) -> None:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                self.n_refs += 1
                try:
                    mod = importlib.import_module(a.name)
                except ImportError as e:
                    self.fail(node, f"import {a.name}: {e}")
                    continue
                if a.asname:
                    env[a.asname] = mod
                else:
                    env[PKG] = importlib.import_module(PKG)
            return
        if node.level:
            if self.package is None:
                return
            base = self.package.rsplit(".", node.level - 1)[0]
            modname = f"{base}.{node.module}" if node.module else base
        else:
            modname = node.module or ""
        if modname.split(".")[0] != PKG:
            return
        self.n_refs += 1
        try:
            mod = importlib.import_module(modname)
        except ImportError as e:
            self.fail(node, f"from {modname} import ...: {e}")
            return
        for a in node.names:
            if a.name == "*":
                continue
            self.n_refs += 1
            found, val = _attr(mod, a.name)
            if not found:
                self.fail(node, f"from {modname} import {a.name}: no such name")
            elif isinstance(val, types.ModuleType):
                env[a.asname or a.name] = val

    # ------------------------------------------------------------ scopes
    def _own_nodes(self, scope: ast.AST):
        """Nodes of ``scope`` itself, not of the functions/classes in it."""
        stack = list(ast.iter_child_nodes(scope))
        while stack:
            n = stack.pop()
            yield n
            if not isinstance(n, _SCOPES):
                stack.extend(ast.iter_child_nodes(n))

    def visit(self, scope: ast.AST, inherited: dict) -> None:
        env = dict(inherited)
        own = list(self._own_nodes(scope))
        if isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for a in ast.walk(scope.args):
                if isinstance(a, ast.arg):
                    env.pop(a.arg, None)
        for n in own:
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                self._import(n, env)
        # a name also bound by anything but an import is not provably a
        # module in this scope: leave it unchecked
        for n in own:
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                env.pop(n.id, None)
            elif isinstance(n, _SCOPES):
                env.pop(n.name, None)
        heads = {id(n.value) for n in own if isinstance(n, ast.Attribute)}
        for n in own:
            if isinstance(n, ast.Attribute) and id(n) not in heads:
                self._chain(n, env)
        # class bodies do not enclose their methods
        inner = inherited if isinstance(scope, ast.ClassDef) else env
        for n in own:
            if isinstance(n, _SCOPES):
                self.visit(n, inner)

    def _chain(self, node: ast.Attribute, env: dict) -> None:
        names = []
        cur: ast.AST = node
        while isinstance(cur, ast.Attribute):
            names.append(cur.attr)
            cur = cur.value
        if not isinstance(cur, ast.Name) or cur.id not in env:
            return
        obj = env[cur.id]
        dotted = cur.id
        for name in reversed(names):
            self.n_refs += 1
            found, val = _attr(obj, name)
            dotted += "." + name
            if not found:
                self.fail(node, f"{dotted}: {obj.__name__} has no attribute {name!r}")
                return
            if not isinstance(val, types.ModuleType):
                return
            obj = val


def test_every_engine_reference_resolves():
    failures: list[str] = []
    n_refs = n_files = 0
    for path in _files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        chk = _Checker(path)
        chk.visit(tree, {})
        failures += chk.failures
        n_refs += chk.n_refs
        n_files += 1
    assert not failures, "\n".join(failures)
    # the walk really covered the engine (guards against a vacuous pass)
    assert n_files > 60 and n_refs > 1000, (n_files, n_refs)


_NOQA = re.compile(r"#\s*noqa:\s*([A-Z0-9, ]+)")


def _noqa_f401(lines: list[str], node: ast.AST) -> bool:
    """Whether the statement carries ``# noqa: F401`` (alone or in a list
    such as ``# noqa: E402,F401``)."""
    for line in lines[node.lineno - 1 : node.end_lineno]:
        m = _NOQA.search(line)
        if m and "F401" in re.split(r"[,\s]+", m.group(1)):
            return True
    return False


def _bound_names(node: ast.Import | ast.ImportFrom) -> list[str]:
    """Names an import statement binds in its scope."""
    if isinstance(node, ast.ImportFrom):
        return [a.asname or a.name for a in node.names if a.name != "*"]
    return [a.asname or a.name.split(".")[0] for a in node.names]


def _dunder_all(tree: ast.Module) -> set[str]:
    """Names listed in a module-level ``__all__ = [...]``."""
    out: set[str] = set()
    for n in tree.body:
        if isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            out |= {
                c.value for c in ast.walk(n.value)
                if isinstance(c, ast.Constant) and isinstance(c.value, str)
            }
    return out


def _unused_imports(path: str) -> list[str]:
    """``file:line: name`` for every import whose bound name is never read
    anywhere in the file. ``__future__`` imports and lines marked
    ``# noqa: F401`` (imports kept for their side effects) are skipped;
    names listed in ``__all__`` count as used."""
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    tree = ast.parse(src, filename=path)
    lines = src.splitlines()
    used = _dunder_all(tree)
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            used.add(n.id)
    rel = os.path.relpath(path, ROOT)
    out = []
    for n in ast.walk(tree):
        if not isinstance(n, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(n, ast.ImportFrom) and n.module == "__future__":
            continue
        if _noqa_f401(lines, n):
            continue
        out += [f"{rel}:{n.lineno}: {b}" for b in _bound_names(n) if b not in used]
    return out


def test_every_import_is_used():
    unused: list[str] = []
    for path in _files():
        unused += _unused_imports(path)
    assert not unused, "unused imports:\n" + "\n".join(unused)


def _is_query(node: ast.AST) -> bool:
    """Whether a definition carries the query registry's ``@q(...)``."""
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "q"
        for d in getattr(node, "decorator_list", ())
    )


def _top_level_names(tree: ast.Module) -> dict[str, int]:
    """``name -> line`` of every function, class and variable a module
    defines at its top level (dunders and ``@q`` queries excluded)."""
    out: dict[str, int] = {}
    for n in tree.body:
        if isinstance(n, _SCOPES):
            if not _is_query(n):
                out[n.name] = n.lineno
            continue
        targets = n.targets if isinstance(n, ast.Assign) else (
            [n.target] if isinstance(n, ast.AnnAssign) else []
        )
        for t in targets:
            for c in ast.walk(t):
                if isinstance(c, ast.Name):
                    out[c.id] = n.lineno
    return {k: v for k, v in out.items() if not (k.startswith("__") and k.endswith("__"))}


def _read_names(tree: ast.AST) -> set[str]:
    """Identifiers a file reads: loaded names, attribute names, names it
    imports and string constants spelled like an identifier (names looked
    up with ``getattr``, such as the metric kernels)."""
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out |= {a.name for a in n.names}
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def test_every_engine_name_is_used():
    """Every top-level ``gridfia_spark`` name is read somewhere in the
    program, tests or examples: a function or constant nothing reads is
    dead code a cut left behind. Queries registered with ``@q`` are exempt
    (the registry reaches them by name)."""
    read: set[str] = set()
    defined: list[tuple[str, str, int]] = []
    for path in _files() + [
        os.path.join(ROOT, "tests", f)
        for f in sorted(os.listdir(os.path.join(ROOT, "tests")))
        if f.endswith(".py")
    ]:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        read |= _read_names(tree)
        rel = os.path.relpath(path, ROOT)
        if rel.split(os.sep)[0] == PKG:
            defined += [(rel, name, line) for name, line in _top_level_names(tree).items()]
    assert len(defined) > 400, len(defined)  # the walk covered the engine
    dead = [f"{rel}:{line}: {name}" for rel, name, line in defined if name not in read]
    assert not dead, "top-level names nothing reads:\n" + "\n".join(dead)
