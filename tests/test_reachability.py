"""Every engine module is reached from a product entry point, and every
definition in it is read.

A module of ``immich_geodata_zh_tw_spark`` stays only if the product reaches
it: the driver entry (``__spark_entry__.py``: the flagship job and the
declared queries) or the benchmark workloads (``perfbench/workloads.py``).
Reachability is a static walk of ``import`` statements with ``ast`` — nothing
is imported or run — including imports inside function bodies (the engine
imports lazily) and the ``__init__`` of every package on a module's path.

Inside a module, every top-level ``def``, ``class`` and assigned name
stays only if some code or test outside its own body reads its name, or it
is decorated (``@register_handler`` registers the handlers). The query
registries ``_QUERIES`` and ``_ORACLES`` read every declared query and
oracle by name, so they count as readers.  Dunder names (``__all__``) are
read by the import system, not by code.

Every parameter of an engine function is read in the function's body
(nested functions included): a parameter nothing reads is an option that
changes nothing.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "immich_geodata_zh_tw_spark"
ENTRIES = ["__spark_entry__.py", "perfbench/workloads.py"]

def _module_file(root: Path, name: str) -> Path | None:
    """Source file of dotted module ``name`` under ``root``, if any."""
    base = root.joinpath(*name.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _module_name(root: Path, f: Path) -> str:
    parts = list(f.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(root: Path, f: Path) -> set[str]:
    """Dotted names a file imports; ``from m import x`` yields ``m`` and
    ``m.x`` (``x`` may be a submodule), relative imports resolved."""
    pkg = _module_name(root, f).split(".")
    if f.name != "__init__.py":
        pkg.pop()
    names: set[str] = set()
    for node in ast.walk(ast.parse(f.read_text(), str(f))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[:len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    return names


def reached_modules(root: Path, entries: list[str]) -> set[str]:
    """Dotted names of every repo module the entries import, transitively,
    with the packages that contain them."""
    seen: set[str] = set()
    todo = [root / e for e in entries]
    while todo:
        f = todo.pop()
        name = _module_name(root, f)
        if name in seen:
            continue
        seen.add(name)
        for imp in _imported(root, f) | {name}:
            parts = imp.split(".")
            for i in range(1, len(parts) + 1):
                g = _module_file(root, ".".join(parts[:i]))
                if g is not None:
                    todo.append(g)
    return seen


def package_modules(root: Path) -> set[str]:
    """Every module of the engine package, relative to the package."""
    return {_module_name(root / PACKAGE, f)
            for f in (root / PACKAGE).rglob("*.py")} - {""}


def unreached(root: Path) -> set[str]:
    """Package modules the entries do not reach."""
    prefix = PACKAGE + "."
    reached = {m[len(prefix):] for m in reached_modules(root, ENTRIES)
               if m.startswith(prefix)}
    return package_modules(root) - reached


def _reads(tree: ast.AST) -> Counter[str]:
    """Names a tree reads: loaded names, attribute names and the names a
    ``from`` import binds."""
    names: Counter[str] = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            names[node.id] += 1
        elif isinstance(node, ast.Attribute):
            names[node.attr] += 1
        elif isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
    return names


def _definitions(tree: ast.Module):
    """(name, node) of each top-level undecorated def or class and each
    name a top-level assignment binds, dunder names excepted."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node


def unread_definitions(root: Path) -> list[str]:
    """``module:name`` of each engine definition whose name nothing reads
    outside its own body, in any Python file of the repo."""
    trees = {f: ast.parse(f.read_text(), str(f)) for f in root.rglob("*.py")
             if not any(p.startswith(".")
                        for p in f.relative_to(root).parts)}
    reads = sum((_reads(t) for t in trees.values()), Counter())
    return sorted(
        f"{_module_name(root, f)}:{name}"
        for f, tree in trees.items()
        if f.relative_to(root).parts[0] == PACKAGE
        for name, node in _definitions(tree)
        if reads[name] == _reads(node)[name])


def unread_parameters(root: Path) -> list[str]:
    """``module:function(param)`` of each engine function parameter its
    body never reads."""
    out = []
    for f in sorted((root / PACKAGE).rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            params = [p.arg for p in (*a.posonlyargs, *a.args, *a.kwonlyargs,
                                      a.vararg, a.kwarg) if p is not None]
            reads = {n.id for stmt in node.body for n in ast.walk(stmt)
                     if isinstance(n, ast.Name)
                     and isinstance(n.ctx, ast.Load)}
            out += [f"{_module_name(root, f)}:{node.name}({p})"
                    for p in params if p not in reads]
    return out


def test_every_module_is_reached():
    assert sorted(unreached(ROOT)) == []


def test_every_definition_is_read():
    assert unread_definitions(ROOT) == []


def test_every_parameter_is_read():
    # the kNN joins' query_id is unread, but perfbench passes it; the
    # benchmark change that stops passing it deletes it and this pin
    assert unread_parameters(ROOT) == [
        f"{PACKAGE}.operators.knn:knn_join(query_id)",
        f"{PACKAGE}.operators.knn:knn_join_static(query_id)"]


def test_walk_follows_lazy_and_relative_imports(tmp_path):
    pkg = tmp_path / "p"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "a.py").write_text("def f():\n    from .sub import b\n")
    (pkg / "sub" / "b.py").write_text("from ..c import x\n")
    (pkg / "c.py").write_text("x = 1\n")
    (pkg / "d.py").write_text("")
    (tmp_path / "main.py").write_text("import p.a\n")
    assert reached_modules(tmp_path, ["main.py"]) == {
        "main", "p", "p.a", "p.sub", "p.sub.b", "p.c"}
    # a walk from a submodule reaches the packages that contain it
    assert reached_modules(tmp_path, ["p/sub/b.py"]) == {
        "p", "p.sub", "p.sub.b", "p.c"}


def test_parameter_walk_counts_nested_reads(tmp_path):
    pkg = tmp_path / PACKAGE
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def f(a, b=1, *args, c, **kw):\n"
        "    def g():\n        return a + len(args)\n"
        "    return g\n"
        "class C:\n    def m(self, x):\n        return self\n")
    assert unread_parameters(tmp_path) == [
        f"{PACKAGE}.m:f(b)", f"{PACKAGE}.m:f(c)", f"{PACKAGE}.m:f(kw)",
        f"{PACKAGE}.m:m(x)"]


def test_definition_walk_skips_self_reads_and_decorated(tmp_path):
    pkg = tmp_path / PACKAGE
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "m.py").write_text(
        "def rec(n):\n    return rec(n - 1)\n"
        "@reg\ndef handler():\n    pass\n"
        "def used():\n    pass\n"
        "SQL_A = 'x'\nSQL_B = 'y'\nOTHER = 1\nX, Y = 1, 2\nT: int = 3\n"
        "__all__ = ['used']\n"
        "class C:\n    pass\n")
    (tmp_path / "t.py").write_text(
        f"from {PACKAGE}.m import used\nprint(SQL_B, Y)\n")
    assert unread_definitions(tmp_path) == [
        f"{PACKAGE}.m:C", f"{PACKAGE}.m:OTHER", f"{PACKAGE}.m:SQL_A",
        f"{PACKAGE}.m:T", f"{PACKAGE}.m:X", f"{PACKAGE}.m:rec"]
