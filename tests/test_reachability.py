"""Every engine module is reached from a product entry point.

A module of ``immich_geodata_zh_tw_spark`` stays only if the product reaches
it: the driver entry (``__spark_entry__.py``: the flagship job and the
declared queries) or the benchmark workloads (``perfbench/workloads.py``).
Reachability is a static walk of ``import`` statements with ``ast`` — nothing
is imported or run — including imports inside function bodies (the engine
imports lazily) and the ``__init__`` of every package on a module's path.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "immich_geodata_zh_tw_spark"
ENTRIES = ["__spark_entry__.py", "perfbench/workloads.py"]

#: modules kept although no entry reaches them, one reason each
UNREACHED_OK = {
    "skew.salting": "north-rule skew item; kept until a straggler "
                    "measurement decides it",
    "streaming.pipeline": "no decision yet on the streaming path",
    "streaming.stateful": "no decision yet on the streaming path",
    "operators.validate": "no decision yet on the validation operators",
}


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


def unreached(root: Path, kept: list[str]) -> set[str]:
    """Package modules reached neither from the entries nor from the
    ``kept`` package modules (whose own imports and packages they need)."""
    files = ENTRIES + [str(_module_file(root / PACKAGE, m).relative_to(root))
                       for m in kept]
    prefix = PACKAGE + "."
    reached = {m[len(prefix):] for m in reached_modules(root, files)
               if m.startswith(prefix)}
    return package_modules(root) - reached


def test_every_module_is_reached():
    assert sorted(unreached(ROOT, list(UNREACHED_OK))) == []


def test_exemptions_are_current():
    """An exempt module that an entry now reaches must leave the list."""
    assert sorted(set(UNREACHED_OK) - unreached(ROOT, [])) == []


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
