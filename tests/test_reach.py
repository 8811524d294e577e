"""Every ``argo_spark`` module is reached by an import walk from the
programs that use the library: the rdf tool, the KG pipeline, the
driver contract, the Spark jobs, ``bench.py`` and ``perfbench``. A
module that only its own tests import is dead code. Pure ``ast``, no
Spark."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

ROOTS = [
    REPO / "argo_spark" / "cli.py",
    REPO / "argo_spark" / "pipeline.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "jobs").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _module_file(name: str) -> Path | None:
    base = REPO.joinpath(*name.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _imported_names(path: Path) -> set[str]:
    """Dotted names of every ``import`` / ``from … import`` in the
    file, at module level and inside function bodies alike; a
    ``from pkg import x`` also names ``pkg.x`` (a submodule or not)."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    return names


def _reached() -> set[str]:
    seen: set[str] = set()
    todo = list(ROOTS)
    while todo:
        path = todo.pop()
        name = _module_name(path)
        if name in seen:
            continue
        seen.add(name)
        for imported in _imported_names(path):
            parts = imported.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ first
            for i in range(1, len(parts) + 1):
                f = _module_file(".".join(parts[:i]))
                if f is not None and _module_name(f) not in seen:
                    todo.append(f)
    return seen


def test_every_library_module_is_reached():
    modules = {_module_name(p) for p in (REPO / "argo_spark").rglob("*.py")}
    unreached = sorted(modules - _reached())
    assert not unreached, f"imported by no program, only by tests: {unreached}"
