"""Every package module must be reachable from an entry point.

The walk parses source with ``ast`` and never imports it. It follows
``import`` and ``from ... import`` statements anywhere in a module
(function-local imports included, as ``cli.py`` uses them), resolves
relative imports against the importing module's package, and counts
``from pkg import mod`` as an import of ``pkg.mod`` when that is a
module. A module only tests reach is code the system does not run:
delete it, wire it into an entry point, or name it in
``ALLOWED_UNREACHED`` with the reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "use_clickhouse_2_analyze_mysql_binlog_spark"

#: package modules kept although no entry point imports them, each with
#: the reason it stays
ALLOWED_UNREACHED: dict[str, str] = {}


def _entry_points() -> list[Path]:
    return [
        ROOT / PACKAGE / "cli.py",
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        ROOT / "bench_replicate.py",
        *(
            p for p in sorted((ROOT / "perfbench").glob("*.py"))
            if not p.name.startswith("test_")
        ),
    ]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _module_path(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _imported_names(path: Path) -> set[str]:
    """Dotted names of every module a file's import statements load,
    including the parent packages each import runs."""
    is_pkg = path.name == "__init__.py"
    package = _module_name(path).split(".")
    if not is_pkg:
        package = package[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    expanded = set()
    for n in names:
        parts = n.split(".")
        expanded.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return expanded


def reached_modules() -> set[str]:
    seen: set[str] = set()
    todo = [_module_name(p) for p in _entry_points()]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        path = _module_path(name)
        if path is None:  # third-party, stdlib or an imported attribute
            continue
        seen.add(name)
        todo.extend(_imported_names(path) - seen)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    package = {
        _module_name(p) for p in sorted((ROOT / PACKAGE).rglob("*.py"))
    }
    unreached = package - reached_modules() - set(ALLOWED_UNREACHED)
    assert not unreached, (
        "package modules no entry point imports: "
        + ", ".join(sorted(unreached))
    )
    stale = set(ALLOWED_UNREACHED) - package
    assert not stale, f"ALLOWED_UNREACHED names missing modules: {stale}"
