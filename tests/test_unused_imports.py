"""Every name the package imports is used: an AST scan for
imported-but-unused names (``__init__.py`` files, ``__future__``
imports and ``noqa`` lines excepted)."""

from __future__ import annotations

import ast
import pathlib

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "clickstream_pipeline_aws_kafka_docker_airflow__spark"
)


def unused_imports(src: str) -> list[tuple[int, str]]:
    """(line, name) for each imported name the module never reads."""
    lines = src.splitlines()
    tree = ast.parse(src)
    imported: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if "noqa" in lines[node.lineno - 1]:
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                imported.setdefault(name, node.lineno)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return sorted(
        (line, name) for name, line in imported.items() if name not in used
    )


def test_scan_flags_an_unused_import():
    src = (
        "from __future__ import annotations\n"
        "import os\n"
        "import sys  # noqa: F401\n"
        "from json import dumps, loads\n"
        "import xml.dom\n"
        "print(loads, xml.dom)\n"
    )
    assert unused_imports(src) == [(2, "os"), (4, "dumps")]


def test_package_has_no_unused_imports():
    found = [
        f"{path.relative_to(PKG)}:{line} {name}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "__init__.py"
        for line, name in unused_imports(path.read_text())
    ]
    assert found == []
