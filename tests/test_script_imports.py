"""Every name that ``bench.py`` and ``scripts/*.py`` import from the
package, or from a sibling script, exists: an AST scan that includes
function-local imports, which fail only when their code path runs."""

from __future__ import annotations

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = ROOT / "scripts"
PKG = "clickstream_pipeline_aws_kafka_docker_airflow__spark"


def local_imports(src: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each import of the package or of a
    sibling script; name is None for a plain ``import module``."""
    ours = {PKG} | {p.stem for p in SCRIPTS.glob("*.py")}
    found = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.ImportFrom) and node.module:
            pairs = [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            pairs = [(a.name, None) for a in node.names]
        else:
            continue
        found += [(node.lineno, m, n) for m, n in pairs if m.split(".")[0] in ours]
    return found


def unresolved(src: str) -> list[str]:
    """``line module[.name]`` for each local import that fails."""
    bad = []
    for line, mod, name in local_imports(src):
        try:
            m = importlib.import_module(mod)
            if name is not None and not hasattr(m, name):
                importlib.import_module(f"{mod}.{name}")
        except ImportError:
            bad.append(f"{line} {mod}" + (f".{name}" if name else ""))
    return bad


def test_scan_flags_a_missing_local_name():
    src = (
        "import json\n"
        "def f():\n"
        f"    from {PKG}.memo import MEMO, NO_SUCH\n"
        f"    from {PKG} import registry\n"
    )
    assert unresolved(src) == [f"3 {PKG}.memo.NO_SUCH"]


def test_scripts_and_bench_import_existing_names(monkeypatch):
    monkeypatch.syspath_prepend(str(SCRIPTS))
    found = [
        f"{path.relative_to(ROOT)}:{entry}"
        for path in [*sorted(SCRIPTS.glob("*.py")), ROOT / "bench.py"]
        for entry in unresolved(path.read_text())
    ]
    assert found == []
