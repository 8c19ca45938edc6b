"""bench.py and tools/*.py import package names, often inside functions
that only run on demand (tools/stress_10x.py). Nothing else imports these
scripts, so a name deleted or renamed in the package breaks them
silently. Parse each script and resolve every package name it imports."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "data_pipeline_team5_spark"
SCRIPTS = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]


def _package_imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) for every package import anywhere in ``path``,
    function-local ones included; ``name`` is None for ``import m``."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            (node.module or "").split(".")[0] == PKG
        ):
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None) for a in node.names
                if a.name.split(".")[0] == PKG
            ]
    return out


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_resolve(path):
    imports = _package_imports(path)
    unresolved = []
    for module, name in imports:
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            unresolved.append(f"{module}: {e}")
            continue
        if name is None or hasattr(mod, name):
            continue
        try:  # `from pkg import submodule`
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            unresolved.append(f"{module}.{name}")
    assert not unresolved, f"{path.name} imports missing names: {unresolved}"


def test_scripts_are_scanned():
    # the walk must see function-local imports, or the test above would
    # pass vacuously on the tool that holds most of them
    stress = _package_imports(ROOT / "tools" / "stress_10x.py")
    assert ("data_pipeline_team5_spark.pipeline",
            "build_perceptual_index") in stress
    assert len(_package_imports(ROOT / "bench.py")) >= 3
