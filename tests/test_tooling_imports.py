"""Scripts and benchmark files import only names the package still has.

Measurement scripts are not run by the suite, so a script left
importing a deleted function would otherwise only fail when someone
next runs it. Each file is parsed, never executed."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

PACKAGE = "spotify_serverless_etl_pipeline_engineering_with_azure_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL_FILES = sorted(
    os.path.relpath(p, ROOT)
    for pattern in ("scripts/*.py", "perfbench/*.py", "bench.py")
    for p in glob.glob(os.path.join(ROOT, pattern))
)


def package_imports(source: str) -> list[tuple[str, str | None]]:
    """(module, name) for every absolute import of the package anywhere
    in ``source``, nested imports included; name is None for a plain
    ``import module``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module.split(".")[0] == PACKAGE:
                found += [(node.module, a.name) for a in node.names if a.name != "*"]
        elif isinstance(node, ast.Import):
            found += [(a.name, None) for a in node.names if a.name.split(".")[0] == PACKAGE]
    return found


def test_tool_files_found():
    assert "bench.py" in TOOL_FILES
    assert any(f.startswith("scripts/") for f in TOOL_FILES)
    assert any(f.startswith("perfbench/") for f in TOOL_FILES)


@pytest.mark.parametrize("path", TOOL_FILES)
def test_tool_imports_resolve(path):
    with open(os.path.join(ROOT, path), encoding="utf-8") as f:
        imports = package_imports(f.read())
    missing = []
    for module, name in imports:
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            missing.append(f"{module}: {exc}")
            continue
        if name is None or hasattr(mod, name):
            continue
        try:  # a submodule its package does not import eagerly
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{module}.{name}")
    assert not missing, f"{path} imports names the package lacks: {missing}"
