"""Tooling guard: the scripts, bench.py and perfbench/ live outside the
package's own tests, so a renamed or deleted package name would strand
them silently. Every ``scripts/*.py`` must byte-compile, and every
package name they import, or read as an attribute of an imported package
module, must resolve."""

from __future__ import annotations

import ast
import importlib
import types
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "udacity_data_engineering_spark"
FILES = sorted(
    [*ROOT.glob("scripts/*.py"), ROOT / "bench.py", *ROOT.glob("perfbench/*.py")],
    key=lambda p: str(p.relative_to(ROOT)),
)


def _resolve(module: str, name: str):
    """``from module import name`` without executing it: the attribute,
    or the submodule of that name; AttributeError if neither exists."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        raise AttributeError(f"{module} has no {name}") from None


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_package_names_used_by_tooling_resolve(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    compile(tree, str(path), "exec")
    modules: dict[str, types.ModuleType] = {}  # local name -> package module
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PKG:
            for alias in node.names:
                try:
                    obj = _resolve(node.module, alias.name)
                except AttributeError as e:
                    missing.append(f"line {node.lineno}: {e}")
                    continue
                if isinstance(obj, types.ModuleType):
                    modules[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    mod = importlib.import_module(alias.name)
                    if alias.asname:
                        modules[alias.asname] = mod
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"line {node.lineno}: {node.value.id}.{node.attr}")
    assert not missing, missing
