"""Every import in the package is the standard library, the package
itself, or a dependency that ``pyproject.toml`` declares.

An optional backend guarded by ``try: import ...`` only ever runs where
its dependency happens to be installed, so its tests skip everywhere
else and the code behind them goes unexercised. This check keeps such
forks out: a new third-party import must first become a declared
dependency."""

from __future__ import annotations

import ast
import re
import sys
import tomllib
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "tally_database_loader_spark"
# import name → distribution name, where the two differ
DISTRIBUTION = {"yaml": "pyyaml"}


def _declared() -> set[str]:
    with open(ROOT / "pyproject.toml", "rb") as fh:
        deps = tomllib.load(fh)["project"]["dependencies"]
    return {re.match(r"[A-Za-z0-9_.-]+", d).group(0).lower()
            .replace("_", "-") for d in deps}


def _imports() -> dict[str, set[str]]:
    """Top-level module name → the package files that import it
    (relative imports are the package's own and are left out)."""
    out: dict[str, set[str]] = {}
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module]
            else:
                continue
            for name in names:
                out.setdefault(name.split(".")[0], set()).add(rel)
    return out


def test_every_import_is_stdlib_package_or_declared():
    declared = _declared()
    imports = _imports()
    assert {"pyspark", "numpy"} <= imports.keys()  # the walk sees imports
    undeclared = {
        mod: sorted(files) for mod, files in imports.items()
        if mod != PACKAGE and mod not in sys.stdlib_module_names
        and DISTRIBUTION.get(mod, mod).lower().replace("_", "-")
        not in declared}
    assert not undeclared, (
        f"imports not declared in pyproject.toml: {undeclared}")
