"""Every script under ``tools/`` must still import what it names from
the engine: a renamed or deleted ``tabata_spark`` function otherwise
breaks a tool that no other test runs. Static (``ast``) — no tool is
executed and no Spark session starts."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(
    os.path.join(REPO, "tools", f)
    for f in os.listdir(os.path.join(REPO, "tools"))
    if f.endswith(".py")
)


def _engine_imports(path):
    """(line, module, name) for each engine import in the script;
    ``name`` is None for a plain ``import tabata_spark.x``."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == "tabata_spark":
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "tabata_spark":
                    yield node.lineno, alias.name, None


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_engine_imports_resolve(path):
    broken = []
    for line, module, name in _engine_imports(path):
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            broken.append(f"{line}: {module} ({exc})")
            continue
        if name is None or name == "*" or hasattr(mod, name):
            continue
        if importlib.util.find_spec(f"{module}.{name}") is None:
            broken.append(f"{line}: {module}.{name}")
    assert broken == [], f"{os.path.basename(path)} imports missing names: {broken}"


def test_tools_are_scanned():
    # the scan must see the tools' engine imports at all, or the check
    # above passes vacuously
    assert sum(1 for p in TOOLS for _ in _engine_imports(p)) > 10
