"""Import guard: every name a workload module imports at module level is
used in that module.

Workload modules were carved out of one large file, each with a copy of
the same import block; names a module does not use only hide which
modules it depends on.  ``workloads/__init__.py`` is excepted: its imports
register the member modules and re-export the registry.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import ophidia_io_server_spark

WORKLOADS = Path(ophidia_io_server_spark.__file__).parent / "workloads"


def _unused_imports(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    bound: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f"{path.name}:{line} {name}" for name, line in sorted(bound.items())
            if name not in used]


@pytest.mark.parametrize("path", sorted(p for p in WORKLOADS.glob("*.py")
                                        if p.name != "__init__.py"),
                         ids=lambda p: p.stem)
def test_workload_module_imports_are_used(path):
    assert _unused_imports(path) == []
