"""The entry points that stay: the ``__spark_entry__.py`` contract
(``entry``/``queries``/``oracle_sql``) and the command-line tools under
``tools/``, whose in-repo imports must still resolve."""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

import pytest

from tlcn_oer_lakehouse_spark.queries import REGISTRY

REPO = Path(__file__).resolve().parent.parent
IN_REPO = ("tlcn_oer_lakehouse_spark", "tools", "tests")
TOOLS = sorted((REPO / "tools").glob("*.py"))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_contract_matches_registry(spark):
    mod = _load_entry()
    qs, osql = mod.queries(), mod.oracle_sql()
    assert list(qs) == list(REGISTRY) and len(qs) == 237
    assert set(osql) <= set(qs)
    assert mod.entry(spark).collect()


def _module_path(dotted: str) -> Path | None:
    """The file (or namespace-package directory) ``dotted`` names."""
    base = REPO.joinpath(*dotted.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py", base):
        if cand.exists():
            return cand
    return None


def _top_level_names(path: Path) -> set[str]:
    names: set[str] = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


def _missing_imports(tool: Path) -> list[str]:
    """Every in-repo ``from M import n`` in ``tool`` whose module M or
    name n does not exist (n may be a top-level name or a submodule)."""
    missing = []
    for node in ast.walk(ast.parse(tool.read_text())):
        if not (isinstance(node, ast.ImportFrom) and node.level == 0 and node.module):
            continue
        if node.module.split(".")[0] not in IN_REPO:
            continue
        path = _module_path(node.module)
        if path is None:
            missing.append(node.module)
            continue
        defined = _top_level_names(path) if path.is_file() else set()
        for alias in node.names:
            if alias.name == "*" or alias.name in defined:
                continue
            if _module_path(f"{node.module}.{alias.name}") is None:
                missing.append(f"{node.module}.{alias.name}")
    return missing


@pytest.mark.parametrize("tool", TOOLS, ids=[t.name for t in TOOLS])
def test_tool_imports_resolve(tool):
    assert not _missing_imports(tool)


def test_import_check_flags_a_deleted_name(tmp_path):
    tool = tmp_path / "stale_tool.py"
    tool.write_text(
        "from tlcn_oer_lakehouse_spark.queries import REGISTRY, _NOT_DEFINED\n"
        "from tools.no_such_tool import main\n"
    )
    assert _missing_imports(tool) == [
        "tlcn_oer_lakehouse_spark.queries._NOT_DEFINED", "tools.no_such_tool",
    ]
