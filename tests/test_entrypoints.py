"""The entry points that stay: the ``__spark_entry__.py`` contract
(``entry``/``queries``/``oracle_sql``) and the command-line tools under
``tools/``, whose in-repo imports must still resolve — plus the module
boundary that keeps the merge table's snapshot format inside ``sinks/``,
the streaming sinks behind one runner and every worker thread behind one
job-group-inheriting helper."""

from __future__ import annotations

import ast
import importlib.util
import re
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


PACKAGE = REPO / "tlcn_oer_lakehouse_spark"
SIDECAR = re.compile(r"(?<![A-Za-z0-9])(_epoch_|_tombstones|_changes|__staging)")


def _snapshot_format_uses(source: str) -> list[tuple[int, str]]:
    """(line, literal) for every string literal, docstrings aside, that
    names a snapshot sidecar or builds or parses a ``__v`` version dir:
    in an f-string, joined with ``+``, or inside a path or pattern.  A
    bare ``"__v"`` column alias is not a path."""
    tree = ast.parse(source)
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef))
        and node.body and isinstance(node.body[0], ast.Expr)
    }
    built: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            built |= {id(v) for v in node.values}
        elif isinstance(node, ast.BinOp):
            built |= {id(node.left), id(node.right)}
    return sorted(
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and id(node) not in docstrings
        and (SIDECAR.search(node.value) or "__v" in node.value and (
            id(node) in built or not re.fullmatch(r"[\w.]+", node.value)))
    )


def test_only_sinks_know_the_snapshot_format():
    outside = [p for p in sorted(PACKAGE.rglob("*.py"))
               if p.relative_to(PACKAGE).parts[0] != "sinks"]
    hits = {
        str(p.relative_to(REPO)): uses for p in outside
        if (uses := _snapshot_format_uses(p.read_text()))
    }
    assert hits == {}


def test_snapshot_format_check_flags_paths_not_aliases():
    src = "\n".join([
        'a = f"{path}__v{n:06d}"',
        'b = os.path.basename(path) + "__v"',
        'c = re.compile(r"__v(\\d+)/")',
        'd = os.path.join(snap, "_tombstones")',
        'e = f"_epoch_{batch_id}"',
        'f = F.col("v").alias("__v")',
        'g = F.col("va.__v")',
        'h = format("oer_mergetable_changes")',
    ])
    assert [line for line, _ in _snapshot_format_uses(src)] == [1, 2, 3, 4, 5]


def test_streaming_sinks_start_through_one_runner():
    """Every foreachBatch sink starts through ``streaming/ingest.py``'s
    one runner, whose trigger is always ``availableNow``: one
    ``.writeStream`` access in the package, no per-sink trigger option."""
    write_streams = [
        (str(p.relative_to(PACKAGE)), node.lineno)
        for p in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "writeStream"
    ]
    assert [f for f, _ in write_streams] == ["streaming/ingest.py"], write_streams
    ingest = ast.parse((PACKAGE / "streaming" / "ingest.py").read_text())
    knobs = [
        node.name for node in ast.walk(ingest)
        if isinstance(node, ast.FunctionDef)
        and "available_now" in [a.arg for a in node.args.args + node.args.kwonlyargs]
    ]
    assert knobs == []


# names that start an OS thread (or a pool of them) when called
THREAD_STARTERS = {"Thread", "InheritableThread", "Timer", "ThreadPoolExecutor",
                   "ProcessPoolExecutor", "start_new_thread"}


def test_worker_threads_start_in_one_place():
    """The package starts threads in exactly one place, the Silver commit
    helper, and every target it hands its pool is wrapped by
    ``inheritable_thread_target(spark)``: a thread that dropped the
    caller's job group and local properties fails here."""
    starts = [
        (str(p.relative_to(PACKAGE)), node.lineno)
        for p in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if (node.id if isinstance(node, ast.Name) else getattr(node, "attr", None))
        in THREAD_STARTERS
    ]
    medallion = ast.parse((PACKAGE / "pipelines" / "medallion.py").read_text())
    fn = next(node for node in ast.walk(medallion)
              if isinstance(node, ast.FunctionDef) and node.name == "_commit_concurrently")
    assert len(starts) == 1, starts
    assert starts[0][0] == "pipelines/medallion.py"
    assert fn.lineno <= starts[0][1] <= fn.end_lineno

    def wrapped(target: ast.expr) -> bool:
        # inheritable_thread_target(<session>)(target)
        return (isinstance(target, ast.Call) and isinstance(target.func, ast.Call)
                and isinstance(target.func.func, ast.Name)
                and target.func.func.id == "inheritable_thread_target"
                and len(target.func.args) == 1)

    handed = [
        node for node in ast.walk(fn)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("submit", "map")
    ]
    assert handed and all(
        h.func.attr == "submit" and wrapped(h.args[0]) for h in handed
    ), [ast.unparse(h) for h in handed]
