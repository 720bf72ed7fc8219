"""The dev scripts stay wired to the engine: every ``eventstreamer_spark``
name that ``bench.py`` and ``scripts/*.py`` import, or read off an
imported engine module, must resolve. The engine itself makes and
frees local checkpoints only through ``memo``, starts gate streams
only through ``streaming.pipeline.run_stream``, and rounds half-up only
through ``functions.numeric``. No Spark session is started."""

from __future__ import annotations

import ast
import importlib
import types
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = [ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py"))]
ENGINE = ROOT / "eventstreamer_spark"


def _engine_names(tree: ast.AST) -> tuple[list[tuple[str, str | None]], dict[str, str]]:
    """([(module, imported name or None)], {local alias: module path})
    for every import of the engine package in ``tree``."""
    refs: list[tuple[str, str | None]] = []
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "eventstreamer_spark":
                    refs.append((a.name, None))
                    if a.asname:
                        aliases[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == "eventstreamer_spark":
                for a in node.names:
                    refs.append((node.module, a.name))
                    aliases[a.asname or a.name] = f"{node.module}.{a.name}"
    return refs, aliases


def _resolve(path: str) -> object:
    """Import ``path`` as a module, or as an attribute of its parent."""
    try:
        return importlib.import_module(path)
    except ModuleNotFoundError:
        parent, _, name = path.rpartition(".")
        return getattr(importlib.import_module(parent), name)


@pytest.mark.parametrize("tool", TOOLS, ids=lambda p: p.name)
def test_tool_engine_imports_resolve(tool):
    tree = ast.parse(tool.read_text(), filename=str(tool))
    refs, aliases = _engine_names(tree)
    missing = []
    for module, name in refs:
        try:
            _resolve(module if name is None else f"{module}.{name}")
        except (ImportError, AttributeError):
            missing.append(module if name is None else f"{module}.{name}")
    # attributes read off an imported engine module (``P.run_stream``)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            target = _resolve(aliases[node.value.id])
            if isinstance(target, types.ModuleType) and not hasattr(target, node.attr):
                missing.append(f"{aliases[node.value.id]}.{node.attr}")
    assert not missing, f"{tool.name}: unresolved engine names {missing}"


def test_tools_are_scanned():
    # the scan above must see the tools' engine imports at all
    refs, _ = _engine_names(ast.parse((ROOT / "bench.py").read_text()))
    assert ("eventstreamer_spark", "obs") in refs


def test_checkpoints_only_through_memo():
    """No engine module outside memo.py calls ``.localCheckpoint(`` or
    names ``free_local_checkpoint``: every checkpoint goes through
    ``memo.checkpoint``, which hands it to its one owner."""
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        if path == ENGINE / "memo.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else node.name if isinstance(node, ast.alias)
                else None
            )
            if name in ("localCheckpoint", "free_local_checkpoint"):
                found.append(f"{path.relative_to(ROOT)}:{node.lineno}: {name}")
    assert not found, found


def _is_half(node: ast.AST) -> bool:
    """``0.5`` or ``<F>.lit(0.5)``."""
    if isinstance(node, ast.Call) and len(node.args) == 1:
        func = node.func
        if getattr(func, "attr", getattr(func, "id", None)) == "lit":
            node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == 0.5


def test_half_up_rounding_only_in_numeric():
    """No engine module outside functions/numeric.py spells the Spark
    half-up rounding ``F.floor(<x> + 0.5)``: every site calls the
    ``numeric.half_up*`` helpers. numpy/math floors inside Python
    kernels are not Spark columns and stay."""
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        if path == ENGINE / "functions" / "numeric.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not (isinstance(node, ast.Call) and node.args):
                continue
            func, arg = node.func, node.args[0]
            owner = getattr(func, "value", None)
            spark_floor = (
                isinstance(func, ast.Attribute)
                and func.attr == "floor"
                and getattr(owner, "id", None) not in ("np", "numpy", "math")
            ) or (isinstance(func, ast.Name) and func.id == "floor")
            if (
                spark_floor
                and isinstance(arg, ast.BinOp)
                and isinstance(arg.op, ast.Add)
                and (_is_half(arg.left) or _is_half(arg.right))
            ):
                where = f"{path.relative_to(ROOT)}:{node.lineno}"
                found.append(f"{where}: {ast.unparse(node)[:80]}")
    assert not found, found


def test_streams_start_only_in_the_runner():
    """``.writeStream`` appears in the engine only inside
    ``streaming.pipeline.run_stream`` (the one gate-stream runner), and
    no engine module outside ``session.py`` calls ``configure(`` — the
    driver contract configures the session before every query."""
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        runner = [
            node for node in ast.walk(tree)
            if isinstance(node, ast.FunctionDef) and node.name == "run_stream"
        ]
        inside = {id(n) for r in runner for n in ast.walk(r)}
        for node in ast.walk(tree):
            where = f"{path.relative_to(ROOT)}:{getattr(node, 'lineno', 0)}"
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "writeStream"
                and not (path == ENGINE / "streaming" / "pipeline.py" and id(node) in inside)
            ):
                found.append(f"{where}: .writeStream")
            if (
                isinstance(node, ast.Call)
                and (getattr(node.func, "id", None) or getattr(node.func, "attr", None)) == "configure"
                and path != ENGINE / "session.py"
            ):
                found.append(f"{where}: configure(")
    assert not found, found
