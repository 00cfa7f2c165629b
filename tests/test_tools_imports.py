"""Every name a script takes from the engine still exists, and every
script imports the engine from its own tree.

The scripts — ``tools/*.py``, ``bench.py`` and the benchmark's
``perfbench/*.py`` — import bundle internals (``ent._nd_arts``,
``memo.get``, ...) or wrap engine entry points by name
(``_wrap(tracer, opt, "optimize", ...)``) that no engine code path
exercises, so a library change that deletes or renames one breaks the
script silently until someone runs it.  This walks each script's AST,
imports the engine modules it names, and checks every ``from <engine
module> import name``, every attribute read through an engine alias (a
module, or a class imported from one, and dotted chains from them) and
every string literal passed right after such an alias.  Aliases follow
Python's scoping: a local of the same name hides them.  No Spark
session is started.

A script that puts a fixed absolute checkout path on ``sys.path`` imports
that checkout's engine wherever it is run from, so a run from a second
copy of the repo (a parent/change comparison) tests the wrong tree;
scripts resolve the repo from ``__file__`` instead."""

import ast
import importlib
import os
from pathlib import Path
from types import ModuleType

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = ROOT / "tools"
SCRIPTS = (sorted(TOOLS.glob("*.py")) + [ROOT / "bench.py"]
           + sorted((ROOT / "perfbench").glob("*.py")))
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _engine_module(name: str) -> bool:
    return name == "__spark_entry__" or name.split(".")[0] == "yupana_spark"


def _has(owner, name: str) -> bool:
    if hasattr(owner, name):
        return True
    if not isinstance(owner, ModuleType):
        return False
    try:        # a submodule not yet imported by its package
        importlib.import_module(f"{owner.__name__}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def _owner(node, aliases):
    """The engine module or class ``node`` (a name or a dotted attribute
    chain) denotes, or None."""
    if isinstance(node, ast.Name):
        return aliases.get(node.id)
    if isinstance(node, ast.Attribute):
        obj = getattr(_owner(node.value, aliases), node.attr, None)
        return obj if isinstance(obj, (ModuleType, type)) else None
    return None


def _own_nodes(scope):
    """The nodes of ``scope`` outside its nested scopes (the nested scope
    nodes themselves are included)."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _check(scope, inherited: dict, missing: list) -> None:
    nodes = list(_own_nodes(scope))
    aliases = dict(inherited)
    for node in nodes:      # a local binding hides an outer alias
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            aliases.pop(node.id, None)
        elif isinstance(node, ast.arg):
            aliases.pop(node.arg, None)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                aliases.pop((a.asname or a.name).split(".")[0], None)
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                if _engine_module(a.name) and a.asname:
                    aliases[a.asname] = importlib.import_module(a.name)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 \
                and _engine_module(node.module or ""):
            mod = importlib.import_module(node.module)
            for a in node.names:
                obj = getattr(mod, a.name, None)
                if not _has(mod, a.name):
                    missing.append(f"{node.module}.{a.name}")
                elif isinstance(obj, (ModuleType, type)):
                    aliases[a.asname or a.name] = obj
    uses = []       # (owner expression, attribute name)
    for node in nodes:
        if isinstance(node, ast.Attribute):
            uses.append((node.value, node.attr))
        elif isinstance(node, ast.Call):
            uses += [(arg, nxt.value)
                     for arg, nxt in zip(node.args, node.args[1:])
                     if isinstance(nxt, ast.Constant)
                     and isinstance(nxt.value, str)]
    for expr, attr in uses:
        owner = _owner(expr, aliases)
        if owner is not None and not _has(owner, attr):
            missing.append(f"{owner.__name__}.{attr}")
    for node in nodes:
        if isinstance(node, _SCOPES):
            _check(node, aliases, missing)


def missing_engine_names(path: Path) -> list:
    """``owner.name`` strings that ``path`` uses but the engine lacks."""
    missing = []
    _check(ast.parse(path.read_text(), str(path)), {}, missing)
    return sorted(set(missing))


def fixed_sys_paths(path: Path) -> list:
    """Absolute path literals ``path`` puts on ``sys.path``."""
    return [a.value for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append")
            and ast.unparse(node.func.value) == "sys.path"
            for a in node.args
            if isinstance(a, ast.Constant) and isinstance(a.value, str)
            and os.path.isabs(a.value)]


_IDS = [p.name if p.parent == TOOLS else str(p.relative_to(ROOT))
        for p in SCRIPTS]


@pytest.mark.parametrize("script", SCRIPTS, ids=_IDS)
def test_tool_uses_only_live_engine_names(script):
    assert missing_engine_names(script) == []


@pytest.mark.parametrize("script", SCRIPTS, ids=_IDS)
def test_tool_imports_its_own_tree(script):
    assert fixed_sys_paths(script) == []


def test_missing_name_is_reported(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import __spark_entry__ as ent\n"
        "from yupana_spark import memo\n"
        "from yupana_spark.compiler import Tsdb\n"
        "from yupana_spark.datapipe.dedup import (minhash_dedup_pairs,\n"
        "                                         no_such_operator)\n"
        "def main():\n"
        "    ent.queries(); ent._no_such_helper(); memo.no_such_kind\n"
        "    wrap(tracer, Tsdb, 'no_such_method', 'x')\n"
        "    memo.StorageLevel.NO_SUCH_LEVEL\n"
        "def shadowed(memo):\n"
        "    return memo.not_the_module\n")
    assert missing_engine_names(probe) == [
        "StorageLevel.NO_SUCH_LEVEL",
        "Tsdb.no_such_method",
        "__spark_entry__._no_such_helper",
        "yupana_spark.datapipe.dedup.no_such_operator",
        "yupana_spark.memo.no_such_kind",
    ]


def test_fixed_sys_path_is_reported(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import os, sys\n"
        "sys.path.insert(0, '/srv/checkout')\n"
        "sys.path.append('/opt/other')\n"
        "sys.path.insert(0, os.path.dirname(__file__))\n"
        "sys.path.insert(0, 'relative')\n")
    assert fixed_sys_paths(probe) == ["/srv/checkout", "/opt/other"]
