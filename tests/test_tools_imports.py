"""Every name a ``tools/*.py`` script takes from the engine still exists.

The tools import bundle internals (``ent._nd_arts``, ``memo.get``, ...)
that no engine code path exercises, so a library change that deletes or
renames one breaks the script silently until someone runs it.  This walks
each script's AST, imports the engine modules it names, and checks every
``from <engine module> import name`` and every attribute used through an
engine-module alias.  No Spark session is started."""

import ast
import importlib
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _engine_module(name: str) -> bool:
    return name == "__spark_entry__" or name.split(".")[0] == "yupana_spark"


def _has(module, name: str) -> bool:
    if hasattr(module, name):
        return True
    try:        # a submodule not yet imported by its package
        importlib.import_module(f"{module.__name__}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def missing_engine_names(path: Path) -> list:
    """``module.name`` strings that ``path`` uses but the engine lacks."""
    tree = ast.parse(path.read_text(), str(path))
    aliases, missing = {}, []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _engine_module(a.name):
                    mod = importlib.import_module(a.name)
                    if a.asname:
                        aliases[a.asname] = mod
        elif isinstance(node, ast.ImportFrom) and node.level == 0 \
                and _engine_module(node.module or ""):
            mod = importlib.import_module(node.module)
            for a in node.names:
                if not _has(mod, a.name):
                    missing.append(f"{node.module}.{a.name}")
                elif isinstance(getattr(mod, a.name, None), type(mod)):
                    aliases[a.asname or a.name] = getattr(mod, a.name)
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) \
                and isinstance(node.value, ast.Name) \
                and node.value.id in aliases:
            mod = aliases[node.value.id]
            if not _has(mod, node.attr):
                missing.append(f"{mod.__name__}.{node.attr}")
    return sorted(set(missing))


@pytest.mark.parametrize("script", sorted(p.name for p in
                                          TOOLS.glob("*.py")))
def test_tool_uses_only_live_engine_names(script):
    assert missing_engine_names(TOOLS / script) == []


def test_missing_name_is_reported(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import __spark_entry__ as ent\n"
        "from yupana_spark import memo\n"
        "from yupana_spark.datapipe.dedup import (minhash_dedup_pairs,\n"
        "                                         no_such_operator)\n"
        "def main():\n"
        "    ent.queries(); ent._no_such_helper(); memo.no_such_kind\n")
    assert missing_engine_names(probe) == [
        "__spark_entry__._no_such_helper",
        "yupana_spark.datapipe.dedup.no_such_operator",
        "yupana_spark.memo.no_such_kind",
    ]
