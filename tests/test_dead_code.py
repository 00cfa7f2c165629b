"""Every top-level definition in ``yupana_spark/`` is used somewhere.

A function, class or module-level name that no ``.py`` file of the repo
names outside its own body is dead: nothing calls it, so nothing tests
what it does.  A name counts as used where it is read (a name, an
attribute, an import) or spelled as a string (``getattr``,
``monkeypatch.setattr``).  No Spark session is started."""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_SKIP_DIRS = {".git", "__pycache__", "spark-warehouse"}


def _sources(root: Path) -> dict:
    return {p: ast.parse(p.read_text(), str(p))
            for p in sorted(root.rglob("*.py"))
            if not _SKIP_DIRS & set(p.relative_to(root).parts)}


def _used(node) -> set:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _defined(stmt) -> list:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    return [t.id for t in targets if isinstance(t, ast.Name)]


def unused_definitions(root: Path) -> list:
    """``path:name`` of each top-level definition under ``root /
    yupana_spark`` that no ``.py`` file under ``root`` names outside the
    statement that defines it."""
    by_stmt = {p: [(s, _used(s)) for s in t.body]
               for p, t in _sources(root).items()}
    counts = {p: Counter(n for _, u in stmts for n in u)
              for p, stmts in by_stmt.items()}
    out = []
    for path, stmts in by_stmt.items():
        if path.relative_to(root).parts[0] != "yupana_spark":
            continue
        for stmt, own in stmts:
            for name in _defined(stmt):
                if (name.startswith("__") and name.endswith("__")
                        or counts[path][name] > (name in own)
                        or any(name in c for p, c in counts.items()
                               if p != path)):
                    continue
                out.append(f"{path.relative_to(root)}:{name}")
    return out


def test_every_library_definition_is_used():
    assert unused_definitions(ROOT) == []


def test_unused_definition_is_reported(tmp_path):
    lib = tmp_path / "yupana_spark"
    lib.mkdir()
    (lib / "mod.py").write_text(
        "LIMIT = 3\n"
        "UNUSED = 4\n"
        "def helper():\n    return LIMIT\n"
        "def recursive(n):\n    return recursive(n - 1)\n"
        "class Called:\n    pass\n"
        "def patched():\n    pass\n")
    (tmp_path / "user.py").write_text(
        "from yupana_spark.mod import helper\n"
        "import yupana_spark.mod as m\n"
        "m.Called()\n"
        "setattr(m, 'patched', None)\n")
    assert unused_definitions(tmp_path) == [
        "yupana_spark/mod.py:UNUSED", "yupana_spark/mod.py:recursive"]
