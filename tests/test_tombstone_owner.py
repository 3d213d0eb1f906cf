"""The tombstone layout has one owner: ``index/updates.py``. Every other
module reaches ``tombstones/seg=N/`` through its functions
(``tombstones_path``, ``read_tombstones``, ...), so no other module spells
the directory name in code. Spark-free: a source scan."""

import ast
import os
import re

SRC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "lucene_solr_spark")
OWNER = os.path.join("index", "updates.py")
# "tombstones" as a path component: the bare name, or a path piece
DIRNAME = re.compile(r"(^|[/\\])tombstones($|[/\\])")


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring nodes (prose, not code)."""
    out = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
        ):
            out.add(id(body[0].value))
    return out


def test_only_updates_spells_the_tombstones_dir():
    offenders = []
    for root, _dirs, files in os.walk(SRC):
        for fn in files:
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, SRC)
            if not fn.endswith(".py") or rel == OWNER:
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            skip = _docstrings(tree)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and id(node) not in skip and DIRNAME.search(node.value)
                ):
                    offenders.append(f"{rel}:{node.lineno}: {node.value!r}")
    assert not offenders, (
        "spell the tombstone layout through index/updates.py "
        "(tombstones_path / read_tombstones):\n" + "\n".join(offenders)
    )
