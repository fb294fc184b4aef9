"""Every Python stage of the package is an Arrow stage (``map_rows`` or
a ``mapInArrow`` body): no pandas UDF shape (``applyInPandas``,
``mapInPandas``, ``pandas_udf``, ``cogroup``) anywhere, and pandas
imported only by ``streaming/packer.py``, whose
``applyInPandasWithState`` is the one stateful streaming API."""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "stirling_pdf_spark")
PANDAS_SHAPES = {"applyInPandas", "mapInPandas", "pandas_udf", "cogroup"}
PANDAS_OK = {os.path.join("streaming", "packer.py")}


def _offences(rel: str, tree: ast.AST):
    for node in ast.walk(tree):
        names = set()
        if isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(a.name for a in node.names)
            mods = ([a.name for a in node.names] if isinstance(node, ast.Import)
                    else [node.module or ""])
            if rel not in PANDAS_OK and any(
                    m == "pandas" or m.startswith("pandas.") for m in mods):
                yield f"{rel}:{node.lineno} imports pandas"
        for name in names & PANDAS_SHAPES:
            yield f"{rel}:{node.lineno} uses {name}"


def test_no_pandas_stage_shapes():
    found = []
    for root, _, files in os.walk(_PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, _PKG)
                with open(path, encoding="utf-8") as fh:
                    found += _offences(rel, ast.parse(fh.read(), path))
    assert not found, "\n".join(found)
