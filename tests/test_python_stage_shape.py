"""Every Python stage of the package, the gate module and the suite
benchmark is an Arrow stage (``map_rows`` or a ``mapInArrow`` body): no
pandas UDF shape (``applyInPandas``, ``mapInPandas``, ``pandas_udf``,
``cogroup``) anywhere, pandas imported only by ``streaming/packer.py``,
whose ``applyInPandasWithState`` is the one stateful streaming API, and
a hand-written ``mapInArrow`` only in the two stages that need a whole
partition: the extraction pipeline and the heavy-hitters sketch."""

from __future__ import annotations

import ast
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "stirling_pdf_spark"
_TOP = ("__spark_entry__.py", "bench.py")
PANDAS_SHAPES = {"applyInPandas", "mapInPandas", "pandas_udf", "cogroup"}
PANDAS_OK = {os.path.join(_PKG, "streaming", "packer.py")}
ARROW_OK = {os.path.join(_PKG, "operators", "extract_pipeline.py"),
            os.path.join(_PKG, "operators", "textstats.py")}


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
        if "mapInArrow" in names and rel not in ARROW_OK:
            yield f"{rel}:{node.lineno} uses mapInArrow"


def _sources():
    yield from _TOP
    for root, _, files in os.walk(os.path.join(_ROOT, _PKG)):
        yield from (os.path.relpath(os.path.join(root, f), _ROOT)
                    for f in files if f.endswith(".py"))


def test_no_pandas_stage_shapes():
    found = []
    for rel in _sources():
        path = os.path.join(_ROOT, rel)
        with open(path, encoding="utf-8") as fh:
            found += _offences(rel, ast.parse(fh.read(), path))
    assert not found, "\n".join(found)
