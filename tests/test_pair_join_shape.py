"""The near-duplicate family finds candidate pairs through one helper,
``dedup.key_pairs``: no other operator self-joins two id columns with
``<``, and no other operator caps hot join keys with ``max_df``,
``max_out`` or ``max_block``. The last test pins the helper's output.

A self-join shows as a ``<`` (or ``>``) between two column references
named for the two sides of a pair: ``F.col("a.<x>")``/``F.col("b.<x>")``
or ``F.col("id_a")``/``F.col("id_b")``, or the same comparison inside a
SQL string passed to a call. Other ``<`` filters (``graph.triangles``'
wedge ``x < y``, ``incremental_minhash_dedup``'s ``partner < id``) are
not pair self-joins and do not match. Allowed by name:

* ``key_pairs`` itself;
* ``embedding_near_dup_pairs``: the keyless brute-force baseline, a
  theta join with no shared key;
* ``tfidf_cosine_pairs`` (cap only): its capped document frequency
  feeds idf and the norms, so it caps its weights, not the join;
* ``dedup_global_sentences`` (cap only): ``max_df`` is its boilerplate
  rule (drop sentences in more than ``max_df`` docs), not a join cap.
"""

from __future__ import annotations

import ast
import os
import re

_OPS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "stirling_pdf_spark", "operators")
_SIDE = r"(?:[ab]\.\w+|id_[ab])"
SIDE_COL = re.compile(rf"^{_SIDE}$")
SIDE_SQL = re.compile(rf"\b{_SIDE}\s*[<>]\s*{_SIDE}\b")
CAP_NAMES = {"max_df", "max_out", "max_block"}
JOIN_OK = {"key_pairs", "embedding_near_dup_pairs"}
CAP_OK = {"key_pairs", "tfidf_cosine_pairs", "dedup_global_sentences"}


def _side_col(node: ast.AST) -> bool:
    """``F.col("a.id")``-style reference to one side of a pair."""
    return (isinstance(node, ast.Call) and node.args
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
            and SIDE_COL.match(node.args[0].value) is not None
            and (getattr(node.func, "attr", None) == "col"
                 or getattr(node.func, "id", None) == "col"))


def _offences(tree: ast.Module):
    for top in tree.body:
        fn = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Compare) and len(node.ops) == 1:
                ordered = isinstance(node.ops[0],
                                     (ast.Lt, ast.LtE, ast.Gt, ast.GtE))
                sides = [node.left, node.comparators[0]]
                if (ordered and fn not in JOIN_OK
                        and all(_side_col(n) for n in sides)):
                    yield node.lineno, fn, "pair self-join"
                if (ordered and fn not in CAP_OK
                        and any(isinstance(n, ast.Name) and n.id in CAP_NAMES
                                for n in sides)):
                    yield node.lineno, fn, "hot-key cap"
            elif isinstance(node, ast.Call) and fn not in JOIN_OK:
                for arg in node.args:
                    if (isinstance(arg, ast.Constant)
                            and isinstance(arg.value, str)
                            and SIDE_SQL.search(arg.value)):
                        yield node.lineno, fn, "pair self-join in SQL"


def test_one_pair_join_and_one_hot_key_cap():
    found = []
    for name in sorted(os.listdir(_OPS)):
        if name.endswith(".py"):
            path = os.path.join(_OPS, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            found += [f"operators/{name}:{line} {fn}: {what}"
                      for line, fn, what in _offences(tree)]
    assert not found, "\n".join(found)


def test_the_scan_sees_a_hand_written_pair_join():
    src = '''
def near_dups(rows, max_out=None):
    a, b = rows.alias("a"), rows.alias("b")
    if max_out is not None:
        rows = rows.filter(F.col("deg") <= max_out)
    return a.join(b, (F.col("a.k") == F.col("b.k"))
                  & (F.col("a.id") < F.col("b.id")))


def near_dups_sql(rows):
    return rows.join(rows, "k").filter("id_a < id_b")


def wedges(w1, w2):
    return w1.join(w2, "a").filter(F.col("x") < F.col("y"))
'''
    found = sorted((fn, what) for _, fn, what in _offences(ast.parse(src)))
    assert found == [("near_dups", "hot-key cap"),
                     ("near_dups", "pair self-join"),
                     ("near_dups_sql", "pair self-join in SQL")]


def test_key_pairs_output_and_cap(spark):
    from stirling_pdf_spark.operators.dedup import key_pairs

    rows = spark.createDataFrame(
        [(1, "x", "p1"), (2, "x", "p2"), (3, "x", "p3"),
         (1, "y", "p1"), (2, "y", "p2")], "id long, key string, p string")
    pairs = key_pairs(rows, "key")
    assert pairs.columns == ["id_a", "id_b", "key", "p_a", "p_b"]
    # one row per shared key: (1, 2) shares x and y
    assert sorted(map(tuple, pairs.collect())) == [
        (1, 2, "x", "p1", "p2"), (1, 2, "y", "p1", "p2"),
        (1, 3, "x", "p1", "p3"), (2, 3, "x", "p2", "p3")]
    # x is held by 3 rows, more than the cap: it never reaches the join
    assert [tuple(r) for r in key_pairs(rows, "key", max_df=2).collect()] \
        == [(1, 2, "y", "p1", "p2")]
