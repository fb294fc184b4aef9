"""``map_rows``, the one row-wise Arrow stage, and ``map_docs``, the
per-document stage over raw docs built on it."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from stirling_pdf_spark.sources.tables import DOCS_SCHEMA, RAW_SPAN_STRUCT
from stirling_pdf_spark.operators.extract_pipeline import (
    _decode_span_lists,
    map_docs,
    map_rows,
    pylist,
)

DOCS = [
    ("a", [("text", "1|72.0|90.0|12.0|Helv\tHello", "", 0),
           ("media", "1|10.0|20.0|30.0|40.0", "m-1", 1),
           ("attachment", None, "m-2", 2)]),
    ("b", []),
    ("c", [("text", "2|1.5|2.5|9.0|Mono\tx", None, 0)]),
]
# raw spans with a nullable offset, one of them null
NULL_OFFSET_DOCS = [
    ("d", [("meta", "title\tT", None, None), ("text", None, "", 7)]),
    ("e", []),
]
_NULLABLE = T.StructType([
    T.StructField(f.name, f.dataType, True) for f in RAW_SPAN_STRUCT.fields])
NULLABLE_DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(_NULLABLE), False),
])
SPANS_TYPE = to_arrow_schema(NULLABLE_DOCS_SCHEMA).field("spans").type
# one row of every kind map_rows reads: nullable long and int, binary, and
# a list<struct> whose struct is not the raw-span shape
ROWS = [
    ("a", 2, 7, b"\x00\xff", [("x", 1.5, None), ("y", None, 3)]),
    ("b", None, None, None, []),
    ("c", 0, -1, b"", [("z", 0.0, 4)]),
]
ROWS_DDL = ("id string, n long, i int, blob binary, "
            "items array<struct<k:string,w:double,v:int>>")


def _spans(docs) -> pa.Array:
    return pa.array([[dict(zip(_NULLABLE.names, s)) for s in spans]
                     for _, spans in docs], SPANS_TYPE)


def _typed(v):
    """``v`` with the type of every leaf value, so 1 != 1.0 and None != NaN."""
    if isinstance(v, (list, tuple)):
        return [_typed(x) for x in v]
    return type(v), v


def test_no_rows_emitted_gives_empty_result_of_schema(spark):
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page", T.LongType(), False),
        T.StructField("x", T.DoubleType(), True),
        T.StructField("spans", DOCS_SCHEMA["spans"].dataType, False),
    ])
    out = map_docs(spark.createDataFrame(DOCS, DOCS_SCHEMA),
                   lambda did, spans: [], schema)
    assert out.schema == schema
    assert out.collect() == []

    out = map_rows(spark.createDataFrame(ROWS, ROWS_DDL),
                   lambda *row: [], ROWS_DDL)
    assert out.schema == T.DataType.fromDDL(ROWS_DDL)
    assert out.collect() == []


def test_span_list_column_round_trips(spark):
    docs = spark.createDataFrame(DOCS + NULL_OFFSET_DOCS, NULLABLE_DOCS_SCHEMA)
    out = map_docs(docs, lambda did, spans: [(did, spans)], docs.schema)
    got = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in out.collect()}
    assert got == dict(DOCS + NULL_OFFSET_DOCS)


def test_map_rows_passes_rows_as_python_values(spark):
    """fn gets each row as ``to_pylist`` gives it: a null long or int
    as None (not NaN or a float), binary as bytes, list<struct>
    elements as tuples."""
    out = map_rows(spark.createDataFrame(ROWS, ROWS_DDL),
                   lambda *row: [(repr(row),)], "row string")
    assert sorted(r["row"] for r in out.collect()) == sorted(map(repr, ROWS))


def test_map_rows_fans_out_and_builds_typed_columns(spark):
    """One input row yields many output rows (none, here, for ``b``);
    every column, the list<struct> one built from tuples, comes back
    with its values' types."""
    def fan(id_, n, i, blob, items):
        for k in range(len(items) + (n is not None)):
            yield id_, n, i, blob, items[:k]

    out = map_rows(spark.createDataFrame(ROWS, ROWS_DDL), fan, ROWS_DDL)
    got = sorted(out.collect(), key=lambda r: (r["id"], len(r["items"])))
    want = [r for row in ROWS for r in fan(*row)]
    assert len(want) == 5
    assert _typed(got) == _typed(want)


@pytest.mark.parametrize("col", [
    _spans(DOCS),
    _spans(NULL_OFFSET_DOCS),
    pa.chunked_array([_spans(DOCS), _spans(NULL_OFFSET_DOCS)]),
    _spans(DOCS + NULL_OFFSET_DOCS).slice(1, 3),
], ids=["plain", "null-offset", "two-chunks", "sliced"])
def test_decode_matches_to_pylist(col):
    want = [[tuple(s.values()) for s in spans] for spans in col.to_pylist()]
    assert _typed(_decode_span_lists(col)) == _typed(want)


@pytest.mark.parametrize("col", [
    pa.array([1, None, 3], pa.int32()),
    pa.array([1, 2, 3], pa.int64()),
    pa.array([1.5, None]),
    pa.array([True, False]),
    pa.array([True, None]),
    pa.array(["a", None, ""]),
    pa.chunked_array([pa.array(["x"]), pa.array([None], pa.string())]),
    pa.chunked_array([pa.array([4], pa.int64()), pa.array([None], pa.int64())]),
    pa.chunked_array([], pa.int64()),
], ids=["int32-null", "int64", "double-null", "bool", "bool-null", "string-null",
        "chunked-string-null", "chunked-int64-null", "chunked-empty"])
def test_pylist_matches_to_pylist(col):
    assert _typed(pylist(col)) == _typed(col.to_pylist())
