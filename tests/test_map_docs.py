"""``map_docs``, the one per-document Arrow stage over raw docs."""

from __future__ import annotations

from pyspark.sql import types as T

from stirling_pdf_spark.sources.tables import DOCS_SCHEMA
from stirling_pdf_spark.operators.extract_pipeline import map_docs

DOCS = [
    ("a", [("text", "1|72.0|90.0|12.0|Helv\tHello", "", 0),
           ("media", "1|10.0|20.0|30.0|40.0", "m-1", 1),
           ("attachment", None, "m-2", 2)]),
    ("b", []),
    ("c", [("text", "2|1.5|2.5|9.0|Mono\tx", None, 0)]),
]


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


def test_span_list_column_round_trips(spark):
    docs = spark.createDataFrame(DOCS, DOCS_SCHEMA)
    out = map_docs(docs, lambda did, spans: [(did, spans)], docs.schema)
    got = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in out.collect()}
    assert got == dict(DOCS)
