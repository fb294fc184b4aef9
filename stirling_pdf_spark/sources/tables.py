"""Table readers.

Parquet is the storage these readers know. The pipeline code is
storage-agnostic: it takes DataFrames, so a caller with an Iceberg
table (the north rule's snapshot/checkpoint source in production)
reads it with ``spark.read.format("iceberg")`` and passes the
DataFrame in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

RAW_SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("offset", T.IntegerType(), False),
])

DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(RAW_SPAN_STRUCT), False),
])


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TPCH_TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_docs(spark: SparkSession, path: str) -> DataFrame:
    """Read the interleaved-docs parquet table (input_hint shape)."""
    return spark.read.schema(DOCS_SCHEMA).parquet(path)
