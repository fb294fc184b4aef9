"""WARC segment synthesis + distributed record ingest.

Crawl corpora reach a 100 TB pipeline as multi-record WARC segments,
not single files, so ingestion is (a) one task per segment, (b) a
record walk by Content-Length framing inside the task, (c) a flat
records DataFrame out the other side — the shape Common Crawl's own
Spark examples use. The reference's closest surface is its one-file
HTML/EML ingest controllers (app/core ConvertHtmlToPDF.java,
ConvertEmlToPDF.java); this source generalizes that to the archive
container with byte-exact CDX-style offsets.

Synthesis groups ``docs_per_file`` documents per segment keyed by
``doc_id // docs_per_file`` — segments build independently in
parallel and any skew is bounded by the constant group size. Parsing
is one ``map_rows`` stage over (warc_file, blob) rows: segments stay on
the executor that read them, no shuffle, and a 1000-executor cluster
ingests 1000 segments at a time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.warc import build_warc, parse_warc
from ..operators.extract_pipeline import map_rows

_FILE_SCHEMA = T.StructType([
    T.StructField("warc_file", T.LongType()),
    T.StructField("blob", T.BinaryType()),
    T.StructField("n_records", T.IntegerType()),
])

_REC_SCHEMA = T.StructType([
    T.StructField("warc_file", T.LongType()),
    T.StructField("offset", T.LongType()),
    T.StructField("length", T.LongType()),
    T.StructField("rec_type", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("warc_date", T.StringType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("http_content_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
])


def page_url(source: str, doc_id: int) -> str:
    return f"https://{source}.example.org/doc/{doc_id}"


def page_date(doc_id: int) -> str:
    s = doc_id % 86400
    return f"2024-01-01T{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}Z"


def page_html(doc_id: int, text: str) -> str:
    return (f"<html><head><title>doc {doc_id}</title></head>"
            f"<body><p>{text}</p></body></html>")


def warc_segments(docs: DataFrame, docs_per_file: int = 64) -> DataFrame:
    """(warc_file, blob, n_records): one deterministic WARC segment per
    ``docs_per_file`` consecutive doc_ids, pages ordered by doc_id."""
    keyed = docs.select(
        (F.col("doc_id") / docs_per_file).cast("long").alias("warc_file"),
        "doc_id", "text", "source")
    files = keyed.groupBy("warc_file").agg(
        F.collect_list(F.struct("doc_id", "text", "source")).alias("pages"))

    def build(fid, pages):
        # collect_list order is arbitrary: pages go in doc_id order
        blob = build_warc([(page_url(s, i), page_date(i),
                            page_html(i, t).encode("utf-8"))
                           for i, t, s in sorted(pages, key=lambda p: p[0])])
        yield fid, blob, len(pages) + 1

    return map_rows(files, build, _FILE_SCHEMA)


def warc_records(segments: DataFrame) -> DataFrame:
    """Flatten WARC segments into one row per record with byte-exact
    CDX offsets; no shuffle — each segment parses where it sits."""

    def run(fid, blob):
        for rec in parse_warc(blob):
            yield (fid, rec["offset"], rec["length"], rec["rec_type"],
                   rec["target_uri"], rec["warc_date"], rec["http_status"],
                   rec["http_content_type"], rec["payload"])

    return map_rows(segments.select("warc_file", "blob"), run, _REC_SCHEMA)
