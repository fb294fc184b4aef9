"""The distributed extraction pipeline (the north-rule job).

Shape (SURVEY.md §3.1 "Spark equivalent"), one plan every doc takes:

    read docs -> key (doc_id, bucket):               ONE source scan
                   doc <= salt_threshold spans -> one row, bucket 0
                   larger doc -> one row per reading-order segment,
                     unless a page field would not read here as int()
                     reads it (then one row, bucket 0)
              -> spread(doc_id, bucket)
              -> mapInArrow(_extract_sub: the rows of each batch in
                   slices of at most DEFAULT_SALT_THRESHOLD spans, cut at
                   row boundaries, through kernel.extract.extract_docs,
                   every row under the 2000-chunk budget)
              -> repartition(doc_id)
              -> mapInArrow(_finish_docs: unsalted rows pass through;
                   a salted doc's segment rows, from any batch of the
                   task, concatenate in bucket order, the 2000-chunk
                   budget re-applied and order renumbered, in _reassemble)

The stage body lays out every doc of a slice on Arrow/numpy columns; a
doc the batch kernel does not take (html, rules, annotations, form
fields, page state, unknown kinds, or a header Arrow would not parse
as Python does) is decoded and run through ``extract_doc``, and the
slice's routed outputs are encoded by one ``pa.array`` call
(``_extract_routed``); its error names its doc_id.
``runtime.checkpoint`` writes the result and commits its lineage.

Why salting: one 1500-page PDF in a hash-partitioned batch of 1-page
docs is exactly the skew the reference never faces (one doc == one HTTP
request there; SURVEY.md §4 "Skew handling"). At 100 TB a single
straggler partition dominates the stage, so mega-docs are split into
page-range sub-documents (salt = segment), extracted independently
(page-local semantics: line clustering and column layout never cross
pages), and reassembled with the global 2000-text-chunk budget
re-applied — bit-identical to the unsalted kernel output. A segment is
extracted under the same budget as a whole doc: its text chunks are a
run of the doc's, so the ones the segment's budget drops are past the
doc's 2000th too. The segment rule has one owner,
``kernel.extract.segment_of``; the keying below is built from its
declaration and computes each span's segment once.

All per-document work happens inside Arrow stages (no per-row or
per-group Spark Python UDFs: each Python call takes a whole Arrow
batch); the shuffles are the spread on (doc_id, bucket) and the
regroup by doc_id, both on keys that are unique or salted — no hot keys
by construction. The regroup's partition count is left to
``spark.sql.shuffle.partitions`` and AQE coalescing.

``spread`` is the one partitioning policy of every compute-heavy stage
(this pipeline's first exchange, ``map_docs`` and every per-row
operator): one hash repartition on the stage's key, with one pinned
partition count.

``map_rows`` is the one row-wise Arrow stage every other per-row or
per-group Python operator runs through (media decoders, perceptual
hashes, compare, NFC, file/WARC/EML sources, corpus synthesis, the
HTML sanitizer, boilerplate strip and sentence chunker): read each
column once per batch, call the operator's per-row function, build the
output batch column by column. A grouped operator (image->PDF, WARC
segments, MMR re-ranking) lets the JVM group its rows first, as a
``groupBy(...).agg(collect_list(struct(...)))``, and ``map_rows``
then runs once per group row; ``collect_list`` order is arbitrary, so
each such function sorts its list. ``map_docs``, the stage of every
raw-docs operator (exports, tables, search, elements, comments,
edit-text), is a ``spread`` on doc_id, then ``map_rows``. The one other
Python stage shape is a ``mapInArrow`` body that needs a per-partition
end (the heavy-hitters sketch), and the one pandas stage is the
stateful streaming packer (``applyInPandasWithState``).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernel import extract as kernel_extract
from ..kernel.extract import (
    FIXED_SEGMENTS, PAGE_KINDS, SPAN_TYPE, extract_doc, extract_docs)
from ..kernel.model import MAX_CHUNKS_PER_DOC

OUT_SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("order", T.IntegerType(), False),
])
SPANS_OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(OUT_SPAN_STRUCT), False),
])
_SPANS_OUT_ARROW = to_arrow_schema(SPANS_OUT_SCHEMA)
_SUB_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("bucket", T.LongType(), False),
    T.StructField("salted", T.BooleanType(), False),
    T.StructField("spans", T.ArrayType(OUT_SPAN_STRUCT), False),
])

# spans-per-doc threshold above which a doc takes the salted path; a
# mega-doc per FIXTURES.md has >= 3000 raw spans, normal docs < 1200
DEFAULT_SALT_THRESHOLD = 4000


def pylist(col: "pa.Array | pa.ChunkedArray") -> list:
    """``col.to_pylist()``, through numpy where that gives the same
    values and types: string columns, and bool/int/float columns without
    nulls (numpy would turn a null int into NaN, so those keep
    ``to_pylist``)."""
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or (
            not col.null_count and (pa.types.is_boolean(t) or pa.types.is_integer(t)
                                    or pa.types.is_floating(t))):
        return col.to_numpy(zero_copy_only=False).tolist()
    return col.to_pylist()


def _decode_span_lists(col: "pa.Array") -> list[list[tuple]]:
    """Columnar decode of a ``list<struct>`` column (raw spans
    ``array<struct<kind,text,media_ref,offset>>`` on the extraction
    path): one flat column read (``pylist``) per struct field + one zip,
    each element a tuple of its fields by position, instead of a dict
    per element — the dominant cost of the UDF boundary at scale."""
    lst = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    vals = lst.flatten()
    flat = list(zip(*[pylist(vals.field(i))
                      for i in range(vals.type.num_fields)]))
    offs = pylist(lst.offsets)
    base = offs[0]
    return [flat[offs[i] - base:offs[i + 1] - base] for i in range(len(offs) - 1)]


def _read_column(col: "pa.Array") -> list:
    """One batch column as Python values: ``_decode_span_lists`` for a
    ``list<struct>`` column, ``pylist`` for any other."""
    t = col.type
    if pa.types.is_list(t) and pa.types.is_struct(t.value_type):
        return _decode_span_lists(col)
    return pylist(col)


def map_rows(df: DataFrame, fn, schema: "T.StructType | str") -> DataFrame:
    """The row-wise Arrow stage: ``fn(*row)`` gets one input row's
    values in column order (binary as ``bytes``, a null as ``None``,
    ``list<struct>`` elements as tuples) and yields output rows as
    tuples in ``schema`` order (any number per row). ``schema`` is a
    StructType or a DDL string. One mapInArrow; per batch each input
    column is read once, the output rows are transposed and each column
    built with one ``pa.array`` of its Arrow type, nested
    ``list<struct>`` columns (from tuples) included; a batch that emits
    no row yields a typed empty batch."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        for rb in batches:
            rows = [out for row in zip(*map(_read_column, rb.columns))
                    for out in fn(*row)]
            cols = list(zip(*rows)) if rows else [[]] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema)

    return df.mapInArrow(run, schema)


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Spread ``df`` across the cluster before a compute-heavy stage:
    one hash repartition on ``keys`` (every column when none is given)
    into 2 x defaultParallelism partitions, the one partitioning policy
    of every per-row operator. The count is pinned because per-row
    compute is far above per-row bytes here: AQE coalesces by bytes,
    and would fold a small, single-split input's stage to 1-2 tasks.
    Hashing is deterministic under task retry, and a following groupBy
    or window on the same keys reuses the exchange."""
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *(keys or df.columns))


def map_docs(docs: DataFrame, fn, schema: T.StructType) -> DataFrame:
    """The per-document Arrow stage over raw ``docs(doc_id, spans)``:
    ``spread`` on doc_id, then ``map_rows`` with
    ``fn(doc_id, raw_spans)``."""
    return map_rows(spread(docs, "doc_id").select("doc_id", "spans"), fn, schema)


def _segment_sql() -> str:
    """``kernel.extract.segment_of`` of raw span ``s`` as Spark SQL, or
    NULL where its page field would not read here as segment_of's int()
    reads it, i.e. does not cast to BIGINT and back to itself. int()
    also reads "1_50", " 150", "+150", non-ASCII digits and values past
    int64, which the cast does not; a doc with such a field is not
    salted, and the batch kernel's header parse sends it to
    extract_doc. Reads ``PAGES_PER_BUCKET`` at call time."""
    is_page = "s.kind IN ({})".format(", ".join(f"'{k}'" for k in PAGE_KINDS))
    text = "substring_index(s.text, '|', 1)"
    page = f"TRY_CAST({text} AS BIGINT)"
    fixed = " ".join(f"WHEN s.kind = '{k}' THEN {seg}"
                     for k, seg in FIXED_SEGMENTS.items())
    return (f"CASE WHEN {is_page} THEN IF(CAST({page} AS STRING) = {text}, "
            f"floor({page} / {kernel_extract.PAGES_PER_BUCKET}), NULL) "
            f"{fixed} ELSE 0 END")


def _key(docs: DataFrame, salt_threshold: int) -> DataFrame:
    """docs -> (doc_id, bucket, salted, spans): a doc at or under the
    threshold, or with a span whose segment is NULL (``_segment_sql``),
    stays one unsalted row in bucket 0; any other doc becomes one salted
    row per reading-order segment it has spans in. One SQL expression,
    so planning costs no per-expression driver round trips; ``segs``
    (each span's segment, computed once) is bound as a lambda variable,
    and segment ``b`` keeps the spans at the positions where it is
    ``b``."""
    segs = f"array(transform(spans, s -> {_segment_sql()}))"
    segments = ("transform(array_distinct(segs), b -> struct(b AS bucket, "
                "true AS salted, filter(spans, (s, i) -> segs[i] = b) AS spans))")
    whole = "array(struct(CAST(0 AS BIGINT) AS bucket, false AS salted, spans AS spans))"
    return docs.selectExpr(
        "doc_id",
        f"inline(CASE WHEN size(spans) > {salt_threshold} THEN flatten(transform("
        f"{segs}, segs -> IF(forall(segs, x -> x IS NOT NULL), {segments}, {whole}))) "
        f"ELSE {whole} END)")


def _slices(lengths: list[int]):
    """(start, stop) row ranges of one batch for the kernel: consecutive
    rows with at most DEFAULT_SALT_THRESHOLD spans in all, a larger row
    alone."""
    start, size = 0, 0
    for i, n in enumerate(lengths):
        if i > start and size + n > DEFAULT_SALT_THRESHOLD:
            yield start, i
            start, size = i, 0
        size += n
    if start < len(lengths):
        yield start, len(lengths)


def _extract_routed(ids: "pa.Array", spans: "pa.ListArray"):
    """``per_doc`` of ``extract_docs``: the docs at the given positions
    through ``extract_doc``, an error naming the doc_id."""
    def run(docs):
        out = []
        for i, raw in zip(docs.tolist(), _decode_span_lists(spans.take(docs))):
            try:
                out.append(extract_doc(raw))
            except Exception as exc:
                raise ValueError(f"doc_id {ids[i].as_py()!r}: {exc!r}") from exc
        return pa.array(out, pa.list_(SPAN_TYPE))
    return run


def _extract_sub(batches):
    for rb in batches:
        names = rb.schema.names
        ids = rb.column(names.index("doc_id"))
        spans = rb.column(names.index("spans"))
        out = [pa.array([], pa.list_(SPAN_TYPE))]
        for a, b in _slices(pylist(pc.list_value_length(spans).fill_null(0))):
            part = spans.slice(a, b - a)
            out.append(extract_docs(part, per_doc=_extract_routed(
                ids.slice(a, b - a), part)))
        yield pa.RecordBatch.from_arrays(
            [ids, rb.column(names.index("bucket")),
             rb.column(names.index("salted")), pa.concat_arrays(out)],
            names=["doc_id", "bucket", "salted", "spans"],
        )


def _finish_docs(batches):
    """The regroup's body over one task's batches -> spans_out batches of
    exactly the spans_out Arrow schema. Unsalted rows pass through. The
    repartition by doc_id puts every segment row of a salted doc in this
    task, in any of its batches, so the segment rows are kept until the
    input ends and each salted doc then goes to ``_reassemble`` once."""
    segments = []
    for rb in batches:
        salted = rb.column("salted")
        yield rb.filter(pc.invert(salted)).select(_SPANS_OUT_ARROW.names).cast(
            _SPANS_OUT_ARROW)
        segments.append(rb.filter(salted))
    if segments:
        rows = pa.Table.from_batches(segments)
        ids = rows.column("doc_id")
        for doc_id in pc.unique(ids):
            yield from _reassemble(rows.filter(pc.equal(ids, doc_id))).cast(
                _SPANS_OUT_ARROW).to_batches()


def _reassemble(group: pa.Table) -> pa.Table:
    """A salted doc's segment rows concatenated in bucket order, with the
    text-chunk budget re-applied and ``order`` renumbered."""
    spans = pc.list_flatten(group.sort_by("bucket").column("spans")).combine_chunks()
    is_text = pc.equal(spans.field("kind"), "text")
    n_text = pc.cumulative_sum(is_text.cast(pa.int32()))
    spans = spans.filter(pc.or_(pc.invert(is_text),
                                pc.less_equal(n_text, MAX_CHUNKS_PER_DOC)))
    list_type = group.schema.field("spans").type
    spans = pa.StructArray.from_arrays(
        [spans.field("kind"), spans.field("text"), spans.field("media_ref"),
         pa.array(range(len(spans)), pa.int32())],
        fields=list(list_type.value_type),
    )
    return pa.table({
        "doc_id": group.column("doc_id").slice(0, 1),
        "spans": pa.ListArray.from_arrays(pa.array([0, len(spans)], pa.int32()),
                                          spans, type=list_type),
    })


def extract_spans(
    docs: DataFrame,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
) -> DataFrame:
    """docs(doc_id, spans: array<raw span struct>) ->
    spans_out(doc_id, spans: array<(kind,text,media_ref,order)>).
    Consumes ``docs`` once. The keyed rows are ``spread`` on (doc_id,
    bucket) for the extraction; the regroup's ``repartition("doc_id")``
    has no count on purpose: that stage is cheap, and AQE sizes it."""
    return (
        spread(_key(docs, salt_threshold), "doc_id", "bucket")
        .mapInArrow(_extract_sub, _SUB_SCHEMA)
        .repartition("doc_id")
        .mapInArrow(_finish_docs, SPANS_OUT_SCHEMA)
    )


def explode_spans(spans_out: DataFrame) -> DataFrame:
    """Flat view (doc_id, kind, text, media_ref, order) for relational
    consumers — the reference's per-element JSON rows (E7/E8)."""
    return spans_out.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.order").alias("order"),
    )


def extract_metadata(spans_out: DataFrame) -> DataFrame:
    """E15 document metadata (PdfJsonConversionService.java:2781-2810,
    AnalysisController.java:76-99): the Info-dict key/value pairs the
    kernel emitted as leading kind='meta' spans, as a flat
    (doc_id, key, value) table."""
    flat = explode_spans(spans_out).filter(F.col("kind") == "meta")
    return flat.select(
        "doc_id",
        F.split_part("text", F.lit("|"), F.lit(1)).alias("key"),
        F.substring_index("text", "|", -1).alias("value"),
    )


def span_counts_by_kind(spans_out: DataFrame) -> DataFrame:
    """Flagship aggregate (SURVEY.md §7 Phase 1): spans per kind per doc."""
    return (
        explode_spans(spans_out)
        .groupBy("doc_id", "kind")
        .agg(F.count("*").alias("n_spans"))
        .orderBy("doc_id", "kind")
    )
