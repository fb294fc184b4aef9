"""E14 lattice table extraction."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
from stirling_pdf_spark.kernel.extract import extract_doc
from stirling_pdf_spark.kernel.model import TextRun
from stirling_pdf_spark.kernel.tables import (
    Rule,
    encode_rule,
    extract_table_csv,
)
from stirling_pdf_spark.kernel import wire
from stirling_pdf_spark.operators.extract_pipeline import extract_spans


def test_lattice_csv_golden():
    rules = [Rule(1, 0.0, 0.0, 200.0, 0.0), Rule(1, 0.0, 20.0, 200.0, 20.0),
             Rule(1, 0.0, 40.0, 200.0, 40.0),
             Rule(1, 0.0, 0.0, 0.0, 40.0), Rule(1, 100.0, 0.0, 100.0, 40.0),
             Rule(1, 200.0, 0.0, 200.0, 40.0)]
    runs = [
        TextRun(1, 5.0, 5.0, 9.0, "F", "a1"),
        TextRun(1, 105.0, 5.0, 9.0, "F", "b1"),
        TextRun(1, 5.0, 25.0, 9.0, "F", 'say "hi"'),
        # two runs in one cell join in (y, x) order
        TextRun(1, 150.0, 25.0, 9.0, "F", "more"),
        TextRun(1, 105.0, 25.0, 9.0, "F", "b2"),
    ]
    csv = extract_table_csv(rules, runs)
    assert csv == '"a1","b1"\n"say ""hi""","b2 more"'


def test_no_lattice_without_two_rules():
    assert extract_table_csv([Rule(1, 0, 0, 10, 0)], []) is None
    assert extract_table_csv(
        [Rule(1, 0, 0, 10, 0), Rule(1, 0, 5, 10, 5)], []) is None  # no verticals


def test_kernel_emits_table_span_after_page_text():
    spans = [
        ("text", wire.encode_text_run(TextRun(1, 72.0, 72.0, 11.0, "F", "body")), "", 0),
        ("rule", encode_rule(Rule(1, 300.0, 200.0, 500.0, 200.0)), "", 1),
        ("rule", encode_rule(Rule(1, 300.0, 220.0, 500.0, 220.0)), "", 2),
        ("rule", encode_rule(Rule(1, 300.0, 200.0, 300.0, 220.0)), "", 3),
        ("rule", encode_rule(Rule(1, 500.0, 200.0, 500.0, 220.0)), "", 4),
        ("text", wire.encode_text_run(TextRun(1, 305.0, 205.0, 9.0, "F", "cell")), "", 5),
    ]
    out = extract_doc(spans)
    kinds = [s.kind for s in out]
    assert kinds == ["text", "text", "table"]
    assert out[2].text == '"cell"'
    # the cell run also appears as a text line (stripper + lattice both
    # see it, like the reference's separate endpoints)
    assert out[1].text == "cell"


def test_multi_table_page_segments_by_component():
    from stirling_pdf_spark.kernel.tables import extract_table_csvs

    def grid(x0, y0):
        return [
            Rule(1, x0, y0, x0 + 200.0, y0),
            Rule(1, x0, y0 + 20.0, x0 + 200.0, y0 + 20.0),
            Rule(1, x0, y0, x0, y0 + 20.0),
            Rule(1, x0 + 100.0, y0, x0 + 100.0, y0 + 20.0),
            Rule(1, x0 + 200.0, y0, x0 + 200.0, y0 + 20.0),
        ]

    # two disjoint 1x2 grids; second one higher on the page AND a third
    # degenerate component (single rule) that must be ignored
    rules = grid(50.0, 300.0) + grid(50.0, 100.0) + [Rule(1, 0, 700, 10, 700)]
    runs = [
        TextRun(1, 55.0, 305.0, 9.0, "F", "low1"),
        TextRun(1, 155.0, 305.0, 9.0, "F", "low2"),
        TextRun(1, 55.0, 105.0, 9.0, "F", "top1"),
        TextRun(1, 155.0, 105.0, 9.0, "F", "top2"),
    ]
    csvs = extract_table_csvs(rules, runs)
    # (top, left) emission order: the y=100 grid first
    assert csvs == ['"top1","top2"', '"low1","low2"']
    # kernel emits one table span per grid
    spans = [("rule", encode_rule(r), "", i) for i, r in enumerate(rules)]
    spans += [("text", wire.encode_text_run(r), "", len(spans) + i)
              for i, r in enumerate(runs)]
    out = extract_doc(spans)
    assert [s.text for s in out if s.kind == "table"] == csvs


def test_stream_mode_whitespace_columns():
    from stirling_pdf_spark.kernel.tables import stream_table_csv

    runs = [
        TextRun(1, 72.0, 100.0, 11.0, "F", "name"),
        TextRun(1, 272.0, 100.0, 11.0, "F", "qty"),
        TextRun(1, 72.0, 120.0, 11.0, "F", "apple"),
        TextRun(1, 272.0, 120.0, 11.0, "F", "3"),
        # two runs in one cell join with a space
        TextRun(1, 72.0, 140.0, 11.0, "F", "green"),
        TextRun(1, 110.0, 140.0, 11.0, "F", "pear"),
        TextRun(1, 272.0, 140.0, 11.0, "F", "7"),
    ]
    csv = stream_table_csv(runs)
    assert csv == '"name","qty"\n"apple","3"\n"green pear","7"'
    # single column -> no table; single row -> no table
    assert stream_table_csv([runs[0], runs[2]]) is None
    assert stream_table_csv(runs[:2]) is None


def test_stream_mode_spark_operator(spark):
    from stirling_pdf_spark.corpus.synth import stream_table_from_text
    from stirling_pdf_spark.operators.tables import tables_stream

    rows = [stream_table_from_text(f"doc-{i}", f"alpha{i} beta gamma delta")
            for i in range(12)]
    df = spark.createDataFrame(
        [(d, [dict(zip(("kind", "text", "media_ref", "offset"), s))
              for s in spans]) for d, spans in rows],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = {r["doc_id"]: r for r in tables_stream(df).collect()}
    assert len(got) == 12
    for i in range(12):
        r = got[f"doc-{i}"]
        assert r["page"] == 1
        lines = r["csv"].split("\n")
        assert len(lines) == 4 and all(len(l.split('","')) == 3 for l in lines)
        assert lines[0] == f'"alpha{i}","beta","gamma"'


def test_tables_through_spark_pipeline(spark):
    docs = synth_docs_df(spark, 120, seed=42, mega_pages=(10, 15),
                         num_partitions=4)
    out = extract_spans(docs)
    tables = out.select(F.explode("spans").alias("s")) \
        .filter(F.col("s.kind") == "table")
    rows = tables.collect()
    assert rows, "mixed-media archetype must produce lattice tables"
    for r in rows:
        csv = r["s"]["text"]
        lines = csv.split("\n")
        assert len(lines) == 2 and all(len(l.split('","')) == 3 for l in lines)


def test_pdf_to_csv_mode_selection_and_dialect(spark):
    """ExtractCSVController parity: ruled pages go LATTICE, unruled
    table pages go STREAM; output rides the Excel quote-all dialect
    with CRLF separators, a trailing record break, and
    generateEntryName filenames."""
    from stirling_pdf_spark.corpus.synth import (
        stream_table_from_text, tables_from_text,
    )
    from stirling_pdf_spark.operators.tables import pdf_to_csv

    rows = [tables_from_text("doc-lat", "alpha beta gamma delta eps"),
            stream_table_from_text("doc-str", "one two three four")]
    df = spark.createDataFrame(
        [(d, [dict(zip(("kind", "text", "media_ref", "offset"), s))
              for s in spans]) for d, spans in rows],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = {(r["doc_id"], r["table_no"]): r
           for r in pdf_to_csv(df).collect()}
    # lattice doc: two ruled grids -> two entries on page 1
    assert set(got) == {("doc-lat", 1), ("doc-lat", 2), ("doc-str", 1)}
    lat1 = got[("doc-lat", 1)]
    assert lat1["page"] == 1
    assert lat1["filename"] == "doc-lat_p1_t1.csv"
    # 2x3 grid, CRLF joints + trailing record break, quote-all
    assert lat1["csv"] == ('"alpha","beta","gamma"\r\n'
                           '"delta","eps","alpha"\r\n')
    assert got[("doc-lat", 2)]["filename"] == "doc-lat_p1_t2.csv"
    # stream doc: no rules -> whitespace-column fallback, 4x3 grid
    st = got[("doc-str", 1)]
    assert st["filename"] == "doc-str_p1_t1.csv"
    lines = st["csv"].split("\r\n")
    assert lines[-1] == "" and len(lines) == 5  # trailing break
    assert lines[0] == '"one","two","three"'


def test_pdf_to_csv_prose_only_pages_yield_nothing(spark):
    from stirling_pdf_spark.corpus.synth import synth_from_text
    from stirling_pdf_spark.operators.tables import pdf_to_csv

    d, spans = synth_from_text("doc-p", "plain prose words only here")
    df = spark.createDataFrame(
        [(d, [dict(zip(("kind", "text", "media_ref", "offset"), s))
              for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    # one short prose line: stream needs >= 2 rows AND >= 2 columns
    assert pdf_to_csv(df).count() == 0


def test_xlsx_sheet_name_helpers():
    """POI createSafeSheetName + the reference's getUniqueSheetName
    loop (ConvertPDFToExcelController.java:124-137): illegal chars ->
    space, 31-char cap, ' (n)' suffixes re-truncate to fit."""
    from stirling_pdf_spark.operators.tables import (
        _safe_sheet_name, _unique_sheet_name,
    )

    assert _safe_sheet_name("Page 1") == "Page 1"
    assert _safe_sheet_name("a/b\\c?d*e[f]g:h") == "a b c d e f g h"
    assert _safe_sheet_name("") == "null"
    assert _safe_sheet_name("x" * 40) == "x" * 31
    used: set[str] = set()
    assert _unique_sheet_name("Page 1", used) == "Page 1"
    assert _unique_sheet_name("Page 1", used) == "Page 1 (1)"
    assert _unique_sheet_name("Page 1", used) == "Page 1 (2)"
    # long base: suffix must displace tail chars to stay at 31
    long = "x" * 31
    assert _unique_sheet_name(long, used) == long
    assert _unique_sheet_name(long, used) == "x" * 27 + " (1)"
    assert len(_unique_sheet_name(long, used)) == 31


def test_pdf_to_xlsx_lattice_only_and_naming(spark):
    """/pdf/xlsx parity: SpreadsheetExtractionAlgorithm = lattice only
    (a stream-table page yields NO sheets); single-table pages name
    their sheet 'Page {p}', multi-table pages 'Page {p} Table {t}';
    cells come out row-major with 0-based POI indices."""
    from stirling_pdf_spark.corpus.synth import (
        single_table_from_text, stream_table_from_text, tables_from_text,
    )
    from stirling_pdf_spark.operators.tables import pdf_to_xlsx

    rows = [tables_from_text("doc-two", "alpha beta gamma delta eps"),
            single_table_from_text("doc-one", "alpha beta gamma delta eps"),
            stream_table_from_text("doc-str", "one two three four")]
    df = spark.createDataFrame(
        [(d, [dict(zip(("kind", "text", "media_ref", "offset"), s))
              for s in spans]) for d, spans in rows],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = pdf_to_xlsx(df).collect()
    assert not [r for r in out if r["doc_id"] == "doc-str"]
    sheets = {(r["doc_id"], r["sheet_name"]) for r in out}
    assert sheets == {("doc-two", "Page 1 Table 1"),
                      ("doc-two", "Page 1 Table 2"),
                      ("doc-one", "Page 1")}
    cells = {(r["doc_id"], r["table_no"], r["row_idx"], r["col_idx"]):
             r["value"] for r in out}
    # grid A is 2x3 over words 0..5 (mod 5)
    assert cells[("doc-one", 1, 0, 0)] == "alpha"
    assert cells[("doc-one", 1, 1, 2)] == "alpha"   # word 5 % 5
    assert cells[("doc-two", 1, 1, 1)] == "eps"
    # grid B is 3x2 over words 6..11 (mod 5)
    assert cells[("doc-two", 2, 0, 0)] == "beta"    # word 6 % 5
    assert cells[("doc-two", 2, 2, 1)] == "beta"    # word 11 % 5
    assert len([r for r in out if r["doc_id"] == "doc-two"]) == 12
