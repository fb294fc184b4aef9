"""Table extraction operators (reference op E14).

Lattice mode runs inside ``extract_doc`` (ruled pages emit kind='table'
spans automatically — the PDF carries the grid). STREAM mode is
user-selected in the reference (TabulaTableParser.java:56-75 picks the
mode per request), so it is a standalone Arrow stage over the RAW docs
table here: one output row per page that forms a whitespace-column
table.

Scale shape: each operator is one ``map_docs`` stage
(operators/extract_pipeline.py); pages cluster locally per document,
nothing is collected driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernel.tables import (by_page, extract_table_csvs, extract_table_grids,
                             stream_table_csv)
from .extract_pipeline import map_docs

STREAM_TABLES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("page", T.LongType(), False),
    T.StructField("csv", T.StringType(), False),
])


def tables_stream(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans raw) -> (doc_id, page, csv) — Tabula STREAM
    (whitespace-column) tables, one row per detected table page."""
    def rows(did, spans):
        runs_by_page, _, _ = by_page(spans)
        for page in sorted(runs_by_page):
            csv = stream_table_csv(runs_by_page[page])
            if csv is not None:
                yield did, page, csv

    return map_docs(docs, rows, STREAM_TABLES_SCHEMA)


PDF_TO_CSV_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("page", T.LongType(), False),
    T.StructField("table_no", T.LongType(), False),
    T.StructField("filename", T.StringType(), False),
    T.StructField("csv", T.StringType(), False),
])


def pdf_to_csv(docs: DataFrame) -> DataFrame:
    """pdf->csv export (ExtractCSVController.java:60-133): per page,
    parse tables — LATTICE when the page carries ruled lines, STREAM
    (whitespace columns) otherwise, mirroring TabulaTableParser's
    per-page mode selection (TabulaTableParser.java:53-75) — and
    re-emit every fragment in the controller's CSV dialect:
    CSVFormat.EXCEL + QuoteMode.ALL + escape '"'
    (ExtractCSVController.java:66-68), i.e. all fields quoted, quotes
    doubled, CRLF record separators INCLUDING a trailing record break
    (CSVPrinter.printRecord appends the separator after every row).
    Entry names follow generateEntryName (:123-126):
    '{base}_p{page}_t{idx}.csv', page and table index 1-based.

    Scale shape: same as tables_stream — one ``map_docs`` stage, pages
    local to their document, nothing driver-side; the multi-entry zip
    packaging in the controller is presentation, the table here IS the
    zip manifest."""
    def rows(did, spans):
        runs_by_page, rules_by_page, _ = by_page(spans)
        for page in sorted(set(runs_by_page) | set(rules_by_page)):
            if page in rules_by_page:
                csvs = extract_table_csvs(rules_by_page[page],
                                          runs_by_page.get(page, []))
            else:
                one = stream_table_csv(runs_by_page[page])
                csvs = [one] if one is not None else []
            for idx, csv in enumerate(csvs, start=1):
                yield (did, page, idx, f"{did}_p{page}_t{idx}.csv",
                       csv.replace("\n", "\r\n") + "\r\n")

    return map_docs(docs, rows, PDF_TO_CSV_SCHEMA)


PDF_TO_XLSX_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("page", T.LongType(), False),
    T.StructField("table_no", T.LongType(), False),
    T.StructField("sheet_name", T.StringType(), False),
    T.StructField("row_idx", T.LongType(), False),
    T.StructField("col_idx", T.LongType(), False),
    T.StructField("value", T.StringType(), False),
])

_XLSX_BAD_CHARS = set('\\/?*[]:')
_XLSX_NAME_MAX = 31


def _safe_sheet_name(name: str) -> str:
    """POI WorkbookUtil.createSafeSheetName: illegal chars -> space,
    31-char cap, empty -> 'null' (the naming helper the reference's
    getUniqueSheetName starts from, ConvertPDFToExcelController.java:
    124-137)."""
    if not name:
        return "null"
    safe = "".join(" " if ch in _XLSX_BAD_CHARS else ch for ch in name)
    return safe[:_XLSX_NAME_MAX]


def _unique_sheet_name(base: str, used: set[str]) -> str:
    """ConvertPDFToExcelController.getUniqueSheetName: append ' (n)',
    re-truncating so name + suffix still fits 31 chars."""
    safe = _safe_sheet_name(base)
    name, count = safe, 1
    while name in used:
        suffix = f" ({count})"
        if len(safe) + len(suffix) > _XLSX_NAME_MAX:
            name = safe[:_XLSX_NAME_MAX - len(suffix)] + suffix
        else:
            name = safe + suffix
        count += 1
    used.add(name)
    return name


def pdf_to_xlsx(docs: DataFrame) -> DataFrame:
    """pdf->xlsx export (ConvertPDFToExcelController.java:51-137): the
    workbook model of the reference's /pdf/xlsx converter. Tables come
    from Tabula's SpreadsheetExtractionAlgorithm — LATTICE ONLY (ruled
    grids; pages without rules contribute no sheets, unlike
    pdf_to_csv's per-page mode fallback) — one SHEET per table, one
    output row per CELL (sheet.createRow/createCell walk, :91-99 —
    0-based row/col indices like POI's). Sheet names follow :82-86:
    'Page {p}' when the page holds exactly one table, else
    'Page {p} Table {t}' (1-based), made workbook-unique through
    createSafeSheetName + the ' (n)' suffix loop (:124-137).

    Scale shape: identical to pdf_to_csv — one ``map_docs`` stage; a
    workbook's sheets live inside one document so uniqueness needs no
    cross-partition state; nothing driver-side. The XLSX zip container
    is presentation — this table IS the workbook manifest."""
    def rows(did, spans):
        runs_by_page, rules_by_page, _ = by_page(spans)
        used: set[str] = set()
        for page in sorted(rules_by_page):
            grids = extract_table_grids(rules_by_page[page],
                                        runs_by_page.get(page, []))
            for tno, grid in enumerate(grids, start=1):
                base = (f"Page {page}" if len(grids) == 1
                        else f"Page {page} Table {tno}")
                sheet = _unique_sheet_name(base, used)
                for ri, row in enumerate(grid):
                    for ci, val in enumerate(row):
                        yield did, page, tno, sheet, ri, ci, val

    return map_docs(docs, rows, PDF_TO_XLSX_SCHEMA)
