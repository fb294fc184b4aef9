"""Split-by-size and split-by-doc-count modes + form flattening.

The parity oracles re-implement the reference loops independently
(SplitPdfBySizeController.computeSizeRanges with lookAheadFit,
computeDocCountRanges; FlattenController flattenOnlyForms semantics)
— same pattern as tests/test_rearrange_parity.py.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from stirling_pdf_spark.kernel import wire
from stirling_pdf_spark.kernel.model import TextRun
from stirling_pdf_spark.operators.pageops import (
    flatten_forms,
    page_byte_sizes,
    split_by_byte_size,
    split_into_n_docs,
)

DOCS_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
               "media_ref:string,offset:int>>")


def java_size_ranges(sizes: list[int], max_bytes: int) -> list[tuple]:
    """Direct simulation of computeSizeRanges (:193-240) INCLUDING
    lookAheadFit (:250-269); size(range) = sum of page sizes."""
    total = len(sizes)
    ranges: list[tuple] = []
    rs, re = 0, -1

    def save(a: int, b: int) -> int:
        return sum(sizes[a:b + 1])

    i = 0
    while i < total:
        re = i
        added = re - rs + 1
        if (added % 5 == 0) or (i == total - 1) or (added >= 20):
            actual = save(rs, re)
            if actual > max_bytes:
                if added > 1:
                    re = i - 1
                    i -= 1
                ranges.append((rs, re))
                rs, re = re + 1, re
            elif i < total - 1 and actual < max_bytes * 0.75:
                extra = 0
                for k in range(min(5, total - i - 1)):
                    if save(rs, i + 1 + k) > max_bytes:
                        break
                    extra += 1
                i += extra
                re = i
        i += 1
    if re >= rs:
        ranges.append((rs, re))
    return ranges


def fold_size_ranges(sizes: list[int], max_bytes: int) -> list[tuple]:
    """The aggregate-fold state machine split_by_byte_size runs on the
    executors, re-expressed in Python for the parity check."""
    n = len(sizes)
    ends: list[int] = []
    start, run = 0, 0
    for idx in range(n):
        b = sizes[idx]
        run += b
        added = idx - start + 1
        chk = (added % 5 == 0) or (added >= 20) or (idx == n - 1)
        if chk and run > max_bytes:
            if added > 1:
                if idx == n - 1 and b > max_bytes:
                    ends += [idx - 1, idx]
                    start, run = idx + 1, 0
                else:
                    ends += [idx - 1]
                    start, run = idx, b
            else:
                ends += [idx]
                start, run = idx + 1, 0
    ranges, prev = [], -1
    for e in ends:
        ranges.append((prev + 1, e))
        prev = e
    if prev < n - 1:
        ranges.append((prev + 1, n - 1))
    return ranges


def java_doccount_ranges(total: int, n: int) -> list[tuple]:
    per, extra = total // n, total % n
    ranges, cursor = [], 0
    for i in range(n):
        add = per + (1 if i < extra else 0)
        if add == 0:
            continue
        ranges.append((cursor, cursor + add - 1))
        cursor += add
    return ranges


def test_size_machine_matches_reference_loop():
    rng = random.Random(7)
    for _ in range(3000):
        n = rng.randint(1, 60)
        sizes = [rng.randint(0, 4000) for _ in range(n)]
        mb = rng.choice([1000, 3000, 5000, 10000, 100000])
        assert fold_size_ranges(sizes, mb) == java_size_ranges(sizes, mb)


def _doc(doc_id: str, page_line_counts: list[int], line_len: int = 10):
    """One doc with the given number of lines per page; every line's
    content is exactly ``line_len`` bytes."""
    spans = []
    for p, nl in enumerate(page_line_counts, start=1):
        for li in range(nl):
            run = TextRun(p, 72.0, 72.0 + 14.0 * li, 11.0, "Helvetica",
                          "x" * line_len)
            spans.append(("text", wire.encode_text_run(run), "",
                          len(spans)))
    return (doc_id,
            [dict(zip(("kind", "text", "media_ref", "offset"), s))
             for s in spans])


def _rows(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_page_byte_sizes(spark):
    docs = _rows(spark, [_doc("doc-a", [3, 0, 2], line_len=7)])
    got = {r["page"]: r["b"]
           for r in page_byte_sizes(docs).collect()}
    # page 2 has no spans at all -> absent; pages 1/3 weigh 21/14
    assert got == {1: 21, 3: 14}


@pytest.mark.parametrize("pages,mb", [
    ([1] * 12, 30),       # uniform, backtracked ranges
    ([1] * 7, 1000),      # all fits -> one part
    ([1, 1, 1, 1, 50], 30),   # oversize last page
    ([50], 30),           # single oversize page
    ([1] * 25, 100),      # >= 20 forced checks
])
def test_split_by_byte_size_matches_simulation(spark, pages, mb):
    line_len = 10
    docs = _rows(spark, [_doc("doc-a", pages, line_len)])
    sizes = [n * line_len for n in pages]
    want_ranges = java_size_ranges(sizes, mb)
    parts = split_by_byte_size(docs, mb)
    got = {
        r["doc_id"]: r["n"]
        for r in parts.select(
            "doc_id", F.size("spans").alias("n")).collect()
    }
    want = {
        f"doc-a#b{k}": sum(pages[a:b + 1])
        for k, (a, b) in enumerate(want_ranges)
    }
    assert got == want


def test_split_by_byte_size_multiple_docs_independent(spark):
    rng = random.Random(11)
    rows, want = [], {}
    for d in range(6):
        # >= 1 line per page: a zero-span page does not exist in the
        # docs table at all (see test_page_byte_sizes), so the machine
        # correctly never sees it
        pages = [rng.randint(1, 6) for _ in range(rng.randint(1, 30))]
        rows.append(_doc(f"doc-{d}", pages))
        for k, (a, b) in enumerate(java_size_ranges(
                [n * 10 for n in pages], 120)):
            cnt = sum(pages[a:b + 1])
            want[f"doc-{d}#b{k}"] = cnt
    parts = split_by_byte_size(_rows(spark, rows), 120)
    got = {r["doc_id"]: r["n"] for r in parts.select(
        "doc_id", F.size("spans").alias("n")).collect()}
    assert got == want


def test_split_into_n_docs_matches_reference(spark):
    for total, n in [(20, 5), (10, 3), (3, 5), (1, 4), (7, 7), (23, 4)]:
        docs = _rows(spark, [_doc("doc-a", [1] * total)])
        parts = split_into_n_docs(docs, n)
        got = {r["doc_id"]: r["n"] for r in parts.select(
            "doc_id", F.size("spans").alias("n")).collect()}
        want = {
            f"doc-a#d{k}": b - a + 1
            for k, (a, b) in enumerate(java_doccount_ranges(total, n))
        }
        assert got == want, (total, n)


def test_split_into_n_docs_nonpage_spans_stick_to_last(spark):
    did, spans = _doc("doc-a", [1, 1, 1, 1])
    spans.append(dict(kind="attachment", text="a.bin",
                      media_ref="media-00", offset=len(spans)))
    parts = split_into_n_docs(_rows(spark, [(did, spans)]), 2)
    got = {r["doc_id"]: [s["kind"] for s in r["spans"]]
           for r in parts.collect()}
    assert got["doc-a#d0"] == ["text", "text"]
    assert got["doc-a#d1"] == ["text", "text", "attachment"]


FF = [("formfield", "name|type|value", "", 0)]


def _ff_doc(doc_id: str, fields: list[tuple], n_pages: int = 1):
    spans = []
    for name, ftype, val in fields:
        spans.append(("formfield", f"{name}|{ftype}|{val}", "",
                      len(spans)))
    for p in range(1, n_pages + 1):
        run = TextRun(p, 72.0, 72.0, 11.0, "Helvetica", f"body {p}")
        spans.append(("text", wire.encode_text_run(run), "", len(spans)))
    return (doc_id,
            [dict(zip(("kind", "text", "media_ref", "offset"), s))
             for s in spans])


def test_flatten_forms_paints_values_and_drops_fields(spark):
    docs = _rows(spark, [_ff_doc("doc-a", [
        ("f0", "text", "hello"),
        ("f1", "checkbox", "Yes"),
        ("sig0", "signature", ""),     # empty -> paints nothing
    ], n_pages=2)])
    out = flatten_forms(docs)
    [row] = out.collect()
    kinds = [s["kind"] for s in row["spans"]]
    assert "formfield" not in kinds
    painted = [s["text"] for s in row["spans"]
               if s["kind"] == "text" and "\t" in s["text"]
               and s["text"].split("\t", 1)[1] in ("hello", "Yes")]
    # painted on the LAST page (2) at the widget slots, field order
    assert painted == ["2|72.0|680.0|11.0|Helvetica\thello",
                       "2|72.0|694.0|11.0|Helvetica\tYes"]
    # offsets re-packed dense
    assert [s["offset"] for s in row["spans"]] == list(
        range(len(row["spans"])))


def test_flatten_forms_no_fields_noop(spark):
    docs = _rows(spark, [_doc("doc-a", [2, 1])])
    before = docs.collect()[0]["spans"]
    after = flatten_forms(docs).collect()[0]["spans"]
    assert [tuple(s) for s in before] == [tuple(s) for s in after]


def test_flatten_forms_extraction_sees_static_text(spark):
    from stirling_pdf_spark.operators.extract_pipeline import extract_spans

    docs = _rows(spark, [_ff_doc("doc-a", [("f0", "text", "VALUE0")])])
    flat = extract_spans(flatten_forms(docs))
    [row] = flat.collect()
    kinds = [s["kind"] for s in row["spans"]]
    assert "formfield" not in kinds
    texts = [s["text"] for s in row["spans"] if s["kind"] == "text"]
    assert any("VALUE0" in t for t in texts)
