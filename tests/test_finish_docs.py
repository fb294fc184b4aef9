"""The regroup's batch body, ``extract_pipeline._finish_docs``, on
hand-built Arrow batches of one task (no Spark): unsalted rows pass
through unchanged, each salted doc comes out once, as ``_reassemble`` of
all its segment rows wherever the batch cuts fall and in whatever order
the rows arrive, and every output batch has exactly the spans_out Arrow
schema."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from stirling_pdf_spark.kernel.model import MAX_CHUNKS_PER_DOC
from stirling_pdf_spark.operators.extract_pipeline import (
    SPANS_OUT_SCHEMA, _SUB_SCHEMA, _finish_docs, _reassemble)

SUB = to_arrow_schema(_SUB_SCHEMA)
OUT = to_arrow_schema(SPANS_OUT_SCHEMA)


def _spans(tag: str, n: int, kind: str = "text") -> list[dict]:
    return [dict(kind=kind, text=f"{tag}-{i}", media_ref=None, order=i)
            for i in range(n)]


def _unsalted(doc_id: str) -> list[dict]:
    spans = _spans(doc_id, 3) + [dict(kind="media", text=None,
                                      media_ref=f"{doc_id}-img", order=3)]
    return [dict(doc_id=doc_id, bucket=0, salted=False, spans=spans)]


def _salted(doc_id: str, n_buckets: int, per_bucket: int = 5) -> list[dict]:
    # buckets out of order, as the shuffle may deliver them; per-bucket
    # order restarts at 0, as the sub-extraction emits it
    return [dict(doc_id=doc_id, bucket=b, salted=True,
                 spans=_spans(f"{doc_id}/{b}", per_bucket))
            for b in reversed(range(n_buckets))]


def _expected(rows: list[dict]) -> dict[str, list]:
    out = {}
    for row in rows:
        did = row["doc_id"]
        if did in out:
            continue
        group = [r for r in rows if r["doc_id"] == did]
        if row["salted"]:
            spans = _reassemble(pa.Table.from_pylist(group, schema=SUB))
            out[did] = spans.column("spans").to_pylist()[0]
        else:
            out[did] = row["spans"]
    return out


def _run(rows: list[dict], cuts: list[int]) -> list[pa.RecordBatch]:
    """``_finish_docs`` over ``rows`` cut into batches at ``cuts`` (a
    repeated cut makes an empty batch)."""
    bounds = [0, *cuts, len(rows)]
    batches = [pa.RecordBatch.from_pylist(rows[a:b], schema=SUB)
               for a, b in zip(bounds, bounds[1:])]
    return list(_finish_docs(iter(batches)))


def _check(rows: list[dict], cuts: list[int]) -> None:
    out = _run(rows, cuts)
    for rb in out:
        assert rb.schema == OUT
    got = pa.Table.from_batches(out, schema=OUT).to_pylist()
    expected = _expected(rows)
    assert sorted(r["doc_id"] for r in got) == sorted(expected)
    assert {r["doc_id"]: r["spans"] for r in got} == expected


def _every_batch_size(rows: list[dict]):
    for size in range(1, len(rows) + 1):
        yield list(range(size, len(rows), size))


def test_salted_doc_straddles_two_batches():
    rows = _unsalted("a") + _salted("b", 3) + _unsalted("c")
    _check(rows, [2])


def test_salted_doc_straddles_three_batches():
    rows = _unsalted("a") + _salted("b", 4) + _unsalted("c")
    _check(rows, [2, 4])
    _check(rows, [1, 2, 3, 4, 5])


def test_salted_docs_at_both_ends_of_the_partition():
    rows = _salted("a", 2) + _unsalted("b") + _salted("c", 3)
    for cuts in _every_batch_size(rows):
        _check(rows, cuts)


def test_unsalted_rows_between_and_next_to_salted_docs():
    rows = (_salted("a", 2) + _unsalted("b") + _unsalted("c")
            + _salted("d", 3) + _salted("e", 1) + _unsalted("f"))
    for cuts in _every_batch_size(rows):
        _check(rows, cuts)


def test_salted_rows_interleaved_with_other_docs():
    a, c = _salted("a", 3), _salted("c", 2)
    rows = [a[0], *_unsalted("b"), c[0], a[1], *_unsalted("d"), c[1], a[2]]
    for cuts in _every_batch_size(rows):
        _check(rows, cuts)


def test_unsalted_rows_pass_through_unchanged():
    rows = _unsalted("a") + _unsalted("b") + _unsalted("c")
    out = _run(rows, [])
    assert len(out) == 1
    expected = pa.RecordBatch.from_pylist(rows, schema=SUB)
    assert out[0].column(0).equals(expected.column(0))
    assert out[0].column(1).equals(expected.column(3))


def test_chunk_budget_reapplied_across_batches():
    per_bucket = MAX_CHUNKS_PER_DOC // 2 + 1
    rows = _unsalted("a") + _salted("b", 3, per_bucket) + _unsalted("c")
    _check(rows, [2, 3])
    spans = _expected(rows)["b"]
    assert len(spans) == MAX_CHUNKS_PER_DOC
    assert [s["order"] for s in spans] == list(range(MAX_CHUNKS_PER_DOC))


@pytest.mark.parametrize("cuts", [[0], [2, 2], [2, 4, 4, 4], [6, 6]])
def test_empty_batches(cuts):
    rows = _unsalted("a") + _salted("b", 4) + _unsalted("c")
    _check(rows, cuts)


def test_empty_partition():
    assert list(_finish_docs(iter([]))) == []
    out = _run([], [0, 0])
    assert all(rb.num_rows == 0 and rb.schema == OUT for rb in out)
