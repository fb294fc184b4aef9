"""Correctness check of a checkpointed extraction output.

The expected spans of every document come from the in-process kernel
(``kernel.extract.extract_doc`` at its default chunk budget) run over the
same input parquet the job read, so salted mega-docs are held to the
unsalted kernel's output. The committed output is read back with pyarrow,
independently of Spark: a document's visible spans are those of the run
its latest lineage row names. Spans compare on (kind, text, media_ref,
order).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

_RUN_PARTITIONING = ds.partitioning(pa.schema([("run_id", pa.string())]),
                                    flavor="hive")
_OUT_FIELDS = ("kind", "text", "media_ref", "order")
_OUT_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("order", pa.int32())])


def _span_lists(col: pa.ChunkedArray | pa.Array, fields) -> list[list[tuple]]:
    lst = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    vals = lst.flatten()
    flat = list(zip(*(vals.field(f).to_pylist() for f in fields)))
    offs = lst.offsets.to_pylist()
    return [flat[offs[i]:offs[i + 1]] for i in range(len(offs) - 1)]


def read_docs(path: str) -> dict[str, list[tuple]]:
    """doc_id -> raw spans (kind, text, media_ref, offset) of a docs table."""
    table = pq.read_table(path, columns=["doc_id", "spans"])
    spans = _span_lists(table.column("spans"),
                        ("kind", "text", "media_ref", "offset"))
    return dict(zip(table.column("doc_id").to_pylist(), spans))


def expected_spans(raw: dict[str, list[tuple]]) -> dict[str, list[tuple]]:
    from stirling_pdf_spark.kernel.extract import extract_doc

    return {doc: [tuple(s) for s in extract_doc(spans)]
            for doc, spans in raw.items()}


def committed_table(out_dir: str) -> tuple[pa.Table, dict[str, str]]:
    """(visible (doc_id, spans) rows sorted by doc_id, doc_id -> committing
    run_id)."""
    lineage = pq.read_table(os.path.join(out_dir, "lineage"),
                            columns=["doc_id", "run_id", "committed_at"])
    latest: dict[str, tuple] = {}
    for doc, run, at in zip(lineage.column("doc_id").to_pylist(),
                            lineage.column("run_id").to_pylist(),
                            lineage.column("committed_at").to_pylist()):
        if doc not in latest or at > latest[doc][1]:
            latest[doc] = (run, at)
    runs = {doc: run for doc, (run, _) in latest.items()}
    spans = ds.dataset(os.path.join(out_dir, "spans"), format="parquet",
                       partitioning=_RUN_PARTITIONING).to_table(
        columns=["doc_id", "run_id", "spans"])
    docs = spans.column("doc_id").to_pylist()
    visible = [runs.get(d) == r
               for d, r in zip(docs, spans.column("run_id").to_pylist())]
    kept = [d for d, v in zip(docs, visible) if v]
    if len(kept) != len(set(kept)):
        raise ValueError("a doc is committed twice by one run")
    table = spans.filter(pa.array(visible, pa.bool_())).select(["doc_id", "spans"])
    return table.sort_by("doc_id"), runs


def read_committed(out_dir: str) -> tuple[dict[str, list[tuple]], dict[str, str]]:
    """(doc_id -> visible spans, doc_id -> committing run_id)."""
    table, runs = committed_table(out_dir)
    return as_dict(table), runs


def as_dict(table: pa.Table) -> dict[str, list[tuple]]:
    return dict(zip(table.column("doc_id").to_pylist(),
                    _span_lists(table.column("spans"), _OUT_FIELDS)))


def spans_table(spans: dict[str, list[tuple]]) -> pa.Table:
    """(doc_id, spans) rows sorted by doc_id, for ``same_spans``."""
    docs = sorted(spans)
    return pa.table({"doc_id": pa.array(docs, pa.string()),
                     "spans": pa.array([[dict(zip(_OUT_FIELDS, s)) for s in spans[d]]
                                        for d in docs], pa.list_(_OUT_SPAN))})


def _flat(table: pa.Table) -> list[pa.Array]:
    lst = table.column("spans").combine_chunks()
    vals = lst.flatten()
    return ([table.column("doc_id").combine_chunks(), lst.value_lengths()]
            + [vals.field(f) for f in _OUT_FIELDS])


def same_spans(a: pa.Table, b: pa.Table) -> bool:
    """Columnar equality of two sorted (doc_id, spans) tables, ignoring
    field nullability."""
    return a.num_rows == b.num_rows and all(
        x.equals(y) for x, y in zip(_flat(a), _flat(b)))


def compare(committed: dict[str, list[tuple]],
            expected: dict[str, list[tuple]], limit: int = 5) -> list[str]:
    """Human-readable mismatches (at most ``limit``); empty when equal."""
    problems = []
    missing = expected.keys() - committed.keys()
    extra = committed.keys() - expected.keys()
    if missing:
        problems.append(f"{len(missing)} docs not committed, e.g. {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} unexpected docs, e.g. {min(extra)}")
    for doc in sorted(expected.keys() & committed.keys()):
        got, want = committed[doc], expected[doc]
        if got != want:
            at = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w),
                      min(len(got), len(want)))
            problems.append(f"{doc}: span {at} differs ({len(got)} spans "
                            f"committed, {len(want)} expected)")
            if len(problems) >= limit:
                break
    return problems
