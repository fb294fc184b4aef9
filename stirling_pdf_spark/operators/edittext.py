"""/edit-text operator: ordered find/replace over raw documents.

One ``map_docs`` stage over the raw docs table
(operators/extract_pipeline.py): per document, text runs group
by POSITIONAL page (the controller filters by positional numbering,
EditTextController.java:186-199, because pageNumber fields can go
non-sequential after split/merge), each selected page's run contents
edit via the joined-text kernel (kernel/edittext.py), and the edited
contents write back into the SAME wire heads — geometry, fonts and
every non-text span pass through untouched, so the output is again a
raw docs table any downstream operator (extraction, split, export)
consumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..kernel import wire
from ..kernel.edittext import apply_edits_to_page, compile_edits
from ..functions.page_select import parse_page_selection
from .extract_pipeline import map_docs


def edit_text(docs: DataFrame, edits: list[tuple[str, str]],
              whole_word_search: bool = False,
              page_numbers: str | None = None) -> DataFrame:
    """docs(doc_id, raw spans) -> docs with the ordered (find,
    replace) list applied. ``page_numbers`` is the F7 page-select DSL
    against the doc's page count ('all'/None = every page)."""
    compiled = compile_edits(edits, whole_word_search)
    spec = (None if page_numbers is None
            or page_numbers.strip().lower() in ("", "all")
            else page_numbers)

    def edit(did, spans):
        # positional pages: sorted distinct page numbers of the doc's
        # text runs, position i+1
        runs_by_page: dict[int, list[int]] = {}
        parsed: dict[int, wire.TextRun] = {}
        for idx, (kind, text, _m, _off) in enumerate(spans):
            if kind == "text":
                r = wire.parse_text_run(text)
                parsed[idx] = r
                runs_by_page.setdefault(r.page, []).append(idx)
        pages = sorted(runs_by_page)
        if spec is None:
            selected = set(range(1, len(pages) + 1))
        else:
            selected = set(parse_page_selection(spec, len(pages)))
        new_spans = list(spans)
        for pos, page in enumerate(pages, start=1):
            if pos not in selected:
                continue
            idxs = sorted(runs_by_page[page], key=lambda i: spans[i][3])
            texts = [parsed[i].content for i in idxs]
            edited, _n = apply_edits_to_page(texts, compiled)
            for i, content in zip(idxs, edited):
                if content == parsed[i].content:
                    continue
                r = parsed[i]._replace(content=content)
                kind, _t, m, off = spans[i]
                new_spans[i] = (kind, wire.encode_text_run(r), m, off)
        return [(did, new_spans)]

    return map_docs(docs, edit, docs.schema)
