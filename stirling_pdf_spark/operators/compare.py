"""Document compare — Spark plumbing over the kernel/diff.py LCS.

The reference's compare tool (frontend/editor/src/core/components/
tools/compare/) extracts each file's text, word-diffs the two token
streams (utils/textDiff.ts) and renders per-pane change groups for
highlight + navigation (hooks/useCompareHighlights.ts).  Here the two
sides are two CORPORA (base vs revised snapshot) and the diff runs
per doc_id pair — the corpus-refresh audit a training pipeline runs
when a re-crawl or re-extraction lands: what changed, where, how
much.

Scale shape: one equi-join on doc_id (both sides hash-partition on
the key; no broadcast needed — the sides are the same size), then a
map-only Arrow-batched diff.  Per-pair cost is O(len_a · len_b) in
DOCUMENT length only; pairs are independent so the stage scales out
perfectly and a doc-length salt is unnecessary — one mega-document
costs one task its matrix, bounded by ``max_tokens``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract_pipeline import map_rows, spread

_SUMMARY_SCHEMA = ("doc_id string, n_unchanged long, n_removed long, "
                   "n_added long, removed_sorted string, added_sorted string")
_GROUPS_SCHEMA = ("doc_id string, pane string, group_idx long, "
                  "group_id string, first_pos long, last_pos long, "
                  "label string, n_tokens long")


def _paired(base: DataFrame, revised: DataFrame) -> DataFrame:
    b = base.select(F.col("doc_id"), F.col("text").alias("base_text"))
    r = revised.select(F.col("doc_id"), F.col("text").alias("rev_text"))
    # spread for the LCS matrix, O(len_a*len_b) per pair row
    return spread(b.join(r, "doc_id"), "doc_id")


def compare_summary(base: DataFrame, revised: DataFrame,
                    max_tokens: int | None = None) -> DataFrame:
    """Per-doc diff rollup between two (doc_id, text) corpora:
    (doc_id, n_unchanged, n_removed, n_added, removed_sorted,
    added_sorted) — counts from the reference LCS diff, the
    removed/added token lists sorted so the row is a pure function of
    the per-type multisets (deterministic under equal-token ties)."""
    from ..kernel.diff import diff_summary, tokenize

    def gen(did, bt, rt):
        yield (did, *diff_summary(tokenize(bt or ""), tokenize(rt or ""),
                                  max_tokens=max_tokens))

    return map_rows(_paired(base, revised), gen, _SUMMARY_SCHEMA)


def compare_changes(base: DataFrame, revised: DataFrame,
                    max_tokens: int | None = None) -> DataFrame:
    """Per-pane change-navigation rows between two corpora — the
    buildWordChanges parity surface: maximal runs of highlighted
    tokens in each pane's own token stream, with the reference's
    ``{pane}-group-t{first}-t{last}`` ids and space-joined labels.

    Output: (doc_id, pane, group_idx, group_id, first_pos, last_pos,
    label, n_tokens), pane in {base, comparison}, group_idx 0-based
    per (doc, pane) in document order."""
    from ..kernel.diff import change_groups, diff_words, tokenize

    def gen(did, bt, rt):
        diff = diff_words(tokenize(bt or ""), tokenize(rt or ""),
                          max_tokens=max_tokens)
        for pane in ("base", "comparison"):
            for idx, group in enumerate(change_groups(diff, pane)):
                yield (did, pane, idx, *group)

    return map_rows(_paired(base, revised), gen, _GROUPS_SCHEMA)
