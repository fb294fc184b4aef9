"""Attachment CRUD over the raw docs table (AttachmentController
/add-attachments + /remove-attachment + rename;
AttachmentService.java:64-127 add, :282-321 rename, :324-357 delete).

The docs table's attachment spans model the embedded-files name tree in
walk order (kernel/attachments.py), so CRUD is nested-array column math
plus an offset re-pack — no UDF, no shuffle:

  * add    — append (name, media_ref) pairs at the END of the span
             list: the names-map put order (LinkedHashMap,
             AttachmentService.java:145-146). Payload size caps
             (50 MB/file, 200 MB total — AttachmentController.java
             :120-141) apply where payloads live, i.e. at the media
             table; the span wire carries names and refs only.
  * delete — match by the RESOLVED fallback-chain name
             (determineFilename :429-445) and drop the FIRST match
             (the reference breaks at the first map hit).
  * rename — the matched entry takes the new name AND MOVES TO THE
             END (remove + put re-insertion, :312-313).

Unlike the per-document reference endpoints (which throw on a missing
name), these are BULK operators: documents without a match pass
through unchanged — the practical semantics for a corpus-wide sweep.
Listing after any CRUD is E11 extraction again; the attachment_crud
gate drives add -> rename -> delete -> list end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .pageops import _repack


def _resolved_name(s: Column) -> Column:
    """determineFilename fallback chain (AttachmentService.java:429-445)
    over the raw span: the (possibly empty) raw name, else the
    media_ref-derived synthetic name — kernel fallback_name as columns."""
    suffix = F.when(
        s["media_ref"] != "",
        F.element_at(F.split(s["media_ref"], "-"), -1),
    ).otherwise(F.lit("unknown"))
    return F.when(s["text"] != "", s["text"]).otherwise(
        F.concat(F.lit("attachment-"), suffix))


def _first_match_idx(name: str) -> Column:
    """0-based index of the first attachment span whose resolved name
    equals ``name`` (null when absent)."""
    with_idx = F.transform(
        "spans", lambda s, i: F.struct(s.alias("s"), i.alias("i")))
    hits = F.filter(
        with_idx,
        lambda x: (x["s"]["kind"] == "attachment")
        & (_resolved_name(x["s"]) == name),
    )
    return F.array_min(F.transform(hits, lambda x: x["i"]))


def add_attachments(docs: DataFrame,
                    attachments: list[tuple[str, str]]) -> DataFrame:
    """Append (name, media_ref) attachment spans to every document."""
    new = F.array(*[
        F.struct(
            F.lit("attachment").alias("kind"), F.lit(n).alias("text"),
            F.lit(r).alias("media_ref"), F.lit(0).alias("offset"),
        )
        for n, r in attachments
    ])
    return docs.select(
        "doc_id", _repack(F.concat("spans", new)).alias("spans"))


def delete_attachment(docs: DataFrame, name: str) -> DataFrame:
    """Drop the first attachment span resolving to ``name``; docs
    without a match pass through."""
    idx = _first_match_idx(name)
    kept = F.filter("spans", lambda s, i: idx.isNull() | (i != idx))
    return docs.select("doc_id", _repack(kept).alias("spans"))


def rename_attachment(docs: DataFrame, name: str,
                      new_name: str) -> DataFrame:
    """Rename the first attachment span resolving to ``name`` and move
    it to the end of the span list (names-map remove + put,
    AttachmentService.java:312-313)."""
    idx = _first_match_idx(name)
    kept = F.filter("spans", lambda s, i: i != idx)
    matched = F.element_at("spans", idx + 1)
    renamed = F.array(matched.withField("text", F.lit(new_name)))
    out = F.when(idx.isNull(), F.col("spans")).otherwise(
        F.concat(kept, renamed))
    return docs.select("doc_id", _repack(out).alias("spans"))
