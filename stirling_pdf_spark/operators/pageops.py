"""Page-structure operators over the interleaved docs table
(reference ops S2 split-at-pages, S7 geometric transforms, E10
span predicates — SURVEY.md §2.3/2.4).

These operate on the RAW docs shape (wire headers carry page + geometry,
kernel/wire.py), since page structure is erased from the final span
table by design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# PAGE_KINDS: every kind whose wire text starts with the
# "{page}|f1|f2|f3|f4" header (kernel/wire.py); ALL of them must be
# remapped together whenever a page-rewriting operator
# shifts/permutes/removes page numbers. 'annotation' carries a
# media-style (x, y, w, h) header + a "subtype|contents|author|subject"
# body, so geometry ops treat it like a media bbox (PdfJsonAnnotation
# rect semantics).
from ..kernel.extract import PAGE_KINDS

_FAR_PAGE = 1 << 30  # html/attachment spans sort after every real page

# kinds with a real on-page anchor/extent (annotation rects transform
# with the page like media boxes; pagemeta is page STATE, not geometry)
GEO_KINDS = ("text", "media", "rule", "annotation")


def _is_page_kind(s: Column) -> Column:
    return s["kind"].isin(*PAGE_KINDS)


def span_page(s: Column) -> Column:
    """Page number of a raw span (from the wire header); html and
    attachments belong to no page and map to _FAR_PAGE (they stay with
    the last part on split, matching the kernel's read-after-pages
    contract)."""
    return F.when(_is_page_kind(s), wire_page(s["text"])) \
        .otherwise(F.lit(_FAR_PAGE))


# ------------------------------------------------------------ wire codec
# The one Spark-side reader and writer of the raw-span header
# "{page}|f1|f2|f3|f4[\t{body}]" (kernel/wire.py). The header is the
# text before the FIRST tab, split like Python's split("|", 4), so a
# fifth field (a font name, a pagemeta label) keeps any "|" it holds;
# the body is everything after that tab and is never re-split. Every
# page operator reads, rewrites and renumbers spans through these.

def _wire_head(text: Column) -> Column:
    return F.substring_index(text, "\t", 1)


def wire_fields(text: Column) -> list[Column]:
    """The five header fields as string columns (null past the end of
    a short header)."""
    parts = F.split(_wire_head(text), r"\|", 5)
    return [F.get(parts, i) for i in range(5)]


def wire_page(text: Column) -> Column:
    """The header's page field as a long."""
    return F.split_part(text, F.lit("|"), F.lit(1)).cast("long")


def wire_body(text: Column) -> Column:
    """Everything after the first tab ("" when there is none)."""
    return F.substr(text, F.length(_wire_head(text)) + 2)


def wire_text(text: Column, fields: list[Column]) -> Column:
    """``text`` with its header replaced by ``fields`` joined with "|";
    everything from the first tab on is kept unchanged."""
    return F.concat(F.concat_ws("|", *fields),
                    F.substr(text, F.length(_wire_head(text)) + 1))


def wire_repage(text: Column, page: Column) -> Column:
    """``text`` renumbered to ``page``: only the text before the first
    "|" changes."""
    return F.concat(page.cast("string"),
                    F.substr(text, F.instr(text, "|")))


def _repack(spans: Column) -> Column:
    """Dense, order-preserving int offsets 0..n-1 over a span array."""
    return F.transform(
        spans, lambda s, i: s.withField("offset", i.cast("int")))


def _regroup(exploded: DataFrame, id_col: str = "doc_id",
             order_cols: tuple = ()) -> DataFrame:
    """Collect exploded (id, s) rows back into a docs table with dense,
    order-preserving offsets. ``order_cols`` sort before s.offset."""
    key = F.struct(
        *[F.col(c).alias(f"k{i}") for i, c in enumerate(order_cols)],
        F.col("s.offset").alias("o"), F.col("s").alias("s"),
    )
    return (
        exploded.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(key)).alias("ordered"))
        .select(
            F.col(id_col).alias("doc_id"),
            _repack(F.transform("ordered", lambda x: x["s"])).alias("spans"),
        )
    )


def _widen_offset(sp: Column) -> Column:
    """The span with a LONG offset so it can union with synthetic spans
    whose offsets exceed int32 (watermark grids); _regroup re-densifies
    offsets to int afterwards."""
    return sp.withField("offset", sp["offset"].cast("long"))


MERGE_COMPARATORS = ("byFileName", "byDateModified", "byDateCreated",
                     "byPDFTitle", "orderProvided")


def _raw_meta_value(key: str) -> Column:
    """Value of the first kind='meta' "key|value" raw span for ``key``
    (null when absent) — how the merge comparators read Info-dict state
    the way MergeController reads PDDocumentInformation."""
    vals = F.filter(
        "spans",
        lambda s: (s["kind"] == "meta") & s["text"].startswith(key + "|"),
    )
    return F.when(
        F.size(vals) > 0,
        F.substring(F.element_at(vals, 1)["text"], len(key) + 2, 1 << 20),
    )


def _merge_sort_keys(comparator: str,
                     provided_order: list[str] | None) -> list[Column]:
    """Per-document sort keys for MergeController.getSortComparator
    (:115-162), evaluated against docs(doc_id, spans):

      byFileName      case-insensitive lexicographic doc_id ascending
                      (String.CASE_INSENSITIVE_ORDER, :118-123 — NOT
                      numeric-aware: 'doc-10' sorts before 'doc-2');
      byDateModified/ BOTH delegate to getPdfDateTimeSafe (:218-231),
      byDateCreated   which prefers the MODIFICATION date and falls
                      back to creation — newest first
                      (Long.compare(t2, t1)); docs with neither sort
                      last (t = 0);
      byPDFTitle      title case-insensitive ascending, null titles
                      LAST (:146-152);
      orderProvided   the caller-provided doc_id order (:162, no-op
                      comparator over the upload order); unlisted docs
                      follow.

    Java's sort is stable on input order; here every comparator
    tie-breaks deterministically by (numeric doc_id, doc_id). A doc_id
    with no digit has a null number and a date that is not a number
    counts as absent, so neither fails the job.

    Returns PLAIN value columns (projectable); the direction of key 0
    (date DESC, title NULLS LAST) is re-applied by ``merge_order``."""
    if comparator not in MERGE_COMPARATORS:
        raise ValueError(
            f"unknown comparator {comparator!r}; one of {MERGE_COMPARATORS}")
    num = F.regexp_extract("doc_id", "([0-9]+)", 1).try_cast("long")
    tie = [num, F.col("doc_id")]
    if comparator in ("byDateModified", "byDateCreated"):
        ts = F.coalesce(_raw_meta_value("modified").try_cast("long"),
                        _raw_meta_value("created").try_cast("long"), F.lit(0))
        return [ts] + tie
    if comparator == "byPDFTitle":
        return [F.lower(_raw_meta_value("title"))] + tie
    if comparator == "orderProvided":
        order = list(provided_order or [])
        pos = F.array_position(
            F.array(*[F.lit(d) for d in order]), F.col("doc_id"))
        return [F.when(pos > 0, pos).otherwise(F.lit(1 << 30))] + tie
    return [F.lower(F.col("doc_id"))] + tie  # byFileName


def merge_order(docs: DataFrame, comparator: str = "byFileName",
                provided_order: list[str] | None = None) -> DataFrame:
    """The merge plan: (doc_id, doc_pos, page_shift, np) — each input
    document's 1-based position in the merged output and the page
    offset its pages shift by. ``merge_docs`` consumes this; gating it
    directly pins the comparator semantics.

    One global window over the per-doc ``n_pages`` aggregate: it sorts
    one row per input document, not spans, and the merge's output is
    one document that one executor holds anyway, so the window adds no
    bound on scale. The tie-break keys make the order strict."""
    s = F.col("s")
    is_geo = _is_page_kind(s)
    p = wire_page(s["text"])

    keyed = docs.select(
        "doc_id",
        *[k.alias(f"sk{i}")
          for i, k in enumerate(_merge_sort_keys(comparator, provided_order))],
    )
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    n_pages = exploded.groupBy("doc_id").agg(
        F.max(F.when(is_geo, p)).alias("np")
    ).fillna(0, ["np"])
    # sort-key columns lose their asc/desc when re-selected off the
    # join; re-apply the direction to the materialized key columns
    n_keys = len(_merge_sort_keys(comparator, provided_order))
    order_cols = [F.col(f"sk{i}") for i in range(n_keys)]
    if comparator in ("byDateModified", "byDateCreated"):
        order_cols[0] = order_cols[0].desc()
    elif comparator == "byPDFTitle":
        order_cols[0] = order_cols[0].asc_nulls_last()
    joined = n_pages.join(keyed, "doc_id")

    w_order = Window.orderBy(*order_cols)
    return joined.select(
        "doc_id", "np",
        F.row_number().over(w_order).alias("doc_pos"),
        F.coalesce(
            F.sum("np").over(
                w_order.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("page_shift"),
    )


def merge_docs(docs: DataFrame, merged_id: str = "merged",
               comparator: str = "byFileName",
               provided_order: list[str] | None = None) -> DataFrame:
    """S1 merge (MergeController.java:69-85): concatenate all documents
    into ONE, ordered by ``comparator`` (the reference's sort set,
    :115-162 — see ``_merge_sort_keys``). Page numbers shift by the
    running page count of preceding docs; non-page spans keep their
    source-doc position in the concatenation order."""
    s = F.col("s")
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    shifted = merge_order(docs, comparator, provided_order)
    new_text = F.when(
        _is_page_kind(s),
        wire_repage(s["text"], wire_page(s["text"]) + F.col("page_shift")),
    ).otherwise(s["text"])
    joined = exploded.join(shifted, "doc_id").select(
        F.lit(merged_id).alias("doc_id"),
        F.col("doc_pos"),
        s.withField("text", new_text).alias("s"),
    )
    return _regroup(joined, order_cols=("doc_pos",))


def overlay_docs(base: DataFrame, overlay: DataFrame) -> DataFrame:
    """S8 overlay (PdfOverlayController, PdfUtils.overlayImage:533-575):
    stack the overlay doc's spans onto the base doc page-wise (pages
    align by number; the pairing key is doc_id). Base content keeps
    emission precedence; overlay spans append after."""
    b = base.select("doc_id", F.explode("spans").alias("s")) \
        .withColumn("layer", F.lit(0))
    o = overlay.select("doc_id", F.explode("spans").alias("s")) \
        .withColumn("layer", F.lit(1))
    return _regroup(b.unionByName(o), order_cols=("layer",))


OVERLAY_MODES = ("SequentialOverlay", "InterleavedOverlay",
                 "FixedRepeatOverlay")


def overlay_docs_multi(base: DataFrame, overlays: DataFrame,
                       mode: str = "SequentialOverlay",
                       counts: list[int] | None = None,
                       position: str = "FOREGROUND") -> DataFrame:
    """S8 overlay with the reference's three page-assignment modes
    (PdfOverlayController.java:123-139 prepareOverlayGuide) over a
    SMALL overlay-docs table (the reference takes an upload array):

      SequentialOverlay   (:144-176) base page p takes the p-th page of
                          the overlay files' concatenated page run —
                          starting at file index (0+1) %% L (the
                          controller advances before first use) and
                          cycling with period = total overlay pages;
      InterleavedOverlay  (:184-199) base page p takes the FIRST page
                          of file (p-1) %% L (PDFBox Overlay's
                          specific-page map always uses a document's
                          first page);
      FixedRepeatOverlay  (:201-227) file i covers the next
                          counts[i] * pages_i base pages (first page
                          again, per PDFBox), runs truncated at the
                          base page count; later pages get no overlay.

    ``position`` FOREGROUND appends overlay content after the base
    span run (layer +1), BACKGROUND prepends it (layer -1) — the
    Overlay.Position switch (:88-92). Overlay file order is
    numeric-aware doc_id order. The guide is computed driver-side from
    the per-file page counts (one tiny aggregate over the handful of
    overlay docs) and joined back as a broadcast literal — base-side
    work stays one scan + one broadcast join however many base pages
    exist."""
    if mode not in OVERLAY_MODES:
        raise ValueError(f"unknown mode {mode!r}; one of {OVERLAY_MODES}")
    s = F.col("s")
    ov = overlays.select(F.col("doc_id").alias("ov_id"),
                         F.explode("spans").alias("s"))
    ov_geo = ov.filter(s["kind"].isin(*GEO_KINDS))
    ov_page = wire_page(s["text"])
    file_pages = {
        r["ov_id"]: r["np"]
        for r in ov_geo.groupBy("ov_id").agg(F.max(ov_page).alias("np"))
        .collect()
    }

    def file_key(fid: str):
        import re

        m = re.search(r"([0-9]+)", fid)
        return (int(m.group(1)) if m else 0, fid)

    files = sorted(file_pages, key=file_key)
    L = len(files)
    if L == 0:
        return base
    # guide: base page p -> (overlay file, overlay page)
    if mode == "SequentialOverlay":
        rot = files[1 % L:] + files[:1 % L]
        seq = [(fid, pg) for fid in rot
               for pg in range(1, file_pages[fid] + 1)]
        T = len(seq)
        idx = ((F.col("page") - 1) % T).cast("int")
        ov_id = F.element_at(F.array(*[F.lit(f) for f, _ in seq]), idx + 1)
        ov_pg = F.element_at(
            F.array(*[F.lit(pg).cast("long") for _, pg in seq]), idx + 1)
    elif mode == "InterleavedOverlay":
        fidx = ((F.col("page") - 1) % L).cast("int")
        ov_id = F.element_at(F.array(*[F.lit(f) for f in files]), fidx + 1)
        ov_pg = F.lit(1).cast("long")
    else:  # FixedRepeatOverlay
        if counts is None or len(counts) != L:
            raise ValueError("FixedRepeatOverlay needs one count per "
                             "overlay doc (:204-210)")
        ov_id, ov_pg = F.lit(None).cast("string"), F.lit(None).cast("long")
        start = 1
        for fid, cnt in zip(files, counts):
            run = cnt * file_pages[fid]
            cond = (F.col("page") >= start) & (F.col("page") < start + run)
            ov_id = F.when(cond, F.lit(fid)).otherwise(ov_id)
            ov_pg = F.when(cond, F.lit(1).cast("long")).otherwise(ov_pg)
            start += run

    b = base.select("doc_id", F.explode("spans").alias("s"))
    b_page = F.when(s["kind"].isin(*PAGE_KINDS), ov_page)
    base_pages = (
        b.select("doc_id", b_page.alias("page"))
        .filter(F.col("page").isNotNull())
        .distinct()
        .select("doc_id", "page", ov_id.alias("ov_id"),
                ov_pg.alias("ov_pg"))
        .filter(F.col("ov_id").isNotNull())
    )
    layer = -1 if position == "BACKGROUND" else 1
    ov_assigned = (
        base_pages.join(
            F.broadcast(ov_geo.select("ov_id", ov_page.alias("ov_pg"), "s")),
            ["ov_id", "ov_pg"],
        )
        .select(
            "doc_id",
            # re-page overlay content to the base page it lands on
            s.withField("text", wire_repage(s["text"], F.col("page")))
            .alias("s"),
            F.lit(layer).alias("layer"),
        )
    )
    stacked = b.withColumn("layer", F.lit(0)).unionByName(ov_assigned)
    return _regroup(stacked, order_cols=("layer",))


def split_at_pages(docs: DataFrame, cut_pages: list[int]) -> DataFrame:
    """S2 (SplitPDFController.java:65-104): cut after each page in
    cut_pages -> one output doc per part, doc_id suffixed '#pN'.
    Span offsets are re-based per part (dense, order-preserving) so each
    part is a valid standalone doc for extract_spans."""
    cuts = sorted(set(int(p) for p in cut_pages))
    s = F.col("s")
    page = span_page(s)
    part = F.lit(0)
    for i, c in enumerate(cuts):
        part = F.when(page > c, i + 1).otherwise(part)

    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    return _regroup(exploded.select(
        F.concat("doc_id", F.lit("#p"), part).alias("doc_id"), "s"))


def rotate_pages_90(docs: DataFrame, page_height: float = 792.0) -> DataFrame:
    """S7 physical rotation: 90-degree clockwise rotation of the page
    CONTENT in screen space about the page box. Point map:
    (x, y) -> (H - y, x) with H the page HEIGHT (Letter default 792 —
    using the width here would send the 40th text line to negative x).
    Per span kind:

      text     anchor rotated (width follows the glyphs);
      media    bbox rotated: top-left (x,y,w,h) -> (H-y-h, x, h, w);
      rule     both endpoints rotated, then normalized so x1<=x2/y1<=y2
               (horizontal rules become vertical and vice versa — the
               lattice grid (E14) stays consistent);
      pagemeta width/height swap, rotation := (rotation + 90) % 360
               (PdfJsonPage.java:18-33 carries exactly this state).

    Pure column math over the nested array — no UDF, no shuffle.

    NOTE: the reference's RotationController only sets the /Rotate page
    attribute (state, not geometry) — that is ``set_page_rotation``;
    extraction output is rotation-invariant there because PDFBox
    coordinates are dir-adjusted. This operator is the physical variant
    (content rewritten); applying it four times is the identity up to
    float rounding."""
    h = F.lit(float(page_height))

    def rot(kind: Column, txt: Column) -> Column:
        p = wire_fields(txt)
        f1, f2 = p[1].cast("double"), p[2].cast("double")
        f3, f4 = p[3].cast("double"), p[4].cast("double")
        text_f = [p[0], (h - f2).cast("string"), f1.cast("string"),
                  p[3], p[4]]
        media_f = [p[0], (h - f2 - f4).cast("string"), f1.cast("string"),
                   p[4], p[3]]
        # rule endpoints (x1,y1),(x2,y2) -> (H-y1,x1),(H-y2,x2), normalized
        rx1, ry1 = h - f2, f1
        rx2, ry2 = h - f4, f3
        rule_f = [p[0], F.least(rx1, rx2).cast("string"),
                  F.least(ry1, ry2).cast("string"),
                  F.greatest(rx1, rx2).cast("string"),
                  F.greatest(ry1, ry2).cast("string")]
        meta_f = [p[0], p[2], p[1],
                  ((p[3].cast("long") + 90) % 360).cast("string"), p[4]]
        return (
            F.when(kind == "text", wire_text(txt, text_f))
            .when(kind.isin("media", "annotation"), wire_text(txt, media_f))
            .when(kind == "rule", wire_text(txt, rule_f))
            .otherwise(wire_text(txt, meta_f))
        )

    return docs.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: s.withField(
                "text",
                F.when(_is_page_kind(s), rot(s["kind"], s["text"]))
                .otherwise(s["text"])),
        ).alias("spans"),
    )


# ------------------------------------------------- rotation state (F6/S7)

def set_page_rotation(docs: DataFrame, rotation: Column | int,
                      page: int = 1,
                      page_width: Column | float = 612.0,
                      page_height: Column | float = 792.0) -> DataFrame:
    """S7 logical rotation (RotationController semantics: the reference
    sets the /Rotate page attribute, leaving content untouched). Writes
    a kind='pagemeta' span for ``page`` carrying the page box +
    rotation state (replacing any existing pagemeta for that page).
    ``rotation``/``page_width``/``page_height`` may be literals or
    Columns (per-doc state). Extraction output is unaffected — the
    kernel's coordinates are already dir-adjusted, the same reason
    PDFBox text extraction is rotation-invariant."""
    rot = rotation if isinstance(rotation, Column) else F.lit(int(rotation))
    w = (page_width if isinstance(page_width, Column)
         else F.lit(float(page_width)))
    h = (page_height if isinstance(page_height, Column)
         else F.lit(float(page_height)))
    prefix = f"{int(page)}|"
    meta_text = F.concat(
        F.lit(prefix),
        w.cast("double").cast("string"), F.lit("|"),
        h.cast("double").cast("string"), F.lit("|"),
        rot.cast("long").cast("string"), F.lit("|"),
    )
    kept = F.filter(
        "spans",
        lambda s: (s["kind"] != "pagemeta")
        | ~s["text"].startswith(prefix),
    )
    appended = F.concat(
        kept,
        F.array(F.struct(
            F.lit("pagemeta").alias("kind"),
            meta_text.alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        )),
    )
    return docs.select("doc_id", _repack(appended).alias("spans"))


def page_rotations(docs: DataFrame) -> DataFrame:
    """(doc_id, page, width, height, rotation) from pagemeta spans —
    the per-page state GetInfoOnPDF.java:812-851 reports."""
    s = F.col("s")
    p = wire_fields(s["text"])
    return (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(s["kind"] == "pagemeta")
        .select(
            "doc_id",
            p[0].cast("long").alias("page"),
            p[1].cast("double").alias("width"),
            p[2].cast("double").alias("height"),
            p[3].cast("long").alias("rotation"),
        )
    )


# FilterController.java:256-265 — shared by the rotation, page-size,
# page-count and file-size filters
COMPARATORS = ("GREATER", "EQUAL", "LESS")

# PdfUtils.textToPageSize:52-66 — the nine standard sizes the reference
# accepts, as PDFBox PDRectangle dimensions in points (ISO sizes are
# mm * 72/25.4; LETTER/LEGAL are US points)
_PPM = 72.0 / 25.4
STANDARD_PAGE_SIZES: dict[str, tuple[float, float]] = {
    "A0": (841 * _PPM, 1189 * _PPM),
    "A1": (594 * _PPM, 841 * _PPM),
    "A2": (420 * _PPM, 594 * _PPM),
    "A3": (297 * _PPM, 420 * _PPM),
    "A4": (210 * _PPM, 297 * _PPM),
    "A5": (148 * _PPM, 210 * _PPM),
    "A6": (105 * _PPM, 148 * _PPM),
    "LETTER": (612.0, 792.0),
    "LEGAL": (612.0, 1008.0),
}


def filter_page_size(docs: DataFrame, size_name: str,
                     comparator: str = "EQUAL") -> DataFrame:
    """F4 filter-page-size (FilterController.java:160-181): the FIRST
    page's area (width*height from its pagemeta box) compared against a
    standard size's area with {GREATER, EQUAL, LESS} (:256-265). Docs
    without pagemeta default to the Letter box, like the synthetic
    corpus geometry."""
    if comparator not in COMPARATORS:
        raise ValueError(
            f"unknown comparator {comparator!r}; one of {COMPARATORS}")
    if size_name.upper() not in STANDARD_PAGE_SIZES:
        raise ValueError(
            f"unknown page size {size_name!r}; one of "
            f"{tuple(STANDARD_PAGE_SIZES)}")
    std_w, std_h = STANDARD_PAGE_SIZES[size_name.upper()]
    std_area = std_w * std_h
    first = (
        page_rotations(docs)
        .groupBy("doc_id")
        .agg(F.min_by(F.struct("width", "height"), "page").alias("fp"))
        .select("doc_id",
                (F.col("fp.width") * F.col("fp.height")).alias("area"))
    )
    sized = docs.join(first, "doc_id", "left").select(
        "doc_id", "spans",
        F.coalesce("area", F.lit(612.0 * 792.0)).alias("area"),
    )
    col = F.col("area")
    cond = {"GREATER": col > std_area, "EQUAL": col == std_area,
            "LESS": col < std_area}[comparator]
    return sized.filter(cond)


def filter_page_rotation(docs: DataFrame, rotation: int,
                         comparator: str = "EQUAL") -> DataFrame:
    """F6 filter-page-rotation (FilterController.java:229-245 reads the
    FIRST page's rotation; the generic comparator is :256-265
    {GREATER, EQUAL, LESS}). Pages without pagemeta default to
    rotation 0, like a PDF page without /Rotate."""
    if comparator not in COMPARATORS:
        raise ValueError(
            f"unknown comparator {comparator!r}; one of {COMPARATORS}")
    first = (
        page_rotations(docs)
        .groupBy("doc_id")
        .agg(F.min_by("rotation", "page").alias("rotation"))
    )
    rotated = docs.join(first, "doc_id", "left").select(
        "doc_id", "spans",
        F.coalesce("rotation", F.lit(0)).alias("rotation"),
    )
    col = F.col("rotation")
    cond = {"GREATER": col > rotation, "EQUAL": col == rotation,
            "LESS": col < rotation}[comparator]
    return rotated.filter(cond)


def split_every_n_pages(docs: DataFrame, n: int) -> DataFrame:
    """S3 split-by-page-count (SplitPdfBySizeController, page-count
    mode): cut after every ``n`` pages — part k holds pages
    kn+1..(k+1)n. Non-page spans stick to the LAST part (the same
    read-after-pages contract as split_at_pages). Output doc ids get a
    '#p{k}' suffix; offsets re-packed per part."""
    s = F.col("s")
    page = span_page(s)
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    last_part = (
        exploded.filter(_is_page_kind(s))
        .groupBy("doc_id")
        .agg(F.floor((F.max(span_page(s)) - 1) / n).alias("lp"))
    )
    tagged = exploded.join(last_part, "doc_id", "left")
    part = F.when(_is_page_kind(s), F.floor((page - 1) / n)) \
        .otherwise(F.coalesce(F.col("lp"), F.lit(0)))
    out = tagged.select(
        F.concat("doc_id", F.lit("#p"), part.cast("long").cast("string"))
        .alias("doc_id"),
        "s",
    )
    return _regroup(out)


def split_by_sections(docs: DataFrame, h_div: int = 1, v_div: int = 1,
                      page_w: float = 612.0, page_h: float = 792.0) -> DataFrame:
    """S5 (SplitPdfBySectionsController; golden counts
    testing/cucumber/features/general.feature:5-27 — h/v are CUT counts,
    so 1x1 divisions turn each page into a 2x2 grid = 4 section pages).
    Each section is scaled up to full page size, like the reference.
    Output: one doc per (page, row, col) with id suffix '#p{P}r{R}c{C}',
    spans re-based/scaled and offsets re-packed. Spans are assigned by
    their anchor point (rules spanning several cells go to their
    anchor's cell); media boxes and rule extents scale with the section;
    pagemeta is dropped — sections are fresh full-size unrotated
    pages."""
    cols, rows = h_div + 1, v_div + 1
    cell_w, cell_h = page_w / cols, page_h / rows
    s = F.col("s")
    p = wire_fields(s["text"])
    x, y = p[1].cast("double"), p[2].cast("double")
    is_geo = s["kind"].isin(*GEO_KINDS)
    col_i = F.least(F.floor(x / cell_w).cast("int"), F.lit(cols - 1))
    row_i = F.least(F.floor(y / cell_h).cast("int"), F.lit(rows - 1))
    nx = (x - col_i * cell_w) * cols
    ny = (y - row_i * cell_h) * rows
    # per-kind trailing fields: text keeps (font_size, font); media w/h
    # and rule endpoints scale with the section blow-up
    f3_scaled = F.when(
        s["kind"].isin("media", "annotation"),
        (p[3].cast("double") * cols).cast("string"),
    ).when(
        s["kind"] == "rule",
        ((p[3].cast("double") - col_i * cell_w) * cols).cast("string"),
    ).otherwise(p[3])
    f4_scaled = F.when(
        s["kind"].isin("media", "annotation"),
        (p[4].cast("double") * rows).cast("string"),
    ).when(
        s["kind"] == "rule",
        ((p[4].cast("double") - row_i * cell_h) * rows).cast("string"),
    ).otherwise(p[4])
    new_text = F.when(is_geo, wire_text(s["text"], [
        F.lit("1"), nx.cast("string"), ny.cast("string"), f3_scaled,
        f4_scaled])).otherwise(s["text"])
    page = F.when(is_geo, p[0].cast("long")).otherwise(F.lit(_FAR_PAGE))
    exploded = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).filter(s["kind"] != "pagemeta").select(
        F.concat("doc_id", F.lit("#p"), page,
                 F.lit("r"), F.when(is_geo, row_i).otherwise(F.lit(0)),
                 F.lit("c"), F.when(is_geo, col_i).otherwise(F.lit(0)))
        .alias("doc_id"),
        s.withField("text", new_text).alias("s"),
    )
    return _regroup(exploded)


def add_page_stamps(docs: DataFrame, stamp: str, x: float = 280.0,
                    y: float = 760.0, font_size: float = 9.0,
                    number_pages: bool = False) -> DataFrame:
    """S9 stamps / page numbers (StampController, PageNumbersController):
    append one synthetic text span per page at a fixed position. With
    ``number_pages`` the page number is appended to the stamp text.
    Offsets are re-packed so the result is a valid docs table."""
    s = F.col("s")
    pages = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", F.when(_is_page_kind(s), wire_page(s["text"]))
                .alias("page"))
        .filter(F.col("page").isNotNull())
        .distinct()
    )
    text = F.concat(F.lit(stamp), F.when(
        F.lit(number_pages),
        F.concat(F.lit(" "), F.col("page").cast("string"))
    ).otherwise(F.lit("")))
    stamp_spans = pages.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(
                    F.col("page").cast("string"),
                    F.lit(f"|{x!r}|{y!r}|{font_size!r}|Helvetica\t"),
                    text,
                ).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("stamps")
    )
    return docs.join(stamp_spans, "doc_id", "left").select(
        "doc_id",
        _repack(F.expr("concat(spans, coalesce(stamps, array()))"))
        .alias("spans"),
    )


def set_outline(docs: DataFrame,
                tree: list[tuple[str, int, list]]) -> DataFrame:
    """TOC write-back (EditTableOfContentsController.java:161-227): the
    document outline is REPLACED by the provided tree — existing
    bookmark spans drop, the new ones append in pre-order walk order
    (addBookmarksToOutline/addChildBookmarks recursion), each target
    page clamped into [1, n_pages] exactly like createOutlineItem's
    pageIndex clamp (:215-221). ``tree`` items are
    (title, page_number, children). Pure nested-array column math —
    n_pages comes from array_max over the span list, no explode."""
    flat: list[tuple[int, int, str]] = []

    def walk(items: list, depth: int) -> None:
        for title, page, children in items:
            flat.append((depth, int(page), title))
            walk(children or [], depth + 1)

    walk(tree, 0)
    np_col = F.greatest(
        F.coalesce(
            F.array_max(F.transform(
                F.filter("spans", _is_page_kind),
                lambda s: wire_page(s["text"]))),
            F.lit(0).cast("long")),
        F.lit(1).cast("long"),
    )

    # the n_pages value is bound ONCE per row as a lambda variable:
    # every tree node references it, and Catalyst does not CSE
    # subexpressions across array-literal elements — inlined, a 4-node
    # tree scanned the span array 4x per row (measured ~2x wall on the
    # ×32 repeat corpus)
    def _bookmarks(np: Column) -> Column:
        return F.array(*[
            F.struct(
                F.lit("bookmark").alias("kind"),
                F.concat(
                    F.lit(f"{d}|"),
                    F.least(F.greatest(F.lit(p).cast("long"),
                                       F.lit(1).cast("long")), np)
                    .cast("string"),
                    F.lit(f"|{t}"),
                ).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
            for d, p, t in flat
        ])

    new_spans = F.flatten(
        F.transform(F.array(np_col), _bookmarks)
    ) if flat else F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    kept = F.filter("spans", lambda s: s["kind"] != "bookmark")
    return docs.select(
        "doc_id", _repack(F.concat(kept, new_spans)).alias("spans"))


# Standard-14 font metrics used by the page-number placer (public AFM
# ascent/descent, per mille of font size — the values PDFBox's
# FontDescriptor reports for the three fonts the reference offers,
# PageNumbersController.java:124-133)
_STD14_METRICS = {
    "helvetica": ("Helvetica", 718, -207),
    "courier": ("Courier", 629, -157),
    "times": ("Times-Roman", 683, -217),
}


def page_number_stamps(docs: DataFrame, position: int = 8,
                       starting_number: int = 1,
                       pages_to_number: str = "all",
                       custom_text: str = "{n}", zero_pad: int = 0,
                       custom_margin: str = "medium",
                       font_size: float = 12.0,
                       font_type: str = "helvetica",
                       page_width: float = 612.0,
                       page_height: float = 792.0) -> DataFrame:
    """S9 page numbers, full surface (PageNumbersController.java:59-185):

      * ``pages_to_number`` is the F7 page-select DSL (parsePageList),
        default "all"; the running number starts at ``starting_number``
        and increments per SELECTED page in selection order;
      * ``custom_text`` templates ``{n}`` (zero-padded to ``zero_pad``
        when > 0), ``{total}`` and ``{filename}`` (the doc identity —
        the reference uses the upload's extension-stripped filename);
      * ``position`` 1-9 grid, clamped (:105): col = (pos-1)%3+1,
        row = (pos-1)/3+1; margins small/medium/large/x-large =
        2/3.5/5/7.5% of the page dimension (:86-93);
      * x: left anchor / centered / right-aligned via text width
        (:150-156 — the reference measures AFM glyph widths; this
        engine's uniform width model, kernel.model.CHAR_WIDTH_FACTOR,
        applies); y rows: top = topY - ascent, middle = optical middle
        via (ascent+descent)/2, bottom = baseline at botY (:158-167),
        then flipped into the engine's screen space (y down):
        y_screen = page_height - y_pdf.

    Returns the stamp table (doc_id, page, number, text, x, y) —
    ``add_page_numbers`` appends these as text spans. The DSL is
    evaluated driver-side once per DISTINCT page count and broadcast
    (the _rearrange_by_slots pattern): bounded by max doc length, not
    corpus size."""
    from ..functions.page_select import parse_page_selection
    from ..kernel.model import CHAR_WIDTH_FACTOR

    s = F.col("s")
    totals = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .groupBy("doc_id")
        .agg(F.max(F.when(_is_page_kind(s), wire_page(s["text"])))
             .alias("total"))
        .filter(F.col("total").isNotNull())
    )
    distinct_totals = sorted(
        int(r["total"]) for r in totals.select("total").distinct().collect())
    rows = [
        (t, p, idx)
        for t in distinct_totals
        for idx, p in enumerate(parse_page_selection(pages_to_number, t))
    ]
    spark = docs.sparkSession
    schema = "total long, page long, idx long"
    slot_df = (spark.createDataFrame(rows, schema) if rows
               else spark.createDataFrame([], schema))
    sel = totals.join(F.broadcast(slot_df), "total")

    number = (F.lit(int(starting_number)) + F.col("idx")).cast("long")
    # Java's %0Nd never truncates a number wider than the pad; Spark's
    # lpad DOES — guard so e.g. page 1234 with zeroPad=3 stays "1234"
    nstr = number.cast("string")
    if zero_pad > 0:
        nstr = F.when(F.length(nstr) >= int(zero_pad), nstr).otherwise(
            F.lpad(nstr, int(zero_pad), "0"))
    text = F.replace(
        F.replace(
            F.replace(F.lit(custom_text or "{n}"), F.lit("{n}"), nstr),
            F.lit("{total}"), F.col("total").cast("string")),
        F.lit("{filename}"), F.col("doc_id"))

    margin = {"small": 0.02, "medium": 0.035, "large": 0.05,
              "x-large": 0.075}.get((custom_margin or "").lower(), 0.035)
    font, asc_pm, desc_pm = _STD14_METRICS.get(
        (font_type or "").lower(), _STD14_METRICS["helvetica"])
    ascent = asc_pm / 1000.0 * font_size
    descent = desc_pm / 1000.0 * font_size
    pos = max(1, min(9, int(position)))
    col = (pos - 1) % 3 + 1
    row = (pos - 1) // 3 + 1

    tw = F.length(text) * (CHAR_WIDTH_FACTOR * font_size)
    left_x = margin * page_width
    right_x = page_width - margin * page_width
    x = (F.lit(left_x) if col == 1
         else F.lit(page_width / 2.0) - tw / 2 if col == 2
         else F.lit(right_x) - tw)
    bot_y = margin * page_height
    top_y = page_height - margin * page_height
    y_pdf = (top_y - ascent if row == 1
             else page_height / 2.0 - (ascent + descent) / 2.0 if row == 2
             else bot_y)
    return sel.select(
        "doc_id", F.col("page"), number.alias("number"),
        text.alias("text"), x.cast("double").alias("x"),
        F.lit(float(page_height - y_pdf)).alias("y"),
        F.lit(font).alias("font"),
    )


def add_page_numbers(docs: DataFrame, **kwargs) -> DataFrame:
    """S9: append the page_number_stamps output as regular text spans
    (wire '{page}|{x}|{y}|{fs}|{font}\\t{text}'), offsets re-packed —
    the composed form of PageNumbersController's content-stream append."""
    font_size = float(kwargs.get("font_size", 12.0))
    stamps = page_number_stamps(docs, **kwargs)
    stamp_spans = stamps.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(
                    F.col("page").cast("string"), F.lit("|"),
                    F.col("x").cast("string"), F.lit("|"),
                    F.col("y").cast("string"), F.lit("|"),
                    F.lit(repr(font_size)), F.lit("|"),
                    F.col("font"), F.lit("\t"), F.col("text"),
                ).alias("text"),
                F.lit("").alias("media_ref"),
                F.col("number").cast("int").alias("offset"),
            )
        ).alias("stamps")
    )
    return docs.join(stamp_spans, "doc_id", "left").select(
        "doc_id",
        _repack(F.expr("concat(spans, coalesce(stamps, array()))"))
        .alias("spans"),
    )


def scale_pages(docs: DataFrame, factor: float) -> DataFrame:
    """S7 scale (ScalePagesController): multiply all span geometry —
    x, y and font size for text (so line widths scale with it), the
    full bbox for media. Pure column math over the nested array."""
    fct = F.lit(float(factor))

    def scaled(txt: Column, kind: Column) -> Column:
        p = wire_fields(txt)
        nx = (p[1].cast("double") * fct).cast("string")
        ny = (p[2].cast("double") * fct).cast("string")
        # font size (text), width / x2 (media, rule); pagemeta: the page
        # box scales, rotation/label don't
        f3 = F.when(kind == "pagemeta", p[3]).otherwise(
            (p[3].cast("double") * fct).cast("string"))
        f4 = F.when(kind.isin("text", "pagemeta"), p[4]).otherwise(
            (p[4].cast("double") * fct).cast("string"))  # height / y2
        return wire_text(txt, [p[0], nx, ny, f3, f4])

    return docs.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: s.withField(
                "text",
                F.when(_is_page_kind(s), scaled(s["text"], s["kind"]))
                .otherwise(s["text"])),
        ).alias("spans"),
    )


def _visible_text(s: Column) -> Column:
    """A text run whose content is not whitespace-only (the kernel's
    ``isspace`` rule over ASCII whitespace, kernel/lines.py)."""
    return (s["kind"] == "text") & (
        F.btrim(wire_body(s["text"]), F.lit(" \t\n\r\x0b\x0c")) != "")


def blank_pages(docs: DataFrame) -> DataFrame:
    """E19 text-length blank-page detection (BlankPageController.java:
    56-104, the non-raster path): a page is blank when it has no
    visible text (whitespace-only glyph runs don't count, matching
    AllTextLineExtractor.java:74-80). Output: (doc_id, page,
    n_visible_lines, n_media, is_blank). Pages carrying only rules or
    pagemeta state still enumerate (as blank)."""
    s = F.col("s")
    visible = _visible_text(s)
    return (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(_is_page_kind(s))
        .groupBy("doc_id", wire_page(s["text"]).alias("page"))
        .agg(
            F.sum(F.when(visible, 1).otherwise(0)).cast("long")
            .alias("n_visible_lines"),
            F.sum(F.when(s["kind"] == "media", 1).otherwise(0)).cast("long")
            .alias("n_media"),
        )
        .withColumn("is_blank", (F.col("n_visible_lines") == 0).cast("int"))
    )


def _repaged(s: Column, new_page: Column) -> Column:
    """The span ``s`` renumbered to ``new_page``; a null page (a
    non-page span) leaves it as it is."""
    return s.withField("text", F.when(
        _is_page_kind(s) & new_page.isNotNull(),
        wire_repage(s["text"], new_page)).otherwise(s["text"])).alias("s")


REARRANGE_MODES = ("REVERSE", "DUPLEX_SORT", "BOOKLET_SORT",
                   "SIDE_STITCH_BOOKLET_SORT", "ODD_EVEN_SPLIT",
                   "REMOVE_FIRST", "REMOVE_LAST",
                   "REMOVE_FIRST_AND_LAST", "DUPLICATE")


def rearrange_pages(docs: DataFrame, mode: str,
                    duplicate_count: int = 2) -> DataFrame:
    """S6 page rearrangement (RearrangePagesPDFController.java:212-220
    mode set) as a deterministic page-number permutation computed in
    closed form per document (n = max page):

      REVERSE         p -> n - p + 1
      DUPLEX_SORT     fronts 1..h interleave with reversed backs:
                      front p -> 2p-1; back p -> 2(n-p+1)
      BOOKLET_SORT    signature order [1,n,2,n-1,3,n-2,...]
                      (bookletSort :141-148 pairs (i, n-1-i) for
                      i < n/2): front p <= n/2 -> 2p-1; back
                      q=n-p+1 <= n/2 -> 2q; for ODD n the middle
                      page is in neither half and DROPS (the Java
                      loop never adds it)
      ODD_EVEN_SPLIT  odd pages first, then evens
      REMOVE_*        drop page(s), renumber densely
      DUPLICATE       every page ``duplicate_count`` times (the
                      controller's pageOrder-carried count, default 2,
                      :169-207): p -> c(p-1)+1 .. cp
      SIDE_STITCH_    groups of 4, slot order [4,1,2,3] per group,
      BOOKLET_SORT    sources past the end clamped to the LAST page
                      (RearrangePagesPDFController.java:152-163
                      sideStitchBooklet with Math.min), so the last
                      page repeats when n % 4 != 0 — a one-to-many
                      page map like DUPLICATE

    Non-page spans (meta/html/bookmark/attachment) pass through. The
    whole transform is column math over the nested array — no UDF."""
    if mode not in REARRANGE_MODES:
        raise ValueError(f"unknown mode {mode!r}; one of {REARRANGE_MODES}")
    s = F.col("s")
    is_geo = _is_page_kind(s)
    p = wire_page(s["text"])
    n = F.col("n")
    h = F.ceil(n / 2).cast("long")

    if mode == "REVERSE":
        new_p = n - p + 1
    elif mode == "DUPLEX_SORT":
        new_p = F.when(p <= h, 2 * p - 1).otherwise(2 * (n - p + 1))
    elif mode == "BOOKLET_SORT":
        half = F.floor(n / 2).cast("long")
        q = n - p + 1
        new_p = F.when(p <= half, 2 * p - 1) \
            .when(q <= half, 2 * q) \
            .otherwise(F.lit(None))  # odd-n middle page drops
    elif mode == "ODD_EVEN_SPLIT":
        n_odd = F.ceil(n / 2).cast("long")
        new_p = F.when(p % 2 == 1, (p + 1) / F.lit(2.0)).otherwise(
            n_odd + p / F.lit(2.0)
        ).cast("long")
    elif mode == "REMOVE_FIRST":
        new_p = F.when(p == 1, F.lit(None)).otherwise(p - 1)
    elif mode == "REMOVE_LAST":
        new_p = F.when(p == n, F.lit(None)).otherwise(p)
    elif mode == "REMOVE_FIRST_AND_LAST":
        new_p = F.when((p == 1) | (p == n), F.lit(None)).otherwise(p - 1)
    else:  # DUPLICATE — handled below via explode of two positions
        new_p = p

    exploded = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .withColumn("n", F.max(F.when(is_geo, p)).over(
            Window.partitionBy("doc_id")))
    )
    if mode in ("DUPLICATE", "SIDE_STITCH_BOOKLET_SORT"):
        if mode == "DUPLICATE":
            # reference count handling (:173-195): unparsable or < 1
            # defaults to 2; counts above max(100, 3 * totalPages) are
            # rejected. Totals vary per doc here, so the bound uses the
            # LOOSEST document (largest n) — one bounded agg, and only
            # when c could possibly exceed it.
            try:
                c = int(duplicate_count)
            except (TypeError, ValueError):
                c = 2
            if c < 1:
                c = 2
            if c > 100:
                max_n = (docs.select(F.explode("spans").alias("s"))
                         .select(F.max(F.when(is_geo, p)))
                         .collect()[0][0]) or 0
                if c > max(100, 3 * int(max_n)):
                    raise ValueError(
                        "duplicateCount must not exceed "
                        f"{max(100, 3 * int(max_n))}")
            page_slots = F.sequence(c * (p - 1) + 1, c * p)
        else:
            # slot occupied by source page s: within its group of 4 the
            # emit order is [begin+4, begin+1, begin+2, begin+3]
            def slot_of(src):
                g = F.floor((src - 1) / 4).cast("long")
                r = (src - 1) % 4
                return F.when(r == 3, 4 * g + 1).otherwise(4 * g + r + 2)

            last_begin = 4 * (F.ceil(n / F.lit(4.0)).cast("long") - 1)
            # sources the reference clamps to the last page (> n) all
            # resolve to page n; only the final group can clamp
            clamped = F.filter(
                F.sequence(last_begin + 1, last_begin + 4),
                lambda src: src > n,
            )
            extra = F.when(p == n, F.transform(clamped, slot_of)) \
                .otherwise(F.array().cast("array<long>"))
            page_slots = F.concat(F.array(slot_of(p)), extra)
        positions = F.when(is_geo, page_slots) \
            .otherwise(F.array(F.lit(-1).cast("long")))
        mapped = exploded.select(
            "doc_id", "s",
            F.explode(positions).alias("np"),
        ).withColumn("np", F.when(F.col("np") == -1, F.lit(None)).otherwise(
            F.col("np")))
        keep = mapped
    else:
        keep = exploded.select(
            "doc_id", "s", F.when(is_geo, new_p).otherwise(F.lit(None))
            .cast("long").alias("np"),
        )
        if mode.startswith("REMOVE") or mode == "BOOKLET_SORT":
            keep = keep.filter(~is_geo | F.col("np").isNotNull())

    return _regroup(keep.select("doc_id", _repaged(s, F.col("np"))))


def _rewrite_geo(docs: DataFrame, fields: list[Column]) -> DataFrame:
    """Exploded (doc_id, s) rows with pagemeta dropped and every
    GEO_KINDS span's header replaced by ``fields``."""
    s = F.col("s")
    new_text = F.when(s["kind"].isin(*GEO_KINDS),
                      wire_text(s["text"], fields)).otherwise(s["text"])
    return (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(s["kind"] != "pagemeta")
        .select("doc_id", s.withField("text", new_text).alias("s"))
    )


def poster_pages(docs: DataFrame, x_factor: int = 2, y_factor: int = 2,
                 page_w: float = 612.0, page_h: float = 792.0,
                 target_w: float = 612.0, target_h: float = 792.0,
                 right_to_left: bool = False) -> DataFrame:
    """S7 poster split (PosterPdfController.java:102-214): each page
    tiles into an x_factor x y_factor grid of OUTPUT PAGES of one
    document (row 0 = TOP, :163-166; columns left-to-right, or
    right-to-left with the flag, :158), each cell scaled UNIFORMLY by
    min(target_w/cell_w, target_h/cell_h) and centered on the target
    page (:180-190). The inverse of n_up. Output page number =
    (src-1)*x*y + row*x + col' + 1; spans are assigned by their anchor
    (same anchor semantics as split_by_sections); text font size scales
    with the uniform factor; media extents scale per the same factor
    both axes; rules transform endpoint-wise; pagemeta drops (tiles are
    fresh target-size pages). Pure column math — no UDF, no driver
    state."""
    k = x_factor * y_factor
    cell_w, cell_h = page_w / x_factor, page_h / y_factor
    scale = min(target_w / cell_w, target_h / cell_h)
    off_x = (target_w - cell_w * scale) / 2.0
    off_y = (target_h - cell_h * scale) / 2.0
    s = F.col("s")
    p = wire_fields(s["text"])
    pg = p[0].cast("long")
    x, y = p[1].cast("double"), p[2].cast("double")
    col_i = F.least(F.floor(x / cell_w).cast("int"), F.lit(x_factor - 1))
    row_i = F.least(F.floor(y / cell_h).cast("int"), F.lit(y_factor - 1))
    out_col = (F.lit(x_factor - 1) - col_i) if right_to_left else col_i
    new_pg = (pg - 1) * k + row_i * x_factor + out_col + 1
    nx = (x - col_i * cell_w) * scale + off_x
    ny = (y - row_i * cell_h) * scale + off_y
    f3 = (
        F.when(s["kind"].isin("text"),
               (p[3].cast("double") * scale).cast("string"))   # font size
        .when(s["kind"].isin("media", "annotation"),
              (p[3].cast("double") * scale).cast("string"))    # width
        .otherwise(((p[3].cast("double") - col_i * cell_w) * scale + off_x)
                   .cast("string"))                            # rule x2
    )
    f4 = (
        F.when(s["kind"] == "text", p[4])                      # font name
        .when(s["kind"].isin("media", "annotation"),
              (p[4].cast("double") * scale).cast("string"))    # height
        .otherwise(((p[4].cast("double") - row_i * cell_h) * scale + off_y)
                   .cast("string"))                            # rule y2
    )
    head = [new_pg.cast("string"), nx.cast("string"), ny.cast("string"),
            f3, f4]
    return _regroup(_rewrite_geo(docs, head))


def rearrange_pages_custom(docs: DataFrame, page_order: str) -> DataFrame:
    """S6 custom mode (RearrangePagesPDFController.java:304-306 routes
    non-mode sorts through GeneralUtils.parsePageList — the SAME parser
    as the F7 page-select DSL): the selection spec evaluated against
    each document's page count gives the new page order. parsePageList
    collects into a LinkedHashSet, so the order is deduped
    first-occurrence; unselected pages drop (with their pagemeta);
    non-page spans pass through; selected docs renumber densely by
    slot.

    Scale shape: the DSL parses driver-side ONCE PER DISTINCT PAGE
    COUNT (the same literal-embedding rationale as F7 — evaluating the
    n-expression grammar per row would be pointless work), then the
    (n, page) -> slot table broadcasts into the span join. The
    distinct-count aggregate is bounded by the longest document's page
    count, not the corpus size."""
    from ..functions.page_select import parse_page_selection

    return _rearrange_by_slots(
        docs, lambda n: parse_page_selection(page_order, n))


def remove_pages(docs: DataFrame, pages_spec: str) -> DataFrame:
    """S6 /remove-pages (RearrangePagesPDFController.deletePages:62-90):
    the page-list DSL selects pages to DELETE; survivors keep their
    original order and renumber densely (document.removePage from the
    end). Same distinct-page-count driver parse + broadcast slot table
    as the custom rearrange."""
    from ..functions.page_select import parse_page_selection

    def survivors(n: int) -> list[int]:
        removed = set(parse_page_selection(pages_spec, n))
        return [pg for pg in range(1, n + 1) if pg not in removed]

    return _rearrange_by_slots(docs, survivors)


def _rearrange_by_slots(docs: DataFrame, slots_for_n) -> DataFrame:
    """Shared machinery: ``slots_for_n(n)`` returns the source pages in
    output-slot order for a document with ``n`` pages; evaluated
    driver-side once per DISTINCT page count, broadcast as an
    (n, page) -> slot table, joined into the span stream."""
    s = F.col("s")
    is_geo = _is_page_kind(s)
    p = wire_page(s["text"])

    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    n_pages = exploded.groupBy("doc_id").agg(
        F.max(F.when(is_geo, p)).alias("n")
    ).fillna(0, ["n"])
    distinct_ns = sorted(
        int(r["n"]) for r in n_pages.select("n").distinct().collect())
    rows = [
        (n, pg, slot)
        for n in distinct_ns if n > 0
        for slot, pg in enumerate(slots_for_n(n), 1)
    ]
    spark = docs.sparkSession
    schema = "mn long, mp long, np long"
    slot_df = (spark.createDataFrame(rows, schema) if rows
               else spark.createDataFrame([], schema))

    tagged = exploded.join(n_pages, "doc_id")
    geo = tagged.filter(is_geo).join(
        F.broadcast(slot_df),
        (F.col("n") == F.col("mn")) & (p == F.col("mp")),
    ).select("doc_id", "s", F.col("np"))
    passthrough = tagged.filter(~is_geo).select(
        "doc_id", "s", F.lit(None).cast("long").alias("np"))

    out = geo.unionByName(passthrough)
    return _regroup(out.select("doc_id", _repaged(s, F.col("np"))))


def crop_pages(docs: DataFrame, x1: float, y1: float,
               x2: float, y2: float) -> DataFrame:
    """S7 crop (CropController): keep spans whose ANCHOR lies inside the
    crop box and re-base coordinates to the box origin. Media/rule
    extents shift with the anchor (clipping partially-inside boxes is a
    renderer concern, anchor semantics match split_by_sections).
    Non-page spans pass through; pagemeta boxes become the crop box."""
    s = F.col("s")
    p = wire_fields(s["text"])
    ax, ay = p[1].cast("double"), p[2].cast("double")
    geo = s["kind"].isin(*GEO_KINDS)
    inside = (ax >= x1) & (ax < x2) & (ay >= y1) & (ay < y2)
    f3 = F.when(s["kind"] == "rule",
                (p[3].cast("double") - x1).cast("string")).otherwise(p[3])
    f4 = F.when(s["kind"] == "rule",
                (p[4].cast("double") - y1).cast("string")).otherwise(p[4])
    new_text = (
        F.when(s["kind"] == "pagemeta", wire_text(s["text"], [
            p[0], F.lit(repr(float(x2 - x1))), F.lit(repr(float(y2 - y1))),
            p[3], p[4]]))
        .when(geo, wire_text(s["text"], [
            p[0], (ax - x1).cast("string"), (ay - y1).cast("string"),
            f3, f4]))
        .otherwise(s["text"])
    )
    exploded = docs.select("doc_id", F.explode("spans").alias("s")).filter(
        ~geo | inside
    ).select("doc_id", s.withField("text", new_text).alias("s"))
    return _regroup(exploded)


def to_single_page(docs: DataFrame, page_height: float = 792.0) -> DataFrame:
    """S7 to-single-page (ToSinglePageController): concatenate all pages
    vertically onto page 1 — y += (page-1) * page_height, page := 1.
    Reading order is preserved exactly (the y offsets keep the global
    page-major order), so extraction output text equals the multi-page
    document's. Pagemeta is dropped (the merged page box is synthetic).
    """
    h = F.lit(float(page_height))

    def shifted(kind: Column, txt: Column) -> Column:
        p = wire_fields(txt)
        off = (p[0].cast("long") - 1).cast("double") * h
        ny = (p[2].cast("double") + off).cast("string")
        f4 = F.when(kind == "rule",
                    (p[4].cast("double") + off).cast("string")).otherwise(p[4])
        return wire_text(txt, [F.lit("1"), p[1], ny, p[3], f4])

    return docs.select(
        "doc_id",
        F.filter(
            F.transform(
                "spans",
                lambda sp: sp.withField(
                    "text",
                    F.when(sp["kind"].isin(*GEO_KINDS),
                           shifted(sp["kind"], sp["text"]))
                    .otherwise(sp["text"])),
            ),
            lambda sp: sp["kind"] != "pagemeta",
        ).alias("spans"),
    )


def n_up(docs: DataFrame, cols: int = 2, rows: int = 1,
         page_w: float = 612.0, page_h: float = 792.0) -> DataFrame:
    """S7 N-up imposition (MultiPageLayoutController): k = cols*rows
    source pages per output sheet, each scaled into its cell in
    row-major order. Text font size scales with the horizontal factor
    (widths track it in the monospace model); media boxes and rule
    extents scale per axis. Pagemeta is dropped (sheet boxes are
    synthetic)."""
    k = cols * rows
    cell_w, cell_h = page_w / cols, page_h / rows
    s = F.col("s")
    p = wire_fields(s["text"])
    pg = p[0].cast("long")
    sheet = F.floor((pg - 1) / k) + 1
    idx = (pg - 1) % k
    c, r = idx % cols, F.floor(idx / cols)
    nx = (p[1].cast("double") / cols + c * cell_w).cast("string")
    ny = (p[2].cast("double") / rows + r * cell_h).cast("string")
    f3 = (
        F.when(s["kind"] == "text",
               (p[3].cast("double") / cols).cast("string"))     # font size
        .when(s["kind"].isin("media", "annotation"),
              (p[3].cast("double") / cols).cast("string"))      # width
        .otherwise((p[3].cast("double") / cols + c * cell_w)
                   .cast("string"))                              # rule x2
    )
    f4 = (
        F.when(s["kind"] == "text", p[4])                        # font name
        .when(s["kind"].isin("media", "annotation"),
              (p[4].cast("double") / rows).cast("string"))       # height
        .otherwise((p[4].cast("double") / rows + r * cell_h)
                   .cast("string"))                              # rule y2
    )
    return _regroup(
        _rewrite_geo(docs, [sheet.cast("string"), nx, ny, f3, f4]))


def booklet_impose(docs: DataFrame) -> DataFrame:
    """S7 booklet imposition (BookletImpositionController): the booklet
    signature page order (S6 BOOKLET_SORT) composed with 2-up side-by-
    side placement — print, fold, staple."""
    return n_up(rearrange_pages(docs, "BOOKLET_SORT"), cols=2, rows=1)


def auto_split_at_markers(docs: DataFrame,
                          divider_refs: list[str]) -> DataFrame:
    """E20 auto-split shape (AutoSplitPdfController.java:320-352): a
    page carrying a divider marker (here: a media span whose media_ref
    is in ``divider_refs`` — the QR decode stands in for the raster
    path this sandbox can't run) starts a new output document; divider
    pages themselves are dropped. Reference edge semantics kept: page 1
    ALWAYS lands in the first output document, divider or not — the
    controller's ``page == 0`` branch (:340-345) adds it before any
    split document exists, and only dividers at page > 1 trigger the
    new-document branch (:335-337). Empty parts never materialize
    (:353 removeIf). Output doc ids get a '#q{part}' suffix with the
    raw part index (renaming to dense _1.._n is presentation, not
    data). Non-page spans stick to the last part, as in
    split_at_pages."""
    s = F.col("s")
    page = span_page(s)
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    div_arr = (
        exploded.filter((s["kind"] == "media")
                        & s["media_ref"].isin(list(divider_refs)))
        .select("doc_id", page.alias("dp"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("dp")).alias("dps"))
    )
    tagged = exploded.join(div_arr, "doc_id", "left").withColumn(
        "dps", F.coalesce("dps", F.array().cast("array<long>"))
    )
    p = span_page(s)
    is_div_page = F.array_contains("dps", p)
    # dividers at pages 2..p each started a new doc; a page-1 divider
    # does NOT (it stays as content of part 0, the `page == 0` branch)
    n_div = F.size(F.filter("dps", lambda d: (d <= p) & (d >= 2)))
    kept = ~is_div_page | (p == 1)
    part = n_div
    out = tagged.filter(kept).select(
        F.concat("doc_id", F.lit("#q"), part.cast("string")).alias("doc_id"),
        "s",
    )
    return _regroup(out)


def split_by_chapters(docs: DataFrame, max_level: int = 0) -> DataFrame:
    """S4 split-by-chapters driven by BOOKMARK spans
    (SplitPdfByChaptersController.java:62-90): bookmarks with depth <=
    max_level become chapter starts; a chapter ends where the next one
    starts (lead window), the last chapter at the document's last page.

    Bookmark wire: 'depth|page|title' (3 fields; E23's page-less
    'depth|title' spans are skipped — they carry no split point).
    Two chapter-start bookmarks on the same page collapse to ONE
    chapter (deterministically: the lexicographically-least title), so
    ranges never invert; end_page is additionally clamped to
    >= start_page. Output: (doc_id, chapter_no, title, start_page,
    end_page). Feed the ranges to ``split_at_pages`` to materialize
    the chapter docs."""
    s = F.col("s")
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    n_pages = (
        exploded.filter(_is_page_kind(s))
        .groupBy("doc_id")
        .agg(F.max(span_page(s)).alias("np"))
    )
    parts = F.split(s["text"], r"\|", 3)
    bm = (
        exploded.filter(s["kind"] == "bookmark")
        .filter(F.size(parts) >= 3)
        .filter(F.element_at(parts, 1).cast("int") <= max_level)
        .select(
            "doc_id",
            F.element_at(parts, 2).cast("long").alias("start_page"),
            F.element_at(parts, 3).alias("title"),
        )
        .groupBy("doc_id", "start_page")
        .agg(F.min("title").alias("title"))
    )
    w = Window.partitionBy("doc_id").orderBy("start_page")
    return (
        bm.withColumn("chapter_no", F.row_number().over(w).cast("long"))
        .withColumn("next_start", F.lead("start_page").over(w))
        .join(n_pages, "doc_id")
        .select(
            "doc_id", "chapter_no", "title", "start_page",
            F.greatest(
                F.coalesce(F.col("next_start") - 1, F.col("np")),
                F.col("start_page"),
            ).alias("end_page"),
        )
    )


def has_text(docs_out: DataFrame, phrase: str) -> DataFrame:
    """E10/F1 predicate over EXTRACTED spans: keep docs where any text
    span contains the phrase (PdfUtils.hasText semantics)."""
    return docs_out.filter(
        F.exists(
            "spans",
            lambda s: (s["kind"] == "text") & s["text"].contains(phrase),
        )
    )


def has_media(docs_out: DataFrame) -> DataFrame:
    """E10/F2: any media span present (PdfUtils.hasImagesOnPage)."""
    return docs_out.filter(
        F.exists("spans", lambda s: s["kind"] == "media")
    )


def remove_images(docs: DataFrame) -> DataFrame:
    """S10 remove images (RemoveImagesController): drop every media
    span from the raw wire and re-pack offsets densely; text, rules,
    annotations, attachments and metadata pass through untouched. Pure
    nested-array column math, no shuffle."""
    kept = F.filter("spans", lambda s: s["kind"] != "media")
    return docs.select("doc_id", _repack(kept).alias("spans"))


def set_metadata(docs: DataFrame, updates: dict[str, str | None],
                 delete_all: bool = False) -> DataFrame:
    """S11 metadata update (MetadataController.java:80-190): set or
    replace Info-dict keys, delete a key with value None, or wipe all
    existing metadata first with ``delete_all`` (the deleteAll flag,
    :113-117) before applying ``updates``. Meta spans ride the wire as
    kind='meta' "key|value"; offsets re-pack densely. Pure column math
    over the nested array — no shuffle."""
    keys = list(updates)
    set_items = [(k, v) for k, v in updates.items() if v is not None]
    if delete_all:
        kept = F.filter("spans", lambda s: s["kind"] != "meta")
    else:
        kept = F.filter(
            "spans",
            lambda s: (s["kind"] != "meta")
            | ~F.coalesce(
                F.array_contains(
                    F.array(*[F.lit(k) for k in keys]),
                    F.split_part(s["text"], F.lit("|"), F.lit(1)),
                ),
                F.lit(False),
            ),
        ) if keys else F.col("spans")
    new_spans = F.array(*[
        F.struct(
            F.lit("meta").alias("kind"),
            F.lit(f"{k}|{v}").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
        for k, v in set_items
    ]) if set_items else F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    return docs.select(
        "doc_id", _repack(F.concat(kept, new_spans)).alias("spans"))


def split_into_n_docs(docs: DataFrame, document_count: int) -> DataFrame:
    """S3 split-by-DOC-count (SplitPdfBySizeController.java:287-310,
    splitType=2): ``total // n`` pages per part, the first
    ``total % n`` parts one page bigger; empty parts are skipped and
    file indices stay consecutive (the controller's ``continue``
    without incrementing only happens for trailing empty parts, so the
    closed-form part index below is already dense). Pure column
    arithmetic — the page->part map needs only the per-doc total:

        p0 < extra*(per+1) : part = p0 // (per+1)
        else               : part = extra + (p0-extra*(per+1)) // per

    Non-page spans stick to the LAST part (read-after-pages contract,
    like split_at_pages); output ids get '#d{k}'; offsets re-packed."""
    if document_count <= 0:
        raise ValueError(f"document count: {document_count}")
    n = F.lit(document_count)
    s = F.col("s")
    page = span_page(s)
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    totals = (
        exploded.filter(_is_page_kind(s))
        .groupBy("doc_id")
        .agg(F.max(span_page(s)).cast("long").alias("np"))
    )
    tagged = exploded.join(totals, "doc_id", "left")
    per = (F.col("np") / n).cast("long")          # floor: np, n >= 0
    extra = F.col("np") % n
    p0 = page - 1
    head = extra * (per + 1)
    part_of_page = F.when(p0 < head, (p0 / (per + 1)).cast("long")) \
        .otherwise(extra + ((p0 - head) /
                            F.greatest(per, F.lit(1))).cast("long"))
    last_part = F.least(F.col("np"), n.cast("long")) - 1
    part = F.when(_is_page_kind(s), part_of_page) \
        .otherwise(F.coalesce(last_part, F.lit(0)))
    out = tagged.select(
        F.concat("doc_id", F.lit("#d"), part.cast("long").cast("string"))
        .alias("doc_id"),
        "s",
    )
    return _regroup(out)


def page_byte_sizes(docs: DataFrame) -> DataFrame:
    """Per-page content-byte weights: sum of text-run CONTENT bytes
    (after the wire header) per page — the size model split-by-size
    ranges are computed over. Every page with any page-kind span gets
    a row (textless pages weigh 0)."""
    s = F.col("s")
    return (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(_is_page_kind(s))
        .groupBy("doc_id", span_page(s).alias("page"))
        .agg(F.sum(
            F.when(s["kind"] == "text",
                   F.octet_length(wire_body(s["text"])))
            .otherwise(F.lit(0))
        ).cast("long").alias("b"))
    )


def split_by_byte_size(docs: DataFrame, max_bytes: int) -> DataFrame:
    """S3 split-by-SIZE (SplitPdfBySizeController.java:193-240,
    splitType=0): contiguous page ranges cut when the accumulated size
    exceeds ``max_bytes`` — but, exactly like the reference, size is
    only PROBED at check frequency: after the 5th/10th/15th page of a
    range, every page from the 20th on, and at the last page; on an
    over-budget probe the range backtracks by ONE page (not to the
    last fitting prefix), so emitted ranges can exceed the budget by
    whatever accumulated between probes. The reference's look-ahead
    (:250-269) only fast-forwards pages the loop would add anyway and
    never changes the emitted ranges, so it is not modeled. Size =
    page content bytes (page_byte_sizes); the reference probes
    serialized-PDF bytes, which this model replaces deterministically.

    The per-doc state machine runs as ONE JVM-side aggregate fold over
    the page-size array (no Python, no shuffle beyond the page-size
    groupBy); docs are independent, so the 100 TB shape is
    embarrassingly parallel with per-doc O(pages) work."""
    nm = F.size("ps")

    def step(acc, x):
        idx = acc["idx"]
        run = acc["run"] + x["b"]
        added = idx - acc["start"] + 1
        chk = ((added % 5 == 0) | (added >= 20)
               | (idx == nm.cast("long") - 1))
        over = run > F.lit(max_bytes)
        last_and_big = ((idx == nm.cast("long") - 1)
                        & (x["b"] > F.lit(max_bytes)))
        backtrack = chk & over & (added > 1)
        single = chk & over & (added == 1)
        new_ends = (
            F.when(backtrack & last_and_big,
                   F.concat(acc["ends"], F.array(idx - 1, idx)))
            .when(backtrack, F.concat(acc["ends"], F.array(idx - 1)))
            .when(single, F.concat(acc["ends"], F.array(idx)))
            .otherwise(acc["ends"])
        )
        new_start = (
            F.when(backtrack & last_and_big, idx + 1)
            .when(backtrack, idx)
            .when(single, idx + 1)
            .otherwise(acc["start"])
        )
        new_run = (
            F.when(backtrack & last_and_big, F.lit(0).cast("long"))
            .when(backtrack, x["b"])
            .when(single, F.lit(0).cast("long"))
            .otherwise(run)
        )
        return F.struct(
            new_ends.alias("ends"), new_start.cast("long").alias("start"),
            new_run.cast("long").alias("run"),
            (idx + 1).cast("long").alias("idx"),
        )

    init = F.struct(
        F.array().cast("array<long>").alias("ends"),
        F.lit(0).cast("long").alias("start"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("idx"),
    )
    sizes = (
        page_byte_sizes(docs)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("page", "b")))
             .alias("ps"))
        .withColumn("ends", F.aggregate("ps", init, step)["ends"])
    )
    page_part = sizes.select(
        "doc_id",
        F.explode(F.transform(
            "ps",
            lambda x, i: F.struct(
                x["page"].alias("page"),
                F.size(F.filter(
                    F.col("ends"), lambda e: e < i.cast("long")
                )).cast("long").alias("part"),
            ),
        )).alias("pp"),
    ).select("doc_id", F.col("pp.page").alias("page"),
             F.col("pp.part").alias("part"))
    n_parts = page_part.groupBy("doc_id").agg(
        (F.max("part") + 1).alias("n_parts"))
    s = F.col("s")
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    tagged = (
        exploded.withColumn("page", span_page(s))
        .join(page_part, ["doc_id", "page"], "left")
        .join(n_parts, "doc_id", "left")
    )
    part = F.coalesce(F.col("part"), F.col("n_parts") - 1, F.lit(0))
    out = tagged.select(
        F.concat("doc_id", F.lit("#b"), part.cast("long").cast("string"))
        .alias("doc_id"),
        "s",
    )
    return _regroup(out)


def flatten_forms(docs: DataFrame, x: float = 72.0, y0: float = 680.0,
                  slot_step: float = 14.0, font_size: float = 11.0,
                  font: str = "Helvetica") -> DataFrame:
    """S11-family form flattening (FlattenController.java:26-35,
    flattenOnlyForms=true -> acroForm.flatten()): AcroForm fields stop
    being interactive — their VALUES become static page content and
    the field dictionaries disappear. The span model carries no widget
    rects, so the widget model is a parameter: field i's widget sits
    on the document's LAST page at (x, y0 + slot_step*i) — defaults
    put the paint zone below the corpus body band (40 lines * 14pt
    from y=72 ends at 618) and the media band (650..770 starts at
    x=100; the zone is left of it and text never clusters with media).
    Fields with empty values (unfilled fields, signature placeholders)
    paint nothing, like an empty appearance stream. Full-page flatten
    (render-to-image) is raster/out of scope."""
    s = F.col("s")
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    last_page = (
        exploded.filter(_is_page_kind(s))
        .groupBy("doc_id")
        .agg(F.max(span_page(s)).cast("long").alias("lp"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("s.offset"))
    value = F.element_at(F.split(s["text"], r"\|", 3), 3)
    painted = (
        exploded.filter(s["kind"] == "formfield")
        .withColumn("i", F.row_number().over(w) - 1)
        .withColumn("value", value)
        .filter(F.col("value") != "")
        .join(last_page, "doc_id", "left")
        .select(
            "doc_id",
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(
                    F.coalesce(F.col("lp"), F.lit(1)).cast("string"),
                    F.lit(f"|{x!r}|"),
                    (F.lit(y0) + F.col("i") * slot_step).cast("string"),
                    F.lit(f"|{font_size!r}|{font}\t"),
                    F.col("value"),
                ).alias("text"),
                F.lit("").alias("media_ref"),
                (F.lit(1_000_000) + F.col("i")).cast("long")
                .alias("offset"),
            ).alias("s"),
        )
    )
    kept = exploded.filter(s["kind"] != "formfield").select(
        "doc_id", _widen_offset(s).alias("s"))
    return _regroup(kept.unionByName(painted))


def add_watermark(docs: DataFrame, text: str, rotation: float = 0.0,
                  opacity: float = 0.5, width_spacer: int = 50,
                  height_spacer: int = 50, font_size: float = 30.0,
                  font: str = "NotoSans", page_w: float = 612.0,
                  page_h: float = 792.0) -> DataFrame:
    """S9-family text watermark (WatermarkController.java
    addTextWatermark): the text tiles EVERY page on a grid whose pitch
    is the rotated bounding box of (width_spacer + text width,
    height_spacer + font_size * n_lines) — rows/cols =
    min(int(page/pitch + 1), 10000), loops INCLUSIVE on both ends, so
    at least a 2x2 grid is always painted and tiles may run past the
    page edge (the reference draws unclipped; extraction reads them).
    Width model: len * CHAR_WIDTH_FACTOR * font_size in place of the
    reference's font.getStringWidth/1000. Opacity and color are
    render-only properties with no extraction-visible effect, accepted
    and ignored; glyph rotation likewise cannot ride the text wire, so
    ``rotation`` contributes exactly what span equality can see — the
    rotated-bbox grid pitch. Multi-line text stacks lines fs apart
    (newLineAtOffset(0, -fontSize)). Screen y = page_h - pdf_y."""
    import math

    del opacity  # render-only (content-stream alpha), not extractable
    lines = text.replace("\\n", "\n").split("\n")
    cw = 0.5  # kernel CHAR_WIDTH_FACTOR
    wm_w = width_spacer + max(len(ln) for ln in lines) * cw * font_size
    wm_h = height_spacer + font_size * len(lines)
    rad = math.radians(rotation)
    new_w = abs(wm_w * math.cos(rad)) + abs(wm_h * math.sin(rad))
    new_h = abs(wm_w * math.sin(rad)) + abs(wm_h * math.cos(rad))
    rows = min(int(page_h / new_h + 1), 10_000)
    cols = min(int(page_w / new_w + 1), 10_000)
    stamps = []  # (x, y_pdf_offset_from_row_origin, content)
    for i in range(rows + 1):
        for j in range(cols + 1):
            for k, ln in enumerate(lines):
                if ln:
                    stamps.append((j * new_w, i * new_h - k * font_size,
                                   ln))
    s = F.col("s")
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    pages = (
        exploded.filter(_is_page_kind(s))
        .select("doc_id", span_page(s).alias("page"))
        .distinct()
    )
    stamp_arr = F.array(*[
        F.struct(F.lit(float(x)).alias("x"),
                 F.lit(float(page_h - ypdf)).alias("y"),
                 F.lit(c).alias("content"),
                 F.lit(idx).alias("idx"))
        for idx, (x, ypdf, c) in enumerate(stamps)
    ])
    painted = pages.select(
        "doc_id",
        F.explode(stamp_arr).alias("t"),
        F.col("page"),
    ).select(
        "doc_id",
        F.struct(
            F.lit("text").alias("kind"),
            F.concat(
                F.col("page").cast("string"), F.lit("|"),
                F.col("t.x").cast("string"), F.lit("|"),
                F.col("t.y").cast("string"),
                F.lit(f"|{font_size!r}|{font}\t"),
                F.col("t.content"),
            ).alias("text"),
            F.lit("").alias("media_ref"),
            # LONG, not int: page * len(stamps) reaches ~1e8 stamps per
            # page with small font/spacer params, so an int32 offset
            # would wrap negative and corrupt span ordering
            (F.lit(1_000_000) + F.col("page") * len(stamps)
             + F.col("t.idx")).cast("long").alias("offset"),
        ).alias("s"),
    )
    originals = exploded.select("doc_id", _widen_offset(s).alias("s"))
    return _regroup(originals.unionByName(painted))


def add_image(docs: DataFrame, media_ref: str, x: float, y: float,
              w: float, h: float, every_page: bool = False,
              page_h: float = 792.0) -> DataFrame:
    """/add-image (OverlayImageController.java:58-120): overlay an
    image onto the FIRST page — or every page with everyPage — at PDF
    coordinates (x, y), appended to the page content stream at the
    image's intrinsic size (drawImage(image, x, y)). The span model
    plants a media draw per target page referencing the image blob by
    content hash; screen-space y = page_h - y - h (the wire stores the
    top edge, PDF's origin is bottom-left). SVG branch
    (SvgOverlayUtil) is vector rendering, out of scope."""
    s = F.col("s")
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    pages = (
        exploded.filter(_is_page_kind(s))
        .select("doc_id", span_page(s).alias("page"))
        .distinct()
    )
    if not every_page:
        # document.getPage(0): the first page only (:96-98 break)
        pages = pages.groupBy("doc_id").agg(F.min("page").alias("page"))
    sy = page_h - y - h
    painted = pages.select(
        "doc_id",
        F.struct(
            F.lit("media").alias("kind"),
            F.concat(F.col("page").cast("string"),
                     F.lit(f"|{x!r}|{sy!r}|{w!r}|{h!r}")).alias("text"),
            F.lit(media_ref).alias("media_ref"),
            (F.lit(2_000_000) + F.col("page")).cast("long")
            .alias("offset"),
        ).alias("s"),
    )
    originals = exploded.select("doc_id", _widen_offset(s).alias("s"))
    return _regroup(originals.unionByName(painted))


def remove_blank_pages(docs: DataFrame) -> DataFrame:
    """/remove-blank-pages (BlankPageController.java:57-104, text
    rule): pages whose glyph runs are all whitespace-only are dropped
    — with every span they carry — and the remaining pages renumber
    densely so the output document reads like the reference's
    re-assembled keep-list (the raster fallback for image-only pages
    is out of scope; pages with media but no text are KEPT, matching
    the reference's image branch when the render is non-blank).
    Non-page spans always survive."""
    s = F.col("s")
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    visible = (
        exploded.filter(_is_page_kind(s))
        .groupBy("doc_id", span_page(s).alias("page"))
        .agg(F.max(
            F.when(_visible_text(s), 1)
            .when(s["kind"] == "media", 1)
            .otherwise(0)
        ).alias("keep"))
    )
    w = Window.partitionBy("doc_id").orderBy("page")
    kept = (
        visible.filter(F.col("keep") == 1)
        .withColumn("new_page", F.row_number().over(w).cast("long"))
        .select("doc_id", "page", "new_page")
    )
    tagged = (
        exploded.withColumn("page", span_page(s))
        .join(kept, ["doc_id", "page"], "left")
    )
    # page spans without a keep row are on blank pages -> dropped
    survivors = tagged.filter(
        (~_is_page_kind(s)) | F.col("new_page").isNotNull())
    return _regroup(
        survivors.select("doc_id", _repaged(s, F.col("new_page"))))


SANITIZE_INFO_KEYS = ("title", "author", "subject", "keywords",
                      "creator", "producer", "created", "modified")


def sanitize_docs(docs: DataFrame, remove_javascript: bool = True,
                  remove_embedded_files: bool = True,
                  remove_metadata: bool = False,
                  remove_links: bool = False,
                  remove_fonts: bool = False) -> DataFrame:
    """/sanitize-pdf (SanitizeController.java:26-208), span-model
    mapping of each option:

      * removeJavaScript: meta spans with a 'js_' key prefix (the
        Names/JavaScript tree + OpenAction/AA scripts ride the wire as
        'js_<slot>|<source>' document state) are dropped (:69-152);
      * removeEmbeddedFiles: attachment spans AND FileAttachment
        annotations are dropped (:154-168 removes both);
      * removeMetadata: Info-dict keys are wiped (a fresh
        PDDocumentInformation, :179-185) — model-state metas
        (encryption flags, XFA) are catalog state, not Info-dict, and
        survive;
      * removeLinks: Link annotations LOSE their URI/Launch action but
        stay present (:187-198 nulls the action only) — the wire's
        contents slot carries the URI and is cleared;
      * removeFonts: the page /Font resource goes away (:200-208), so
        text runs keep geometry and content but lose the font name.

    One narrow per-row projection — no explode, no shuffle: every
    option is a span-level filter/rewrite inside a single transform,
    the cheapest possible 100 TB shape."""
    info_keys = F.array(*[F.lit(k) for k in SANITIZE_INFO_KEYS])

    def keep(sp: Column) -> Column:
        meta_key = F.split_part(sp["text"], F.lit("|"), F.lit(1))
        ann_subtype = F.split_part(wire_body(sp["text"]), F.lit("|"),
                                   F.lit(1))
        drop = F.lit(False)
        if remove_javascript:
            drop = drop | ((sp["kind"] == "meta")
                           & meta_key.startswith("js_"))
        if remove_embedded_files:
            drop = drop | (sp["kind"] == "attachment") | (
                (sp["kind"] == "annotation")
                & (ann_subtype == "FileAttachment"))
        if remove_metadata:
            drop = drop | ((sp["kind"] == "meta")
                           & F.array_contains(info_keys, meta_key))
        return ~drop

    def rewrite(sp: Column) -> Column:
        text = sp["text"]
        if remove_links:
            parts = F.split(wire_body(text), r"\|")
            # annot body: subtype|contents|author|subject — clear the
            # contents (action/URI) slot of Link annotations only.
            # coalesce each slot: concat_ws silently DROPS null args,
            # so a short wire body (< 4 pipe slots) would collapse to
            # fewer slots and shift downstream split_part indices
            # F.get, not [..]: ANSI mode throws on short wire bodies
            cleared = F.concat_ws(
                "|", parts[0], F.lit(""),
                F.coalesce(F.get(parts, 2), F.lit("")),
                F.coalesce(F.get(parts, 3), F.lit("")))
            text = F.when(
                (sp["kind"] == "annotation")
                & (parts[0] == "Link"),
                F.concat(_wire_head(text), F.lit("\t"), cleared),
            ).otherwise(text)
        if remove_fonts:
            # text wire: page|x|y|fs|font\tcontent -> font cleared
            hp = wire_fields(text)
            text = F.when(
                sp["kind"] == "text",
                wire_text(text, hp[:4] + [F.lit("")]),
            ).otherwise(text)
        return sp.withField("text", text)

    return docs.select(
        "doc_id",
        _repack(F.transform(F.filter("spans", keep), rewrite))
        .alias("spans"),
    )


ENCRYPTION_STATE_KEYS = (
    "encrypt_algorithm", "encrypt_keylen", "encrypt_revision",
    "perm_can_print", "perm_can_print_faithful", "perm_can_assemble",
    "perm_can_extract", "perm_can_extract_accessibility",
    "perm_can_fill_forms", "perm_can_modify",
    "perm_can_modify_annotations",
)


def add_password(docs: DataFrame, user_password: str = "",
                 owner_password: str = "", key_length: int = 256,
                 prevent_assembly: bool = False,
                 prevent_extract_content: bool = False,
                 prevent_extract_for_accessibility: bool = False,
                 prevent_fill_in_form: bool = False,
                 prevent_modify: bool = False,
                 prevent_modify_annotations: bool = False,
                 prevent_printing: bool = False,
                 prevent_printing_faithful: bool = False) -> DataFrame:
    """/add-password (PasswordController.java:95-139): protect the
    document with a StandardProtectionPolicy — the 8 AccessPermission
    flags are set to the negation of the prevent* options, and the
    encryption key length applies only when a password is present
    (:126-129; with both passwords empty the reference still calls
    protect(), yielding PDFBox's default 40-bit/rev-2 security — the
    '_permissions.pdf' branch). In the span model the security
    dictionary is catalog state riding kind='meta' spans, exactly the
    state the analysis corpus encodes and GetInfoOnPDF.java:487-501
    reports: is_encrypted + algorithm/keylen/revision + perm_* flags.
    Passwords themselves are credentials, not document content — they
    never ride the wire."""
    has_pw = bool(user_password or owner_password)
    if has_pw and key_length == 256:
        algo, kl, rev = "AESV3", 256, 6
    elif has_pw:
        algo, kl, rev = "AESV2", 128, 4
    else:
        algo, kl, rev = "RC4", 40, 2
    flags = {
        "perm_can_assemble": not prevent_assembly,
        "perm_can_extract": not prevent_extract_content,
        "perm_can_extract_accessibility":
            not prevent_extract_for_accessibility,
        "perm_can_fill_forms": not prevent_fill_in_form,
        "perm_can_modify": not prevent_modify,
        "perm_can_modify_annotations": not prevent_modify_annotations,
        "perm_can_print": not prevent_printing,
        "perm_can_print_faithful": not prevent_printing_faithful,
    }
    updates: dict[str, str | None] = {
        "is_encrypted": "true",
        "encrypt_algorithm": algo,
        "encrypt_keylen": str(kl),
        "encrypt_revision": str(rev),
    }
    updates.update({k: ("true" if v else "false")
                    for k, v in flags.items()})
    return set_metadata(docs, updates)


def remove_password(docs: DataFrame, password: str = "") -> DataFrame:
    """/remove-password (PasswordController.java:54-73):
    setAllSecurityToBeRemoved — the security dictionary goes away
    entirely: is_encrypted flips to false and every encryption-state
    key (algorithm/keylen/revision + all perm_* flags) is deleted.
    The password parameter is the open credential; payload decryption
    is not modeled (spans ride the wire in the clear), so it is
    accepted and unused."""
    del password
    updates: dict[str, str | None] = {"is_encrypted": "false"}
    updates.update(dict.fromkeys(ENCRYPTION_STATE_KEYS))
    return set_metadata(docs, updates)


SIG_META_PREFIX = "sig_"


def _is_sig_field(sp: Column) -> Column:
    return (sp["kind"] == "formfield") & (
        F.split_part(sp["text"], F.lit("|"), F.lit(2)) == "signature")


def _is_sig_meta(sp: Column) -> Column:
    return (sp["kind"] == "meta") & F.split_part(
        sp["text"], F.lit("|"), F.lit(1)).startswith(SIG_META_PREFIX)


def add_cert_sign(docs: DataFrame, signer: Column | str,
                  date: Column | str, reason: Column | str = "",
                  location: Column | str = "",
                  subfilter: str = "ETSI.CAdES.detached") -> DataFrame:
    """/cert-sign (CertSignController.java): sign the document with a
    certificate — a new signature FIELD joins the AcroForm and its
    signature dictionary carries signer name / signing time / reason /
    location / subfilter, which is exactly the state
    ValidateSignatureController and GetInfoOnPDF read back. The CMS
    signature bytes themselves are credentials-derived binary that
    cannot ride the span wire (real crypto out of scope — the S14
    password-state pattern); the dictionary STATE does, as a
    'sig_<n>|signer|date|reason|location|subfilter|true' meta span
    plus a 'sig<n>|signature|' formfield, n = count of existing
    signature fields (unique field naming, the reference's
    Signature<N> scheme). The trailing 'true' is the byte-range
    coverage flag: a freshly signed document's signature covers the
    whole file (ValidateSignatureController.java:109-128)."""
    def lit(v):
        return F.lit(v) if isinstance(v, str) else v

    n = F.size(F.filter("spans", _is_sig_field)).cast("string")
    value = F.concat_ws("|", lit(signer), lit(date), lit(reason),
                        lit(location), F.lit(subfilter), F.lit("true"))
    new_spans = F.array(
        F.struct(F.lit("formfield").alias("kind"),
                 F.concat(F.lit("sig"), n, F.lit("|signature|"))
                 .alias("text"),
                 F.lit("").alias("media_ref"),
                 F.size("spans").alias("offset")),
        F.struct(F.lit("meta").alias("kind"),
                 F.concat(F.lit(SIG_META_PREFIX), n, F.lit("|"), value)
                 .alias("text"),
                 F.lit("").alias("media_ref"),
                 (F.size("spans") + 1).alias("offset")),
    )
    return docs.select(
        "doc_id", F.concat("spans", new_spans).alias("spans"))


# TimestampController.TSA_PRESETS — the built-in trusted TSA allowlist
TSA_PRESETS: tuple[tuple[str, str], ...] = (
    ("http://timestamp.digicert.com", "DigiCert"),
    ("http://timestamp.sectigo.com", "Sectigo"),
    ("http://ts.ssl.com", "SSL.com"),
    ("https://freetsa.org/tsr", "FreeTSA"),
    ("http://tsa.mesign.com", "MeSign"),
)


def add_doc_timestamp(docs: DataFrame, tsa_url: str,
                      date: Column | str) -> DataFrame:
    """/timestamp-pdf (TimestampController.java): embed an RFC 3161
    document timestamp. The controller validates the TSA URL against
    its preset allowlist BEFORE any work (one URL per request —
    mirrored as one URL per call, rejected with ValueError), then
    contacts the TSA and embeds the token as a DocTimeStamp signature
    with subfilter ETSI.RFC3161. The network round-trip and the
    BouncyCastle token are out of scope (SCOPE.md real-crypto row);
    the resulting STATE — a new signature field whose dictionary
    carries the TSA identity, the timestamp date and the RFC3161
    subfilter — rides the proven cert-sign wire and validates back
    through /validate-signature."""
    labels = dict(TSA_PRESETS)
    if tsa_url not in labels:
        raise ValueError(
            f"TSA URL not in the preset allowlist: {tsa_url}")
    return add_cert_sign(docs, signer=f"TSA:{labels[tsa_url]}",
                         date=date, reason=tsa_url, location="",
                         subfilter="ETSI.RFC3161")


def remove_cert_sign(docs: DataFrame) -> DataFrame:
    """/remove-cert-sign (RemoveCertSignController.java:50-80):
    acroForm.flatten(signatureFields, false) — every PDSignatureField
    leaves the AcroForm, and with it the signature dictionaries go
    away; refreshAppearances=false + empty signature values mean
    nothing paints (the flatten_forms empty-value rule). One narrow
    filter + reindex, no shuffle."""
    kept = F.filter("spans",
                    lambda sp: ~_is_sig_field(sp) & ~_is_sig_meta(sp))
    return docs.select("doc_id", _repack(kept).alias("spans"))


def validate_signatures(spans_out: DataFrame) -> DataFrame:
    """/validate-signature (ValidateSignatureController.java:88-230):
    one row per signature dictionary with the SignatureValidationResult
    metadata block — signer name, signing date, reason, location,
    subfilter, whether the byte range covers the whole document — and
    a well-formedness ``valid`` flag (all six wire slots present and a
    non-empty signer). PKIX chain building / trust / revocation need
    real certificates and stay out of scope; documents without
    signatures yield no rows (the endpoint's empty list). Input is the
    EXTRACTED span table, so validation reads exactly what a consumer
    of the engine's output sees."""
    from .extract_pipeline import explode_spans

    s = explode_spans(spans_out)
    key = F.split_part("text", F.lit("|"), F.lit(1))
    body = F.substring(F.col("text"), F.locate("|", F.col("text")) + 1,
                       F.lit(1 << 30))
    parts = F.split(body, r"\|", -1)
    return (
        s.filter((F.col("kind") == "meta")
                 & key.startswith(SIG_META_PREFIX))
        .select(
            "doc_id",
            F.substring(key, len(SIG_META_PREFIX) + 1, 10)
            .cast("long").alias("sig_no"),
            F.get(parts, 0).alias("signer_name"),
            F.get(parts, 1).alias("signature_date"),
            F.get(parts, 2).alias("reason"),
            F.get(parts, 3).alias("location"),
            F.get(parts, 4).alias("subfilter"),
            (F.coalesce(F.get(parts, 5), F.lit("")) == "true")
            .alias("covers_document"),
            ((F.size(parts) == 6)
             & (F.coalesce(F.get(parts, 0), F.lit("")) != ""))
            .alias("valid"),
        )
    )


def show_javascript(docs: DataFrame) -> DataFrame:
    """/show-javascript (ShowJavascript.java:26-75): every
    Names/JavaScript entry concatenates as
    '// File: {id}, Script: {name}\\n{code}\\n' in name-tree order
    (PDF name trees sort lexicographically by key); documents without
    scripts yield the literal "PDF '{id}' does not contain
    Javascript" body. JS state rides 'js_<name>|<code>' meta spans
    (the same wire sanitize_docs strips); the filename slot carries
    the doc_id. Output: (doc_id, script)."""

    def entry(sp: Column) -> Column:
        k = F.split_part(sp["text"], F.lit("|"), F.lit(1))
        code = F.substring(sp["text"], F.locate("|", sp["text"]) + 1,
                           F.lit(1 << 30))
        return F.struct(F.substring(k, 4, 1 << 30).alias("name"),
                        code.alias("code"))

    js = F.filter(
        "spans",
        lambda sp: (sp["kind"] == "meta")
        & F.split_part(sp["text"], F.lit("|"), F.lit(1))
        .startswith("js_")
        # empty/whitespace-only scripts are skipped (:44 trim check)
        & (F.trim(F.substring(sp["text"],
                              F.locate("|", sp["text"]) + 1,
                              F.lit(1 << 30))) != ""),
    )
    entries = F.array_sort(F.transform(js, entry))
    lines = F.transform(
        entries,
        lambda e: F.concat(F.lit("// File: "), F.col("doc_id"),
                           F.lit(", Script: "), e["name"], F.lit("\n"),
                           e["code"], F.lit("\n")),
    )
    script = F.when(
        F.size(entries) > 0, F.array_join(lines, "")
    ).otherwise(
        F.concat(F.lit("PDF '"), F.col("doc_id"),
                 F.lit("' does not contain Javascript"))
    )
    return docs.select("doc_id", script.alias("script"))
