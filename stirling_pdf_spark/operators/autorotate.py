"""Auto-rotate: detect and fix page orientation from embedded text.

Reference: ``AutoRotateController.java`` (/auto-rotate-pdf, text
detection mode) + ``AutoRotateDetection.java``. The OSD path
(Tesseract on rendered pages) is environment-blocked (SCOPE.md); the
TEXT path — the digital-PDF fast path the controller tries first — is
fully span-expressible and implemented here:

  * every non-whitespace glyph votes for its drawing direction
    (0/90/180/270, ``AutoRotateDetection.DirectionCountingStripper``
    :160-188 — PDFBox snaps oblique text to a quadrant, so skew is
    invisible by construction);
  * a page's signal is conclusive iff glyphs >= 30 with dominance
    >= 0.95, or glyphs >= 8 with dominance >= 0.99 (the sparse
    near-unanimous path, ``TextDirection.isConclusive``:52-59);
  * correction = floorMod(dominantDirection - /Rotate, 360)
    (``correctionFromTextDirection``:136-138), applied iff nonzero;
  * undecided pages inherit the document consensus: when every
    decided page sharing their current /Rotate agrees on ONE
    correction, that correction is inferred
    (``inferUndetectedPages``:205-243).

Wire note: glyph direction rides an optional ``@{degrees}`` suffix on
the font style key (the font is an opaque style string through every
kernel stage); a bare font name means direction 0. Dominance
comparisons are integer-exact (20*best >= 19*total for 0.95,
100*best >= 99*total for 0.99) so Spark and DuckDB agree bit-for-bit;
the reported confidence is (10000*best) div total.

Scale shape: pure column expressions end-to-end — one explode + one
(doc, page, dir) partial-agg, a per-page argmax fold, and the
consensus join keyed on (doc, rotation). No Python UDFs, no driver
state, no window over an unpartitioned frame; everything partitions
by doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pageops import page_rotations, wire_body, wire_fields, wire_page

MIN_GLYPHS = 30
MIN_GLYPHS_UNANIMOUS = 8


def auto_rotate(docs: DataFrame,
                infer_undetected: bool = True) -> DataFrame:
    """docs(doc_id, spans raw) -> one row per pagemeta page:
    (doc_id, page, rotation, method, correction, applied,
    new_rotation, n_glyphs, conf_x10000, note).

    method in ('text', 'inferred', 'none'); applied is an INT flag;
    correction is 0 for undecided pages (mirroring PageResult's
    defaults); conf_x10000 is -1 except for method='text'."""
    s = F.col("s")
    font = wire_fields(s["text"])[4]
    runs = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(s["kind"] == "text")
        .select(
            "doc_id",
            wire_page(s["text"]).alias("page"),
            F.coalesce(
                F.nullif(F.regexp_extract(font, r"@(\d+)$", 1), F.lit(""))
                .cast("long"),
                F.lit(0),
            ).alias("dir"),
            F.length(
                F.regexp_replace(wire_body(s["text"]), r"\s", "")
            ).cast("long").alias("glyphs"),
        )
    )
    counts = runs.groupBy("doc_id", "page", "dir").agg(
        F.sum("glyphs").alias("c"))
    # per-page argmax with the Java tie-break (strict >, so the FIRST
    # i.e. LOWEST direction wins a tie): max of (count, 3 - dir/90)
    per_page = counts.groupBy("doc_id", "page").agg(
        F.max(F.struct(F.col("c").alias("c"),
                       (F.lit(3) - F.col("dir") / 90).cast("long")
                       .alias("inv"))).alias("best"),
        F.sum("c").alias("total"),
    ).select(
        "doc_id", "page",
        F.col("best.c").alias("best_c"),
        ((F.lit(3) - F.col("best.inv")) * 90).alias("best_dir"),
        "total",
    )

    base = (
        page_rotations(docs)
        .select("doc_id", "page", "rotation")
        .join(per_page, ["doc_id", "page"], "left")
        .select(
            "doc_id", "page", "rotation",
            F.coalesce("best_c", F.lit(0)).alias("best_c"),
            F.coalesce("best_dir", F.lit(0)).alias("best_dir"),
            F.coalesce("total", F.lit(0)).alias("total"),
        )
    )
    conclusive = (
        ((F.col("total") >= MIN_GLYPHS)
         & (20 * F.col("best_c") >= 19 * F.col("total")))
        | ((F.col("total") >= MIN_GLYPHS_UNANIMOUS)
           & (100 * F.col("best_c") >= 99 * F.col("total")))
    )
    base = base.withColumn("decided", conclusive.cast("int")).withColumn(
        "t_corr", F.pmod(F.col("best_dir") - F.col("rotation"), F.lit(360)))

    if infer_undetected:
        consensus = (
            base.filter(F.col("decided") == 1)
            .groupBy("doc_id", "rotation")
            .agg(F.count_distinct("t_corr").alias("nd"),
                 F.min("t_corr").alias("cc"))
            .filter(F.col("nd") == 1)
            .select("doc_id", "rotation", "cc")
        )
        base = base.join(consensus, ["doc_id", "rotation"], "left")
    else:
        base = base.withColumn("cc", F.lit(None).cast("long"))

    method = (
        F.when(F.col("decided") == 1, F.lit("text"))
        .when(F.col("cc").isNotNull(), F.lit("inferred"))
        .otherwise(F.lit("none"))
    )
    correction = (
        F.when(F.col("decided") == 1, F.col("t_corr"))
        .otherwise(F.coalesce("cc", F.lit(0)))
        .cast("long")
    )
    note = (
        F.when(F.col("decided") == 1, F.lit(""))
        .when(F.col("cc").isNotNull(), F.lit("inferredFromDocument"))
        .when(F.col("total") < MIN_GLYPHS, F.lit("tooFewGlyphs"))
        .otherwise(F.lit("noDominantDirection"))
    )
    return base.select(
        "doc_id", "page", "rotation",
        method.alias("method"),
        correction.alias("correction"),
        (correction != 0).cast("int").alias("applied"),
        F.pmod(F.col("rotation") + correction, F.lit(360)).cast("long")
        .alias("new_rotation"),
        F.col("total").cast("long").alias("n_glyphs"),
        F.when(F.col("decided") == 1,
               F.expr("(10000 * best_c) div total"))
        .otherwise(F.lit(-1)).cast("long").alias("conf_x10000"),
        note.alias("note"),
    )
