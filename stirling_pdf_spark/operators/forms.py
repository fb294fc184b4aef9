"""Form-field surface (/api/v1/form/* + /unlock-pdf-forms).

The reference treats a PDF as a structured form (FormFillController:
fill / modify / delete / inspect; UnlockPDFFormsController removes
the read-only bit). Here the AcroForm rides kind='formfield' spans
with the wire ``name|type|value[|flags]`` — the optional 4th slot
carries field flags ('ro' = the PDF ReadOnly bit, field flag bit 1).
Every operator is a narrow span transform (filter/rewrite inside one
projection) — no explode, no shuffle; inspection is E16
(extract_form_fields), already gated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .pageops import _repack, flatten_forms

# simplification of FormUtils.shouldCheckBoxBeChecked(value, states)
# with the standard single "Yes" on-state: truthy tokens check the box
_CHECKBOX_TRUE = ("yes", "y", "true", "on", "1", "checked")


def _name(sp: Column) -> Column:
    return F.split_part(sp["text"], F.lit("|"), F.lit(1))


def _ftype(sp: Column) -> Column:
    return F.split_part(sp["text"], F.lit("|"), F.lit(2))


def _flags(sp: Column) -> Column:
    return F.split_part(sp["text"], F.lit("|"), F.lit(4))


def _rebuild(sp: Column, value: Column, flags: Column) -> Column:
    base = F.concat_ws("|", _name(sp), _ftype(sp), value)
    return F.when(flags == "", base).otherwise(
        F.concat(base, F.lit("|"), flags))


def fill_form(docs: DataFrame, values: dict[str, str],
              flatten: bool = False) -> DataFrame:
    """/form/fill (FormFillController.java:326-357 ->
    FormUtils.applyFieldValues:618-684): the JSON value map applies by
    field name — unknown keys are skipped, text fields set verbatim
    (null -> ''), checkboxes check on truthy values
    (applyValueToField), SIGNATURE fields are skipped entirely.
    ``flatten`` composes the proven flatten_forms pass afterwards
    (the endpoint's flatten flag)."""
    def rewrite(sp: Column) -> Column:
        new_text = sp["text"]
        for key, raw in values.items():
            val = "" if raw is None else str(raw)
            checked = val.strip().lower() in _CHECKBOX_TRUE
            value = F.when(_ftype(sp) == "checkbox",
                           F.lit("Yes" if checked else "Off")) \
                .otherwise(F.lit(val))
            new_text = F.when(
                (_name(sp) == key) & (_ftype(sp) != "signature"),
                _rebuild(sp, value, _flags(sp)),
            ).otherwise(new_text)
        return sp.withField(
            "text", F.when(sp["kind"] == "formfield", new_text)
            .otherwise(sp["text"]))

    out = docs.select(
        "doc_id", F.transform("spans", rewrite).alias("spans"))
    if flatten:
        out = flatten_forms(out)
    return out


def delete_fields(docs: DataFrame, names: list[str]) -> DataFrame:
    """/form/delete-fields: the named fields leave the AcroForm; other
    spans pass through, offsets re-densify."""
    name_arr = F.array(*[F.lit(n) for n in names])
    kept = F.filter(
        "spans",
        lambda sp: ~((sp["kind"] == "formfield")
                     & F.array_contains(name_arr, _name(sp))))
    return docs.select("doc_id", _repack(kept).alias("spans"))


def unlock_forms(docs: DataFrame) -> DataFrame:
    """/unlock-pdf-forms (UnlockPDFFormsController.java:48-120): every
    field clears its ReadOnly bit (flags lose the 'ro' token) and the
    AcroForm sets NeedAppearances — modeled as a 'need_appearances|
    true' meta span appended once per doc. The XFA XML
    access="readonly" rewrite needs the raw XFA stream (out of scope;
    the boolean XFA flag meta passes through)."""
    def rewrite(sp: Column) -> Column:
        flags = _flags(sp)
        unlocked = F.array_join(
            F.array_remove(F.split(flags, ","), "ro"), ",")
        return sp.withField(
            "text", F.when(sp["kind"] == "formfield",
                           _rebuild(sp, F.split_part(sp["text"], F.lit("|"),
                                                     F.lit(3)), unlocked))
            .otherwise(sp["text"]))

    na = F.array(F.struct(
        F.lit("meta").alias("kind"),
        F.lit("need_appearances|true").alias("text"),
        F.lit("").alias("media_ref"),
        F.size("spans").alias("offset")))
    return docs.select(
        "doc_id",
        F.concat(F.transform("spans", rewrite), na).alias("spans"))


def fields_csv(docs: DataFrame,
               values: dict[str, str] | None = None) -> DataFrame:
    """/form/extract-csv (FormFillController.java:149-196): optional
    fill first (the endpoint's data part -> applyFieldValues), then a
    CSV of '"Field Name","Value"' plus one row per field in document
    order — OpenCSV CSVWriter defaults: every cell double-quoted,
    inner quotes doubled, '\\n' line endings incl. a trailing one.
    Output: (doc_id, csv)."""
    src = fill_form(docs, values) if values else docs

    def cell(c: Column) -> Column:
        return F.concat(F.lit('"'),
                        F.replace(c, F.lit('"'), F.lit('""')),
                        F.lit('"'))

    fields = F.filter("spans", lambda sp: sp["kind"] == "formfield")
    rows = F.transform(
        fields,
        lambda sp: F.concat(
            cell(_name(sp)), F.lit(","),
            cell(F.split_part(sp["text"], F.lit("|"), F.lit(3)))))
    csv = F.concat(
        F.array_join(
            F.concat(F.array(F.lit('"Field Name","Value"')), rows),
            "\n"),
        F.lit("\n"))
    return src.select("doc_id", csv.alias("csv"))
