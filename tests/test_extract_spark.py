"""Span-sequence equality: Spark pipeline output == pure-Python oracle.

The contract (BASELINE.json): per-document equality on
(kind, text, media_ref, order). Covers all archetypes including the
salted mega-doc path (which must be bit-identical to the unsalted
kernel output despite page-range splitting + reassembly)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
from stirling_pdf_spark.corpus.synth import synth_corpus, synth_doc
from stirling_pdf_spark.kernel import extract as kx
from stirling_pdf_spark.kernel.extract import extract_doc
from stirling_pdf_spark.operators.extract_pipeline import extract_spans, spread

N_DOCS = 120
MEGA_PAGES = (60, 80)  # scaled-down mega docs for test runtime
SALT_THRESHOLD = 150   # force the salted path onto the scaled megas


def _oracle(n_docs: int) -> dict[str, list[tuple]]:
    out = {}
    for doc_id, _arch, spans in synth_corpus(n_docs, mega_pages=MEGA_PAGES):
        out[doc_id] = [tuple(s) for s in extract_doc(spans)]
    return out


@pytest.fixture(scope="module")
def spark_result(spark):
    docs = synth_docs_df(spark, N_DOCS, mega_pages=MEGA_PAGES, num_partitions=8)
    result = extract_spans(docs, salt_threshold=SALT_THRESHOLD)
    rows = result.collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]
        ]
        for r in rows
    }


def test_synth_docs_df_is_synth_doc(spark):
    """The distributed generator yields exactly ``synth_doc``'s doc_id
    and raw spans per index, in index order."""
    rows = synth_docs_df(spark, 12, seed=3, mega_pages=(5, 8),
                         num_partitions=3).collect()
    assert [(r["doc_id"], [tuple(s) for s in r["spans"]]) for r in rows] == [
        (doc_id, spans) for doc_id, _, spans in
        (synth_doc(i, 3, (5, 8)) for i in range(12))]


def test_all_docs_present(spark_result):
    oracle = _oracle(N_DOCS)
    assert set(spark_result) == set(oracle)


def test_span_sequence_equality(spark_result):
    oracle = _oracle(N_DOCS)
    mismatches = []
    for doc_id, expected in oracle.items():
        got = spark_result[doc_id]
        if got != expected:
            mismatches.append((doc_id, expected[:3], got[:3]))
    assert not mismatches, f"{len(mismatches)} docs mismatch; first: {mismatches[0]}"


def test_salted_path_was_exercised(spark_result):
    oracle = _oracle(N_DOCS)
    megas = [d for d in oracle if "mega-doc" in d]
    assert megas, "corpus must contain at least one mega-doc"
    for doc_id in megas:
        assert spark_result[doc_id] == oracle[doc_id]


def test_order_is_array_index(spark_result):
    for spans in spark_result.values():
        assert [s[3] for s in spans] == list(range(len(spans)))


def test_skew_torture_one_mega_among_tiny(spark, monkeypatch):
    """The 100x-scale skew shape: ONE ~200-page document among 300
    one-pagers. The salted path must (a) split the mega doc into
    page-range buckets whose sizes stay balanced — no single task ever
    holds the whole document — and (b) reproduce the unsalted kernel
    output bit-for-bit after reassembly, for every raw kind the kernel
    reads (the segment rule must place each kind where the kernel's
    reading order does)."""
    import statistics

    from stirling_pdf_spark.corpus.synth import synth_from_text
    from stirling_pdf_spark.kernel.extract import PAGE_KINDS, segment_of

    def every_kind(doc_id: str, n_pages: int):
        words = [f"w{i}" for i in range(n_pages * 40 * 8)]
        did, spans = synth_from_text(doc_id, " ".join(words))
        n = len(spans)
        return did, [
            ("meta", "Title|Mega", "", n),
            ("formfield", "name|text|Ada", "", n + 1),
            ("annotation", "20|10.0|20.0|30.0|40.0\tText|note on p20|a|s",
             "", n + 2),
            ("html", "<html><body><p>html block</p></body></html>", "", n + 3),
            ("htmlbody", "<p>eml body block</p>", "", n + 4),
            ("bookmark", "0|Chapter 1", "", n + 5),
            ("attachment", "notes.txt", "media-notes", n + 6),
        ] + spans

    # 200 pages; the 40-page doc stays under the 2000-chunk budget, so
    # its html blocks reach the output too
    mega_id, mega_spans = every_kind("mega-0", 200)
    mid_id, mid_spans = every_kind("mid-0", 40)
    rows = [(did, [dict(kind=k, text=t, media_ref=m, offset=o)
                   for k, t, m, o in spans])
            for did, spans in ((mega_id, mega_spans), (mid_id, mid_spans))]
    for i in range(300):
        did, spans = synth_from_text(f"tiny-{i}", f"tiny doc {i} body")
        rows.append((did, [dict(kind=k, text=t, media_ref=m, offset=o)
                           for k, t, m, o in spans]))
    schema = ("doc_id string, spans array<struct<kind:string,"
              "text:string,media_ref:string,offset:int>>")
    docs = spark.createDataFrame(rows, schema)

    monkeypatch.setattr(kx, "PAGES_PER_BUCKET", 8)
    out = extract_spans(docs, salt_threshold=100)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                          s["order"]) for s in r["spans"]]
           for r in out.collect()}
    assert got[mega_id] == [tuple(s) for s in extract_doc(mega_spans)]
    assert got[mid_id] == [tuple(s) for s in extract_doc(mid_spans)]
    assert ("text", "eml body block", "") in [s[:3] for s in got[mid_id]]
    assert got["tiny-7"] == [tuple(s) for s in extract_doc(
        synth_from_text("tiny-7", "tiny doc 7 body")[1])]

    # bucket balance: the mega doc's page spans group by page range; the
    # largest bucket must not dominate (max/median < 2) and the doc
    # must split into enough buckets to spread across a wave of tasks
    counts: dict[int, int] = {}
    for k, t, _m, _o in mega_spans:
        if k in PAGE_KINDS:
            b = segment_of(k, t)
            counts[b] = counts.get(b, 0) + 1
    page_buckets = list(counts.values())
    assert len(page_buckets) >= 16
    assert max(page_buckets) / statistics.median(page_buckets) < 2.0


@pytest.mark.parametrize("page", ["1_50", "\u0661\u0667\u0660", str(1 << 63)])
def test_salted_keying_agrees_with_segment_of(spark, monkeypatch, page):
    """A page field that Python's int() reads but Spark's BIGINT cast
    does not (a digit separator, Arabic-Indic digits, a value past int64)
    keeps its doc unsalted, so its output still equals extract_doc's; a
    doc whose page fields all cast is still salted."""
    from stirling_pdf_spark.corpus.synth import synth_from_text
    from stirling_pdf_spark.operators.extract_pipeline import _key

    _did, clean = synth_from_text("clean", " ".join(f"w{i}" for i in range(40 * 40 * 8)))
    # page 40's lines move to `page`: 150, 170 or 2**63 to int()
    odd = [(k, page + t[2:] if k == "text" and t.startswith("40|") else t, m, o)
           for k, t, m, o in clean]
    assert odd != clean
    schema = ("doc_id string, spans array<struct<kind:string,"
              "text:string,media_ref:string,offset:int>>")
    docs = spark.createDataFrame(
        [(did, [dict(kind=k, text=t, media_ref=m, offset=o) for k, t, m, o in spans])
         for did, spans in (("clean", clean), ("odd", odd))], schema)

    monkeypatch.setattr(kx, "PAGES_PER_BUCKET", 10)
    rows = _key(docs, 5).groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("salted").alias("salted")).collect()
    assert {r["doc_id"]: (r["n"] > 1, r["salted"]) for r in rows} == {
        "clean": (True, True), "odd": (False, False)}
    out = extract_spans(docs, salt_threshold=5)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                         for s in r["spans"]] for r in out.collect()}
    assert got == {"clean": [tuple(s) for s in extract_doc(clean)],
                   "odd": [tuple(s) for s in extract_doc(odd)]}


def test_salted_segment_over_the_chunk_budget(spark):
    """Segment rows are extracted under the same 2000-chunk budget as a
    whole doc. One salted doc whose first segment alone holds 3,000
    text lines, with media, a ruled table, an annotation and html after
    the cut, still equals extract_doc: the segment's cut drops only
    chunks that are past the doc's 2000th too."""
    from stirling_pdf_spark.kernel import wire
    from stirling_pdf_spark.kernel.model import MAX_CHUNKS_PER_DOC, MediaDraw, TextRun
    from stirling_pdf_spark.kernel.tables import Rule, encode_rule
    from stirling_pdf_spark.operators.extract_pipeline import _key

    def line(page, x, y, text):
        return ("text", wire.encode_text_run(TextRun(page, x, y, 11.0, "F", text)), "")

    spans = [("meta", "Title|Salted", "")]
    # pages 1-97: segment 0 holds 3,000 one-run lines
    spans += [line(1 + i // 31, 72.0, 72.0 + 20.0 * (i % 31), f"line {i}")
              for i in range(3000)]
    for page in range(100, 260):
        if page % 7 == 0:
            ref = f"media-{page}"
            spans.append(("media", wire.encode_media(
                MediaDraw(page, 10.0, 20.0, 30.0, 40.0, ref)), ref))
        spans += [line(page, 72.0, 72.0, f"p{page} a"),
                  line(page, 72.0, 100.0, f"p{page} b")]
    xs, ys = (300.0, 400.0, 500.0, 600.0), (200.0, 220.0, 240.0)
    spans += [("rule", encode_rule(Rule(150, xs[0], y, xs[-1], y)), "") for y in ys]
    spans += [("rule", encode_rule(Rule(150, x, ys[0], x, ys[-1])), "") for x in xs]
    spans.append(line(150, 305.0, 205.0, "cell"))
    spans.append(("annotation", "210|10.0|20.0|30.0|40.0\tText|note on p210|a|s", ""))
    spans.append(("html", "<html><body>" + "".join(
        f"<p>paragraph {i} lorem ipsum dolor sit amet</p>" for i in range(50))
        + "</body></html>", ""))
    spans.append(("bookmark", "0|Chapter 1", ""))
    spans = [s + (i,) for i, s in enumerate(spans)]
    docs = spark.createDataFrame(
        [("big", [dict(kind=k, text=t, media_ref=m, offset=o) for k, t, m, o in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")

    keyed = {r["bucket"]: (r["salted"], len(r["spans"]))
             for r in _key(docs, 100).collect()}
    assert len(keyed) == 6 and all(salted for salted, _ in keyed.values())
    assert keyed[0] == (True, 3000)
    (row,) = extract_spans(docs, salt_threshold=100).collect()
    got = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]]
    assert got == [tuple(s) for s in extract_doc(spans)]
    assert len(got) == 2027
    assert sum(s[0] == "text" for s in got) == MAX_CHUNKS_PER_DOC
    assert [s[0] for s in got].count("table") == 1


def _plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_is_one_hash_exchange_on_its_keys(spark):
    """``spread`` and the per-row operators on it (``lang_id`` here)
    plan one hash exchange on the key into 2 x defaultParallelism
    partitions, and no round-robin."""
    from stirling_pdf_spark.operators.textstats import lang_id

    df = spark.createDataFrame(
        [(f"d{i}", "the cat sat on the mat") for i in range(20)],
        "doc_id string, text string")
    n = 2 * spark.sparkContext.defaultParallelism
    for out in (spread(df, "doc_id"), lang_id(df)):
        plan = _plan_text(out)
        assert re.search(rf"hashpartitioning\(doc_id#\d+, {n}\)", plan), plan
        assert "RoundRobinPartitioning" not in plan, plan


def test_regroup_is_one_arrow_batch_stream(spark):
    """The regroup by doc_id runs as a mapInArrow over each partition's
    batches, not a per-group Python call."""
    docs = synth_docs_df(spark, 20, seed=5, num_partitions=2)
    plan = _plan_text(extract_spans(docs))
    assert "FlatMapGroupsInArrow" not in plan, plan
    assert "MapInArrow _finish_docs" in plan, plan


@pytest.mark.parametrize("rows_per_batch", [1, 2, 3])
def test_salted_docs_across_tiny_arrow_batches(spark, monkeypatch, rows_per_batch):
    """A salted doc's segment rows straddle the regroup's Arrow batches
    when a batch holds only a few rows; its output still equals the
    unsalted kernel's."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, str(rows_per_batch))
    monkeypatch.setattr(kx, "PAGES_PER_BUCKET", 4)
    try:
        docs = synth_docs_df(spark, 24, seed=3, mega_pages=(20, 30),
                             num_partitions=2)
        out = extract_spans(docs, salt_threshold=100)
        got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                              s["order"]) for s in r["spans"]]
               for r in out.collect()}
    finally:
        spark.conf.set(key, before)
    corpus = list(synth_corpus(24, seed=3, mega_pages=(20, 30)))
    assert sum(len(spans) > 100 for _d, _a, spans in corpus) >= 2
    assert got == {doc_id: [tuple(s) for s in extract_doc(spans)]
                   for doc_id, _arch, spans in corpus}


def test_input_consumed_once(spark, tmp_path):
    """One plan for every input: the extraction never persists its
    input and evaluates the input subtree once — one file scan for a
    parquet source, one generator stage for a derived (mapInArrow)
    source — with salted docs in the mix."""
    docs = synth_docs_df(spark, 60, seed=42, mega_pages=(30, 40),
                         num_partitions=4)
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)
    pq = spark.read.parquet(path)
    for src, leaf in ((pq, "FileScan"), (docs, "Range (")):
        assert _plan_text(src).count(leaf) == 1
        out = extract_spans(src, salt_threshold=150)
        assert out.count() == 60
        plan = _plan_text(out)
        assert plan.count(leaf) == 1, plan
        assert "InMemoryRelation" not in plan, plan
        assert "InMemoryTableScan" not in plan, plan
