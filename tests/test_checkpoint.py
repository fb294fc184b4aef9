"""Checkpoint/resume semantics: anti-join resume, lineage commit point,
orphan invisibility, the metrics view."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
from stirling_pdf_spark.operators.extract_pipeline import extract_spans
from stirling_pdf_spark.runtime.checkpoint import (
    read_committed_spans,
    read_metrics,
    run_extract_with_checkpoint,
)


@pytest.fixture()
def docs(spark):
    return synth_docs_df(spark, 40, mega_pages=(40, 50), num_partitions=4)


def test_resume_skips_committed(spark, docs, tmp_path):
    out = str(tmp_path / "ckpt")
    first_half = docs.filter(F.xxhash64("doc_id") % 2 == 0)
    r1 = run_extract_with_checkpoint(spark, first_half, out, run_id="r1")
    assert r1["docs_done"] == first_half.count() > 0
    # a doc whose lineage holds two rows (a re-appended commit): the
    # resume skips it and readers see it once
    lineage = spark.read.parquet(f"{out}/lineage")
    twice = lineage.orderBy("doc_id").first()["doc_id"]
    lineage.filter(F.col("doc_id") == twice).localCheckpoint() \
        .write.mode("append").parquet(f"{out}/lineage")
    assert spark.read.parquet(f"{out}/lineage").filter(
        F.col("doc_id") == twice).count() == 2

    r2 = run_extract_with_checkpoint(spark, docs, out, run_id="r2")
    assert r2["docs_done"] == 40 - r1["docs_done"]

    committed = read_committed_spans(spark, out)
    assert committed.count() == 40
    assert committed.filter(F.col("doc_id") == twice).count() == 1
    # committed output == direct full extraction (same spans per doc)
    direct = extract_spans(docs)
    joined = committed.alias("a").join(direct.alias("b"), "doc_id")
    assert joined.count() == 40
    mismatches = joined.filter(F.col("a.spans") != F.col("b.spans")).count()
    assert mismatches == 0

    # a third run over the same corpus is a no-op
    r3 = run_extract_with_checkpoint(spark, docs, out, run_id="r3")
    assert r3["docs_done"] == 0


def test_orphan_spans_invisible(spark, docs, tmp_path):
    out = str(tmp_path / "ckpt")
    run_extract_with_checkpoint(spark, docs, out, run_id="r1")
    # simulate a crash after the span write, before the lineage commit:
    # span files exist under a run_id that lineage never recorded
    orphan = extract_spans(docs.limit(3)).withColumn(
        "partition_id", F.spark_partition_id()
    )
    orphan.write.parquet(f"{out}/spans/run_id=orphan")
    committed = read_committed_spans(spark, out)
    assert committed.count() == 40  # orphans excluded
    assert committed.select("doc_id").distinct().count() == 40


def test_reused_committed_run_id_raises(spark, docs, tmp_path):
    """A second run under a committed run_id with docs pending raises
    before it writes: an overwrite of that run's span directory would
    drop committed docs that lineage still marks as done. A replay with
    nothing pending stays a no-op, and a fresh run_id commits the rest."""
    out = str(tmp_path / "ckpt")
    first_half = docs.filter(F.xxhash64("doc_id") % 2 == 0)
    r1 = run_extract_with_checkpoint(spark, first_half, out, run_id="r1")
    with pytest.raises(ValueError, match="r1"):
        run_extract_with_checkpoint(spark, docs, out, run_id="r1")
    assert read_committed_spans(spark, out).count() == r1["docs_done"]
    replay = run_extract_with_checkpoint(spark, first_half, out, run_id="r1")
    assert replay["docs_done"] == 0

    r2 = run_extract_with_checkpoint(spark, docs, out, run_id="r2")
    assert r1["docs_done"] + r2["docs_done"] == 40
    assert read_committed_spans(spark, out).count() == 40


def test_kill_and_resume_recovers_crashed_docs(spark, docs, tmp_path):
    """Kill-and-resume: a run crashes AFTER writing span files but
    BEFORE the lineage commit. Those docs are invisible, and the next
    resume must re-extract exactly them (the anti-join only skips
    lineage-committed docs, not orphaned ones)."""
    out = str(tmp_path / "ckpt")
    survivors = docs.filter(F.xxhash64("doc_id") % 2 == 0)
    crashed = docs.filter(F.xxhash64("doc_id") % 2 != 0)
    run_extract_with_checkpoint(spark, survivors, out, run_id="r1")
    # the crashed attempt got as far as its span write (step 2 of the
    # commit protocol) — no lineage row ever lands
    (extract_spans(crashed)
     .withColumn("partition_id", F.spark_partition_id())
     .write.parquet(f"{out}/spans/run_id=crashed"))
    assert read_committed_spans(spark, out).count() == survivors.count()

    r = run_extract_with_checkpoint(spark, docs, out, run_id="r2")
    assert r["docs_done"] == crashed.count()  # exactly the crashed docs
    committed = read_committed_spans(spark, out)
    assert committed.count() == 40
    direct = extract_spans(docs)
    joined = committed.alias("a").join(direct.alias("b"), "doc_id")
    assert joined.filter(F.col("a.spans") != F.col("b.spans")).count() == 0


def test_metrics_account_for_all_docs(spark, docs, tmp_path):
    """read_metrics is a view over the committed spans: its totals equal
    the run's summary, and a crashed (uncommitted) run has no row."""
    import os

    out = str(tmp_path / "ckpt")
    summary = run_extract_with_checkpoint(spark, docs, out, run_id="r1")
    assert not os.path.exists(f"{out}/metrics")
    (extract_spans(docs.limit(5))
     .withColumn("partition_id", F.spark_partition_id())
     .write.parquet(f"{out}/spans/run_id=crashed"))
    metrics = read_metrics(spark, out)
    assert metrics.filter(F.col("run_id") == "crashed").count() == 0
    agg = metrics.agg(F.sum("doc_count").alias("d"),
                      F.sum("span_count").alias("s")).collect()[0]
    assert agg["d"] == 40 == summary["docs_done"]
    direct_spans = (
        extract_spans(docs)
        .agg(F.sum(F.size("spans"))).collect()[0][0]
    )
    assert agg["s"] == direct_spans == summary["spans_done"]
    assert metrics.filter(F.col("text_bytes") <= 0).count() == 0
    assert metrics.dtypes == [
        ("run_id", "string"), ("partition_id", "int"),
        ("doc_count", "bigint"), ("span_count", "bigint"),
        ("text_bytes", "bigint")]


def test_metrics_count_a_twice_committed_doc_once(spark, docs, tmp_path):
    """A doc committed by two runs is visible once, under its latest
    run, in both readers: the metrics count it there and only there."""
    out = str(tmp_path / "ckpt")
    run_extract_with_checkpoint(spark, docs, out, run_id="r1")
    lineage = spark.read.parquet(f"{out}/lineage")
    twice = lineage.orderBy("doc_id").first()["doc_id"]
    # a second run's span row and lineage row for that doc, written by
    # hand; its committed_at is later than r1's
    (extract_spans(docs.filter(F.col("doc_id") == twice))
     .withColumn("partition_id", F.spark_partition_id())
     .write.parquet(f"{out}/spans/run_id=r2"))
    (lineage.filter(F.col("doc_id") == twice)
     .withColumn("run_id", F.lit("r2"))
     .withColumn("committed_at", F.current_timestamp())
     .localCheckpoint().write.mode("append").parquet(f"{out}/lineage"))

    committed = read_committed_spans(spark, out)
    assert committed.count() == 40
    per_run = {r["run_id"]: r["d"] for r in read_metrics(spark, out)
               .groupBy("run_id").agg(F.sum("doc_count").alias("d"))
               .collect()}
    assert per_run == {"r1": 39, "r2": 1}


def test_lineage_file_schema(spark, docs, tmp_path):
    """The lineage files keep their schema whether the commit reads the
    written (doc_id, partition_id) with an inferred or a given schema."""
    out = str(tmp_path / "ckpt")
    run_extract_with_checkpoint(spark, docs, out, run_id="r1")
    lineage = pq.read_table(f"{out}/lineage")
    assert lineage.schema.remove_metadata() == pa.schema([
        ("doc_id", pa.string()), ("partition_id", pa.int32()),
        pa.field("run_id", pa.string(), nullable=False),
        pa.field("committed_at", pa.timestamp("ns"), nullable=False)])
    assert lineage.num_rows == 40


def test_empty_first_run_then_commit(spark, docs, tmp_path):
    """A first run over an empty input (no lineage yet) writes and
    commits nothing visible; the next run commits normally."""
    out = str(tmp_path / "ckpt")
    r0 = run_extract_with_checkpoint(spark, docs.limit(0), out, run_id="r0")
    assert r0["docs_done"] == 0 == r0["spans_done"]
    assert read_committed_spans(spark, out).count() == 0

    r1 = run_extract_with_checkpoint(spark, docs, out, run_id="r1")
    assert r1["docs_done"] == 40
    committed = read_committed_spans(spark, out)
    assert committed.count() == 40
    assert committed.select("doc_id").distinct().count() == 40


def test_corrupt_lineage_raises(spark, docs, tmp_path):
    """An unreadable lineage table is an error, not a first run: reading
    it as missing would re-extract and re-commit every doc."""
    import os
    import shutil

    out = str(tmp_path / "ckpt")
    run_extract_with_checkpoint(spark, docs, out, run_id="r1")
    shutil.rmtree(f"{out}/lineage")
    os.makedirs(f"{out}/lineage")
    with open(f"{out}/lineage/part-00000.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        run_extract_with_checkpoint(spark, docs, out, run_id="r2")
    assert not os.path.exists(f"{out}/spans/run_id=r2")


def test_compact_checkpoint_tables(spark, docs, tmp_path):
    """Many append-y runs leave many small lineage files; the
    bin-packing pass rewrites them to few files without changing what
    readers see."""
    import os

    from stirling_pdf_spark.runtime.checkpoint import compact_small_files

    out = str(tmp_path / "ckpt")
    num = F.regexp_extract("doc_id", "([0-9]+)", 1).cast("long")
    for i in range(4):  # 4 runs of 10 docs -> 4 lineage file batches
        run_extract_with_checkpoint(spark, docs.filter(num % 4 == i), out,
                                    run_id=f"r{i}")
    before_rows = read_committed_spans(spark, out).count()
    before_metric_rows = read_metrics(spark, out).count()
    n_files = lambda p: sum(  # noqa: E731
        f.endswith(".parquet") for _, _, fs in os.walk(p) for f in fs)
    lineage_files_before = n_files(f"{out}/lineage")
    assert lineage_files_before > 1

    stats = compact_small_files(spark, f"{out}/lineage")
    assert stats["files_after"] == 1  # tiny table bin-packs to 1
    assert n_files(f"{out}/lineage") == 1 < lineage_files_before
    # reader-visible content unchanged
    assert read_committed_spans(spark, out).count() == before_rows == 40
    assert read_metrics(spark, out).count() == before_metric_rows
    # idempotent: already compact -> no-op
    again = compact_small_files(spark, f"{out}/lineage")
    assert again["files_before"] == again["files_after"]


def test_expire_orphan_runs(spark, docs, tmp_path):
    from stirling_pdf_spark.runtime.checkpoint import expire_orphan_runs

    out = str(tmp_path / "ckpt")
    run_extract_with_checkpoint(spark, docs, out, run_id="good")
    orphan = extract_spans(docs.limit(2)).withColumn(
        "partition_id", F.spark_partition_id())
    orphan.write.parquet(f"{out}/spans/run_id=crashed")
    removed = expire_orphan_runs(spark, out)
    assert removed == ["crashed"]
    assert read_committed_spans(spark, out).count() == 40
    # committed data untouched, second GC is a no-op
    assert expire_orphan_runs(spark, out) == []
