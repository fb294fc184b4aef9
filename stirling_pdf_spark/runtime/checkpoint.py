"""Idempotent, resumable extraction runs with per-partition lineage and
metrics (the north rule's checkpoint/resume + observability surface).

Storage layout under ``out_dir`` (Parquet in the sandbox; the
production analogue is an Iceberg table per dataset, where the lineage
commit below corresponds to an Iceberg snapshot commit):

    spans/run_id=<run_id>/    (doc_id, spans, partition_id)
    lineage/                  (doc_id, run_id, partition_id, committed_at)

Commit protocol — lineage is written LAST and is the commit point:
  1. pending = docs ANTI JOIN lineage ON doc_id   (resume)
  2. extract -> write spans/run_id=...            (data, not yet visible)
  3. write lineage from the written (doc_id, partition_id)   (COMMIT)
A crash between 2 and 3 leaves orphan span files that are never joined
by readers (``read_committed_spans`` inner-joins lineage), and the next
run re-extracts those docs under a new run_id — exactly-once *visible*
output with at-least-once execution, the same contract Iceberg
snapshots give.

A run_id names one commit. Re-running a crashed (never committed)
run_id replaces its orphan span files; re-using a run_id that lineage
already commits raises ValueError before anything is written, since
its span directory would be overwritten while lineage still marks its
docs as done. A run with nothing pending returns before that check, so
a replayed streaming micro-batch stays a no-op.

Per-partition metrics are not stored: ``read_metrics`` derives them
from the committed span rows, so they cannot disagree with the output
and a crashed run never shows up in them. A doc committed by more than
one run is visible once, under its latest committed run, in both
readers (``_visible``).

The reference restarts failed jobs from scratch (TaskManager /
JobExecutorService have no persistence of partial results); this module
is the scale-out replacement (SURVEY.md §4 "Idempotent resume").
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract_pipeline import extract_spans


_LINEAGE_KEYS = "doc_id string, partition_id int"


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of its Hadoop ``FileSystem`` (no
    Spark job)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(hpath)


def _try_read(spark: SparkSession, path: str) -> DataFrame | None:
    """The table at ``path``, or None when nothing exists there yet (first
    run). Asks ``_exists`` first, so a first run pays no failed read. A
    path that exists but does not read — e.g. a corrupt lineage file —
    raises: reading it as "first run" would silently re-extract every
    doc."""
    if not _exists(spark, path):
        return None
    return spark.read.parquet(path)


def pending_docs(spark: SparkSession, docs: DataFrame, out_dir: str) -> DataFrame:
    """Resume filter: drop docs already committed by any previous run;
    ``docs`` itself when nothing is committed yet. One shuffle on
    doc_id (the anti-join ignores duplicate lineage keys); at scale the
    lineage side is a bloom-filter or broadcast candidate when much
    smaller than the corpus."""
    lineage = _try_read(spark, f"{out_dir}/lineage")
    if lineage is None:
        return docs
    return docs.join(lineage.select("doc_id"), "doc_id", "left_anti")


def run_extract_with_checkpoint(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    **extract_kwargs,
) -> dict:
    """Execute one resumable extraction run. Returns a summary dict
    {run_id, docs_done, spans_done, wall_ms}; the counts are observed
    on the span write itself. Raises ValueError, before writing, when
    docs are pending and ``run_id`` is already committed under
    ``out_dir``; lineage is read for that only when the run's span
    directory exists, so a fresh run_id adds no Spark job."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()

    pending = pending_docs(spark, docs, out_dir)
    # pending is docs itself when no lineage exists: nothing is committed,
    # so nothing needs protecting. With lineage and nothing uncommitted
    # (e.g. a replayed streaming micro-batch whose lineage already
    # committed) we must NOT touch the committed span files.
    if pending is not docs and pending.isEmpty():
        return {"run_id": run_id, "docs_done": 0, "spans_done": 0,
                "wall_ms": int((time.time() - t0) * 1000)}
    span_path = f"{out_dir}/spans/run_id={run_id}"
    if _exists(spark, span_path):
        lineage = _try_read(spark, f"{out_dir}/lineage")
        if lineage is not None and not lineage.filter(
                F.col("run_id") == run_id).isEmpty():
            raise ValueError(
                f"run_id {run_id!r} is already committed under {out_dir}; "
                "re-using it would overwrite its committed spans")
    counts = Observation()
    out = (
        extract_spans(pending, **extract_kwargs)
        .withColumn("partition_id", F.spark_partition_id())
        .observe(counts, F.count(F.lit(1)).alias("docs"),
                 F.sum(F.size("spans")).alias("spans"))
    )
    # overwrite: a crashed attempt under the same run_id left orphan
    # files that lineage never committed — safe to replace
    out.write.mode("overwrite").parquet(span_path)

    # the known schema: inferring it would read the footers a second time
    (spark.read.schema(_LINEAGE_KEYS).parquet(span_path)
     .withColumn("run_id", F.lit(run_id))
     .withColumn("committed_at", F.current_timestamp())
     .write.mode("append").parquet(f"{out_dir}/lineage"))  # COMMIT

    done = counts.get
    return {
        "run_id": run_id,
        "docs_done": done["docs"],
        "spans_done": done["spans"] or 0,
        "wall_ms": int((time.time() - t0) * 1000),
    }


def _read_spans(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every span row under ``out_dir``, committed or not, with run_id."""
    return spark.read.option("basePath", f"{out_dir}/spans").parquet(
        f"{out_dir}/spans"
    )


def _visible(spark: SparkSession, out_dir: str) -> DataFrame:
    """The visible span rows: each doc's rows under its latest committed
    run. Orphans from crashed runs are excluded; if a doc was committed
    twice (re-run after a lineage-write race), the latest committed_at
    wins."""
    latest = (
        spark.read.parquet(f"{out_dir}/lineage").groupBy("doc_id")
        .agg(F.max_by("run_id", "committed_at").alias("run_id"))
    )
    return _read_spans(spark, out_dir).join(latest, ["doc_id", "run_id"])


def read_committed_spans(spark: SparkSession, out_dir: str) -> DataFrame:
    """Visible output: (doc_id, spans), one row per committed doc."""
    return _visible(spark, out_dir).select("doc_id", "spans")


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-(run_id, partition_id) docs, spans and UTF-8 text bytes of the
    visible span rows: a view, so an uncommitted (crashed) run has no
    row and a doc committed twice counts once, under its latest run."""
    return (
        _visible(spark, out_dir)
        .groupBy("run_id", "partition_id")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.size("spans")).alias("span_count"),
            F.sum(F.aggregate(
                "spans", F.lit(0).cast("long"),
                lambda acc, s: acc + F.coalesce(F.octet_length(s["text"]),
                                                F.lit(0)),
            )).alias("text_bytes"),
        )
    )


def compact_small_files(spark: SparkSession, path: str,
                        target_file_bytes: int = 128 << 20) -> dict:
    """Bin-packing rewrite of a parquet table directory — the
    small-files maintenance pass for the append-heavy lineage table
    (each run appends a handful of tiny files; after 10^4 runs
    the listing, not the data, dominates read cost — the same reason
    Iceberg ships rewrite_data_files).

    Shuffle-free: the table is read once and coalesce()d down to
    ceil(total_bytes / target_file_bytes) output files, written to a
    sibling temp dir, then swapped in. Same single-writer maintenance
    window as expire_orphan_runs — never run concurrently with an
    in-flight run. Returns {files_before, files_after, bytes}."""
    import math
    import os
    import shutil

    def parquet_files(root: str) -> list[str]:
        return [os.path.join(r, f) for r, _, fs in os.walk(root)
                for f in fs if f.endswith(".parquet")]

    if not os.path.isdir(path):
        return {"files_before": 0, "files_after": 0, "bytes": 0}
    before = parquet_files(path)
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(1, math.ceil(total / target_file_bytes))
    if len(before) <= n_out:
        return {"files_before": len(before), "files_after": len(before),
                "bytes": total}
    tmp = path + ".compact-tmp"
    old = path + ".compact-old"
    shutil.rmtree(tmp, ignore_errors=True)
    spark.read.parquet(path).coalesce(n_out).write.parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {"files_before": len(before),
            "files_after": len(parquet_files(path)), "bytes": total}


def expire_orphan_runs(spark: SparkSession, out_dir: str) -> list[str]:
    """Garbage-collect span directories whose run_id never committed to
    lineage (crashed attempts) — the analogue of Iceberg's
    remove-orphan-files maintenance. Committed data is never touched;
    returns the removed run_ids. Safe to run any time EXCEPT
    concurrently with an in-flight run (its files look orphaned until
    the lineage commit)."""
    import os
    import shutil

    spans_root = f"{out_dir}/spans"
    if not os.path.isdir(spans_root):
        return []
    lineage = _try_read(spark, f"{out_dir}/lineage")
    committed = set()
    if lineage is not None:
        committed = {
            r["run_id"] for r in lineage.select("run_id").distinct().collect()
        }
    removed = []
    for entry in os.listdir(spans_root):
        if not entry.startswith("run_id="):
            continue
        run_id = entry.split("=", 1)[1]
        if run_id not in committed:
            shutil.rmtree(os.path.join(spans_root, entry))
            removed.append(run_id)
    return removed
