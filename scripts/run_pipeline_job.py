"""spark-submit entry point for the LLM training-corpus build — the
deployment shape of the composed pipeline (each stage the gated
operator):

    spark-submit --py-files $(python -c 'import sys; sys.path.insert(0,".");
        from stirling_pdf_spark.session import package_zip; print(package_zip())') \
        scripts/run_pipeline_job.py \
        --input /root/testdata/sf0.01 --out /tmp/corpus_out --no-quality

Stages (each individually oracle-gated in __spark_entry__):
Gopher quality (optional — the SYNTHETIC corpus carries no English
stopwords, so the stop rule rejects every raw doc; real corpora keep
it on) -> first-occurrence exact dedup -> train hash-slice ->
512-token sequence packing, written as partitioned parquet plus a
JSONL sidecar of the surviving documents. Prints one JSON summary
line. On a real cluster whose executor image has the package installed
(below), the same invocation works with --master yarn/k8s at N or 4N
executors.

Workers of a ``get_spark`` session import the package from its source
directory: the session puts the package root on the executors'
PYTHONPATH and starts them through the ``stirling_pdf_spark.runtime.pyworker``
daemon. On a cluster, install the package in the executor image: the
daemon module has to be importable when the daemon starts, and
``--py-files`` only reaches tasks. Locally the ``--py-files`` archive
is not needed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="sf dir containing documents.parquet")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seq-len", type=int, default=512)
    ap.add_argument("--no-quality", action="store_true",
                    help="skip the Gopher stage (synthetic corpora have "
                         "no stopwords and would be emptied by it)")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from stirling_pdf_spark.operators.packing import pack_sequences
    from stirling_pdf_spark.operators.serialize import hash_split, to_jsonl
    from stirling_pdf_spark.operators.textstats import gopher_quality_filter
    from stirling_pdf_spark.session import get_spark
    from stirling_pdf_spark.sources.tables import read_table

    spark = get_spark("pipeline_job", cores=args.cores)
    t0 = time.time()
    docs = read_table(spark, args.input, "documents") \
        .select("doc_id", "text")
    n_in = docs.count()

    base = docs
    if not args.no_quality:
        kept = (gopher_quality_filter(base)
                .filter(F.col("keep") == 1)
                .select(F.col("id").alias("doc_id")))
        base = base.join(kept, "doc_id")
    firsts = base.groupBy(
        F.md5(F.col("text").cast("binary")).alias("h")
    ).agg(F.min("doc_id").alias("doc_id"))
    dd = base.join(firsts.select("doc_id"), "doc_id")
    train = (hash_split(dd).filter(F.col("split") == "train")
             .select("doc_id"))
    final = dd.join(train, "doc_id")

    packed = pack_sequences(final, seq_len=args.seq_len)
    packed.write.mode("overwrite").parquet(f"{args.out}/packed")

    back = spark.read.parquet(f"{args.out}/packed")
    survivors = back.select("doc_id").distinct()
    to_jsonl(docs.join(survivors, "doc_id")) \
        .select("line").write.mode("overwrite").text(f"{args.out}/jsonl")

    stats = back.agg(
        F.countDistinct("doc_id").alias("docs"),
        F.countDistinct("seq_id").alias("sequences"),
        F.sum("n_in_seq").alias("tokens"),
    ).collect()[0]
    print(json.dumps({
        "docs_in": n_in,
        "docs_packed": int(stats["docs"] or 0),
        "sequences": int(stats["sequences"] or 0),
        "tokens": int(stats["tokens"] or 0),
        "seq_len": args.seq_len,
        "quality_stage": not args.no_quality,
        "wall_sec": round(time.time() - t0, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
