"""spark-submit entry point for the extraction pipeline (north rule
deployment shape):

    spark-submit --py-files $(python -c 'import sys; sys.path.insert(0,".");
        from stirling_pdf_spark.session import package_zip; print(package_zip())') \
        scripts/run_extract_job.py \
        --input /root/testdata/sf0.01 --out /tmp/extract_out --run-id r1

spark-submit's --master and --driver-memory are kept (the session
factory builds local[--cores] only when it launches the JVM itself, as
under plain ``python``), and the summary JSON reports the master the
job ran on. tests/test_spark_submit.py runs this script on
local-cluster[2,1,1024]; a yarn/k8s master is untested here and needs
an executor image with the package installed (below).
The job is resumable: re-running with the same --out skips committed
docs (see runtime/checkpoint.py).

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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="sf dir (documents.parquet); required unless --synth-docs")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--synth-docs", type=int, default=0,
                    help="if >0, synthesize this many docs instead of reading")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from stirling_pdf_spark.corpus.spark_synth import (
        docs_from_documents_table, synth_docs_df,
    )
    from stirling_pdf_spark.runtime.checkpoint import run_extract_with_checkpoint
    from stirling_pdf_spark.session import get_spark

    spark = get_spark("extract_job", cores=args.cores)
    if args.synth_docs > 0:
        docs = synth_docs_df(spark, args.synth_docs)
    elif args.input:
        docs = docs_from_documents_table(spark, args.input)
    else:
        ap.error("one of --input or --synth-docs is required")
    summary = run_extract_with_checkpoint(spark, docs, args.out,
                                          run_id=args.run_id)
    summary["master"] = spark.sparkContext.master
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
