"""The north-rule job in its deployment shape: ``spark-submit`` of
``scripts/run_extract_job.py`` onto two executor JVMs
(``local-cluster``), with the package shipped by ``--py-files``. The
job must keep the submitted master (``get_spark`` sets ``local[cores]``
only when it launches the JVM itself), and the spans it commits, read
back with pyarrow, must equal ``extract_doc`` of every synthetic doc."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pyspark

from stirling_pdf_spark.corpus.synth import synth_doc
from stirling_pdf_spark.kernel import extract_doc
from stirling_pdf_spark.session import package_zip

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS = 200
MASTER = "local-cluster[2,1,1024]"


def test_submitted_job_keeps_master_and_matches_extract_doc(tmp_path):
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = tmp_path / "out"
    proc = subprocess.run(
        [submit, "--master", MASTER, "--py-files", package_zip(),
         os.path.join(_ROOT, "scripts", "run_extract_job.py"),
         "--synth-docs", str(N_DOCS), "--out", str(out), "--run-id", "r1"],
        cwd=tmp_path, env=dict(os.environ, PYSPARK_PYTHON=sys.executable),
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["master"] == MASTER
    assert summary["docs_done"] == N_DOCS

    spans = pq.read_table(out / "spans", columns=["doc_id", "spans"]).to_pylist()
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                         for s in r["spans"]] for r in spans}
    assert len(got) == len(spans) == N_DOCS
    for i in range(N_DOCS):
        doc_id, _, raw = synth_doc(i)
        assert got[doc_id] == [tuple(s) for s in extract_doc(raw)], doc_id
