"""The Python worker daemon of ``get_spark`` sessions (``runtime.pyworker``)."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa

from stirling_pdf_spark.runtime import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_pyspark_from_a_directory(spark):
    def _bootstrap(batches):
        import zipimport

        import pyspark
        from pyspark import SparkFiles

        # py-files added with ``addPyFile`` live in the SparkFiles
        # directory; only the archives the daemon started with must be gone
        files = SparkFiles.getRootDirectory()
        archives = [p for p in sys.path if os.path.isfile(p) and not p.startswith(files)]
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter) and not k.startswith(files)]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "archives": [archives], "pyspark": [pyspark.__file__], "zips": [len(zips)]})

    row = spark.range(1, numPartitions=1).mapInArrow(
        _bootstrap, "archives array<string>, pyspark string, zips long").first()
    assert row["archives"] == []
    assert os.path.isdir(os.path.dirname(row["pyspark"]))
    assert row["zips"] == 0


def test_archives_stripped_when_pyspark_found(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    archive.write_bytes(b"")
    monkeypatch.setattr(sys, "path", [str(tmp_path), str(archive), "/no/such/dir"])
    monkeypatch.setattr(sys, "path_importer_cache", {str(archive): object()})
    assert pyworker.strip_archives(find_spec=lambda name: object()) == [str(archive)]
    assert sys.path == [str(tmp_path), "/no/such/dir"]
    assert sys.path_importer_cache == {}


def test_archives_restored_when_pyspark_missing(tmp_path, monkeypatch):
    archive = tmp_path / "pyspark.zip"
    archive.write_bytes(b"")
    path = [str(archive), str(tmp_path)]
    cache = {str(archive): object()}
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    assert pyworker.strip_archives(find_spec=lambda name: None) == []
    assert sys.path == path
    assert sys.path_importer_cache == cache


def test_daemon_module_imports_nothing_before_the_strip():
    # ``python -m`` imports the parent packages first; a pyspark import
    # there would come from the archives the daemon is about to drop
    code = "import sys, stirling_pdf_spark.runtime.pyworker; print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j', 'pyarrow')))"
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]"
