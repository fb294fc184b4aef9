"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what the 1000-executor deployment would set
per-executor: AQE on (runtime re-plan + skew-join splitting), shuffle
partitions ~ cores (not the 200 default), Arrow enabled and its batch
size bounded for the Arrow stages (``extract_pipeline``), UTC session
TZ so results compare bit-for-bit against the DuckDB oracle.

The master (``local[cores]``) and the driver heap are set only when
this process launches the JVM. Under ``spark-submit`` the launcher has
already started it with its own ``--master`` and ``--driver-memory``,
and pyspark finds it through ``PYSPARK_GATEWAY_PORT``: a master set
here would override the submitted one, and a driver heap set here
would do nothing.

Python workers import this package from its source directory: the
session puts the package root on the executors' ``PYTHONPATH`` and starts
them through ``runtime.pyworker``, which also keeps pyspark's per-task
import-cache reset cheap. ``package_zip`` builds the ``--py-files``
archive for sessions this module did not create.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def package_zip() -> str:
    """Zip this package for worker distribution — the local-mode
    equivalent of ``spark-submit --py-files`` (north rule deployment
    shape). Cached per process."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "stirling_pdf_spark_pyfiles.zip")
    if not os.path.exists(out) or any(
        os.path.getmtime(os.path.join(root, f)) > os.path.getmtime(out)
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    ):
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
        os.replace(tmp, out)
    return out


def get_spark(app_name: str = "stirling_pdf_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batch size so mega-doc span arrays can't blow the
        # Python worker (the reference's small-file/DPI OOM guards,
        # PdfUtils.java:140-154, map to this knob)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # workers import the package from its directory, through the
        # archive-free daemon (see module docstring)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.python.daemon.module", "stirling_pdf_spark.runtime.pyworker")
    )
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cores}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
