"""Python worker daemon of traced benchmark runs.

Spark starts it as ``spark.python.daemon.module``. It installs the layer
wrappers of ``perfbench.tracer`` and then runs pyspark's own daemon, so
every worker it forks records spans into ``$PERFBENCH_TRACE_DIR``.
"""

import os

from perfbench import tracer

tracer.install_worker(os.environ["PERFBENCH_TRACE_DIR"])

from pyspark import daemon  # noqa: E402  (after the wrappers are in place)

if __name__ == "__main__":
    daemon.manager()
