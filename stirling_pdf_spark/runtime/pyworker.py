"""Python worker daemon of ``session.get_spark`` sessions.

Spark starts it as ``spark.python.daemon.module`` with its own archives
(``pyspark.zip``, the py4j zip, the spark-core jar) first on ``sys.path``.
pyspark invalidates the import caches once per task, and on Python 3.11
that makes every zipimporter re-read its archive's central directory. The
daemon drops the archives before importing pyspark, so the workers it
forks import pyspark from its installed directory and the per-task
invalidation is nearly free. Without an installed pyspark the archives
stay, as in pyspark's own daemon.
"""

import importlib.util
import os
import sys


def strip_archives(find_spec=importlib.util.find_spec) -> list[str]:
    """Remove the archive (file) entries of ``sys.path`` and their cached
    importers, unless ``pyspark`` is then not found; returns the entries
    removed."""
    saved = list(sys.path)
    archives = [p for p in saved if os.path.isfile(p)]
    sys.path[:] = [p for p in saved if p not in archives]
    if find_spec("pyspark") is None:
        sys.path[:] = saved
        return []
    for p in archives:
        sys.path_importer_cache.pop(p, None)
    return archives


if __name__ == "__main__":
    strip_archives()
    from pyspark import daemon

    daemon.manager()
