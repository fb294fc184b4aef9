from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# Bound the driver heap of the one session-wide JVM. At the session
# default (48g) it grows until the host runs out before collecting: over
# the full suite on a 4-core, 15 GB host it reached ~15 GB RSS and was
# OOM-killed; at 6g the suite passes with a ~5 GB peak.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

from stirling_pdf_spark.runtime.staging import release_staged  # noqa: E402
from stirling_pdf_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_SF_CORRECTNESS", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def shuffle_partitions(spark):
    """``with shuffle_partitions(n):`` runs its block at
    ``spark.sql.shuffle.partitions`` = n with AQE coalescing off, so a
    range or hash shuffle in it really has n partitions; both settings
    are restored after. Staged frames are released on entry and exit:
    a plan staged at another partition count would otherwise be read
    from the cache."""
    @contextlib.contextmanager
    def at(n: int):
        conf = {"spark.sql.shuffle.partitions": str(n),
                "spark.sql.adaptive.coalescePartitions.enabled": "false"}
        old = {k: spark.conf.get(k) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            release_staged()
            yield
        finally:
            release_staged()
            for k, v in old.items():
                spark.conf.set(k, v)
    return at


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS
