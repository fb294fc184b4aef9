"""Session-scoped lifecycle for staged (persisted) intermediates.

Operators that persist an intermediate shared by several consumers
(e.g. the minhash inverted index) register the
frame here instead of leaking it to the ContextCleaner: a long-lived
session running many queries calls ``release_staged()`` between
queries (bench.py / scripts/check_queries.py do) and the memory store
stays flat. Registration is idempotent per frame; releasing twice is a
no-op.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_STAGED: list[DataFrame] = []


def stage(df: DataFrame,
          level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """Persist ``df`` and register it for a later ``release_staged()``."""
    df = df.persist(level)
    _STAGED.append(df)
    return df


def release_staged() -> int:
    """Unpersist every staged frame (blocking=False). Returns the
    number released. Safe to call with queries still defined against
    the frames — Spark recomputes them on next use."""
    n = 0
    while _STAGED:
        df = _STAGED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    return n
