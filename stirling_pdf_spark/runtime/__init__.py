"""Runtime: metrics, lineage, resume, the Python worker daemon."""
