"""Tests of the extraction benchmark.

    python3 -m pytest perfbench/tests -q

The correctness-check tests build a checkpoint directory with pyarrow and
need no Spark; the run tests start the benchmark at a tiny corpus size.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check  # noqa: E402

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("order", pa.int32())])
_FIELDS = ("kind", "text", "media_ref", "order")


def _docs(n: int = 12) -> dict[str, list[tuple]]:
    from stirling_pdf_spark.corpus.synth import synth_doc

    out = {}
    for i in range(n):
        doc_id, _, spans = synth_doc(i, seed=3, mega_pages=(2, 3))
        out[doc_id] = spans
    return out


def _commit(root, run_id: str, spans: dict[str, list[tuple]], minute: int) -> None:
    """Write one run the way run_extract_with_checkpoint lays it out."""
    part = root / "spans" / f"run_id={run_id}"
    part.mkdir(parents=True)
    lists = pa.array([[dict(zip(_FIELDS, s)) for s in sp] for sp in spans.values()],
                     pa.list_(_SPAN))
    pq.write_table(pa.table({"doc_id": list(spans), "spans": lists}),
                   part / "part-0.parquet")
    (root / "lineage").mkdir(exist_ok=True)
    at = dt.datetime(2024, 1, 1, 0, minute)
    pq.write_table(pa.table({"doc_id": list(spans),
                             "run_id": [run_id] * len(spans),
                             "committed_at": [at] * len(spans)}),
                   root / "lineage" / f"part-{run_id}.parquet")


@pytest.fixture(scope="module")
def expected():
    return check.expected_spans(_docs())


def test_clean_output_passes(tmp_path, expected):
    _commit(tmp_path, "r1", expected, 0)
    table, runs = check.committed_table(str(tmp_path))
    assert check.same_spans(table, check.spans_table(expected))
    assert check.compare(check.as_dict(table), expected) == []
    assert set(runs.values()) == {"r1"}


def test_corrupted_span_is_caught(tmp_path, expected):
    bad = {d: list(s) for d, s in expected.items()}
    doc = next(d for d, s in bad.items() if len(s) > 3)
    kind, text, ref, order = bad[doc][2]
    bad[doc][2] = (kind, text + "x", ref, order)
    _commit(tmp_path, "r1", bad, 0)
    table, _ = check.committed_table(str(tmp_path))
    assert not check.same_spans(table, check.spans_table(expected))
    problems = check.compare(check.as_dict(table), expected)
    assert len(problems) == 1 and problems[0].startswith(f"{doc}: span 2")


def test_reordered_and_missing_docs_are_caught(tmp_path, expected):
    bad = {d: list(s) for d, s in expected.items()}
    doc = next(d for d, s in bad.items() if len(s) > 3)
    bad[doc] = [s[:3] + (len(bad[doc]) - 1 - s[3],) for s in bad[doc]]
    dropped = sorted(bad)[-1]
    del bad[dropped]
    _commit(tmp_path, "r1", bad, 0)
    problems = check.compare(check.read_committed(str(tmp_path))[0], expected)
    assert any(dropped in p for p in problems)
    assert any(p.startswith(doc) for p in problems)


def test_latest_commit_wins(tmp_path, expected):
    stale = {d: s[:-1] for d, s in expected.items()}
    _commit(tmp_path, "old", stale, 0)
    _commit(tmp_path, "new", expected, 5)
    committed, runs = check.read_committed(str(tmp_path))
    assert check.compare(committed, expected) == []
    assert set(runs.values()) == {"new"}


# --- whole runs -----------------------------------------------------------

def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, list[str]]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


@pytest.mark.parametrize("workload", ["mixed", "mega", "resume"])
def test_tiny_run_prints_every_end_to_end_metric(workload):
    res, lines = _result(_run(ROOT, "--workload", workload, "--seed", "1",
                              "--seconds", "1", "--trace", "0",
                              "--scale", "0.05"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == spec
    printed = {ln.split()[1] for ln in lines if ln.startswith("metric ")}
    assert printed >= set(spec) | {"fail_frac"}
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload,mega", [("mixed", False), ("mega", True)])
def test_tiny_traced_run_prints_every_layer_metric(workload, mega):
    res, _ = _result(_run(ROOT, "--workload", workload, "--seed", "1",
                          "--seconds", "1", "--trace", "1", "--scale", "0.1"))
    assert res["correct"]
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    metrics = res["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == spec
    assert (metrics["extract_pipeline.mega_docs"]["value"] > 0) == mega
    assert metrics["kernel.spans_in"]["value"] > 0
    assert metrics["spark.stages"]["value"] > 0
    assert metrics["extract_pipeline.python_bytes_sent"]["value"] > 0


def test_run_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = _run(str(tmp_path), "--workload", "mixed", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
