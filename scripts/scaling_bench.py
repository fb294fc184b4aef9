"""Throughput scaling evidence for the north rule's N vs 4N criterion.

Without a real cluster, the same north-rule job runs at two local
parallelism levels — local[1] (N) and local[nproc] (4N on a 4-vCPU
host) — over the SAME materialized corpus, each run in a fresh JVM
(subprocess). Levels are interleaved across rounds and the min is
taken, because a shared host shows up-to-1.5x run-to-run noise. Timed
region = one ``run_extract_with_checkpoint`` into a fresh output
directory: resume filter, extraction, span sink and lineage commit (no
JVM startup, no warm-up).

Efficiency = (docs_per_sec_high / docs_per_sec_low) / (high / low); the
rule requires >= 0.8. The Karp-Flatt serial fraction
e = (1/S - 1/p) / (1 - 1/p), with S the speedup and p = high / low, is
the share of the job that did not parallelise (per-job stages, driver
round trips, the commit). Record results in BENCH.md by hand.

Usage: python scripts/scaling_bench.py [--n-docs 6000] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".scaling_work")

_JOB = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
from stirling_pdf_spark.session import get_spark
from stirling_pdf_spark.runtime.checkpoint import run_extract_with_checkpoint
spark = get_spark("scaling", cores={cores})
docs = spark.read.parquet({corpus!r})
work = tempfile.mkdtemp(dir={work!r})
# warm-up: JIT, Python worker fork, Arrow codepaths (small slice)
run_extract_with_checkpoint(spark, docs.limit(512), f"{{work}}/warm")
results = []
for i in range({runs}):
    t0 = time.time()
    run_extract_with_checkpoint(spark, docs, f"{{work}}/run{{i}}")
    results.append(time.time() - t0)
n_docs = docs.count()
shutil.rmtree(work)
print("RESULT " + json.dumps({{"cores": {cores}, "n_docs": n_docs,
                               "secs": results}}))
spark.stop()
"""


def run_level(cores: int, corpus: str, runs: int) -> dict:
    code = _JOB.format(repo=REPO, work=WORK, cores=cores, corpus=corpus,
                       runs=runs)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=3600)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT from cores={cores}:\n{out.stdout[-2000:]}"
                       f"\n{out.stderr[-2000:]}")


def run_levels_interleaved(levels: tuple, corpus: str, rounds: int) -> dict:
    """One fresh-JVM run per (round, level), levels interleaved within a
    round so shared-host noise biases every level equally; min over
    rounds approximates the quiet machine."""
    secs: dict[int, list] = {c: [] for c in levels}
    n_docs = 0
    for _ in range(rounds):
        for cores in levels:
            r = run_level(cores, corpus, 1)
            secs[cores].extend(r["secs"])
            n_docs = r["n_docs"]
    return {c: {"secs": [round(s, 2) for s in secs[c]],
                "best_s": round(min(secs[c]), 2),
                "docs_per_sec": round(n_docs / min(secs[c]), 1),
                "n_docs": n_docs} for c in levels}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=6000)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    low, high = 1, len(os.sched_getaffinity(0))
    if high == low:
        sys.exit("needs at least 2 usable CPUs to compare two levels")
    corpus = os.path.join(WORK, f"corpus-{args.n_docs}.parquet")
    os.makedirs(WORK, exist_ok=True)

    if not os.path.exists(corpus):
        code = f"""
import sys; sys.path.insert(0, {REPO!r})
from stirling_pdf_spark.session import get_spark
from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
spark = get_spark("synth", cores={high})
synth_docs_df(spark, {args.n_docs}, seed=42, mega_pages=(300, 400),
              num_partitions={high * 4}).write.parquet({corpus!r})
spark.stop()
"""
        subprocess.run([sys.executable, "-c", code], check=True, timeout=1800,
                       capture_output=True, text=True)

    levels = run_levels_interleaved((low, high), corpus, args.runs)
    for cores, lv in levels.items():
        print(f"local[{cores}]: {lv}")

    p = high / low
    speedup = levels[high]["docs_per_sec"] / levels[low]["docs_per_sec"]
    summary = {"levels": levels,
               f"scaling_efficiency_{low}_to_{high}": round(speedup / p, 3),
               "serial_fraction": round((1 / speedup - 1 / p) / (1 - 1 / p), 3)}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
