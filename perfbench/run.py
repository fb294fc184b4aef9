"""North-rule extraction benchmark.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 10 --trace 0

Runs the north-rule job (parquet docs -> ``extract_spans`` ->
``run_extract_with_checkpoint`` sink) in one driver at ``local[nproc]``,
closed loop: one job at a time, the next starts when the previous one has
committed its lineage. Every job's committed output is checked against the
in-process kernel (``check.py``). Inputs come from ``--seed`` only.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced variant (``tracer.py``, event log on) and reports per-layer
metrics. Every metric is printed as ``metric <name> <value> <unit>``; the
last line of stdout is one JSON object {correct, attempted, failed,
metrics}. Everything the run writes stays under ``.perfbench_work/`` of
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


@dataclass(frozen=True)
class Workload:
    n_docs: int
    mega_pages: tuple[int, int]
    resume: bool    # half the corpus is committed before each job


# BENCHMARK.json records why mixed and mega were chosen. resume exercises
# the sink as read-beside-write (lineage read, anti-join, append); it runs
# on request and is not listed there, so that the repeated runs of the
# listed workloads stay within the benchmark's time budget.
WORKLOADS = {
    "mixed": Workload(700, (300, 400), False),
    "mega": Workload(250, (1000, 1500), False),
    "resume": Workload(700, (300, 400), True),
}
SETUP_REPS = 3
JOB_S = 4.0             # nominal wall time of one job at local[4]
ROUND_S = 20.0          # nominal wall time of one traced round
DEADLINE_S = 150.0      # stop measuring past this much wall time


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help=f"measuring time; a plain run times round(seconds / "
                         f"{JOB_S:g}) jobs, a traced run round(seconds / "
                         f"{ROUND_S:g}) rounds (at least one)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (tests use a tiny one)")
    return ap.parse_args(argv)


def _prepare_env(run_dir: str, trace_dir: str | None) -> None:
    """Confine every file the driver, the JVM and the workers write to
    ``run_dir``; must run before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if trace_dir is not None:
        os.environ["PERFBENCH_TRACE_DIR"] = trace_dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _host(nproc: int) -> dict:
    import platform

    import pyarrow
    import pyspark

    return {"nproc": nproc, "loadavg_start": list(os.getloadavg()),
            "cpu_jiffies_start": _cpu_jiffies(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def main(argv=None) -> int:
    args = _parse(argv)
    wl = WORKLOADS[args.workload]
    n_docs = max(20, round(wl.n_docs * args.scale))
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        WORK, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    trace_dir = os.path.join(run_dir, "trace") if args.trace else None
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir, trace_dir)
    if trace_dir:
        os.makedirs(trace_dir)
    sys.path.insert(0, ROOT)
    host = _host(nproc)

    from perfbench.bench import Bench  # imports the engine

    bench = Bench(run_dir, nproc, wl, n_docs, args.seed, trace_dir)
    try:
        if args.trace:
            n_rounds = max(1, round(args.seconds / ROUND_S))
            metrics, units = bench.run_traced(n_rounds, DEADLINE_S)
        else:
            n_jobs = max(1, round(args.seconds / JOB_S))
            metrics, units = bench.run_plain(n_jobs, DEADLINE_S, SETUP_REPS)
    finally:
        bench.close()
        if trace_dir:
            keep = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            shutil.copytree(trace_dir, keep)
        shutil.rmtree(run_dir, ignore_errors=True)

    host["loadavg_end"] = list(os.getloadavg())
    (steal0, total0), (steal1, total1) = host.pop("cpu_jiffies_start"), _cpu_jiffies()
    host["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    print("host " + json.dumps(host))
    print(f"workload {args.workload} seed {args.seed} docs {bench.n_corpus} "
          f"raw_spans {bench.raw_total} jobs {bench.attempted} "
          f"failed {bench.failed}")
    print("phases_s " + json.dumps(bench.phases))
    print("setup_reps_s " + json.dumps(bench.setup_reps))
    print("job_walls_s " + json.dumps(bench.job_walls))
    for problem in bench.problems:
        print("problem " + problem)
    fail_frac = bench.failed / bench.attempted
    print(f"metric fail_frac {fail_frac} ratio")
    for name, value in metrics.items():
        print(f"metric {name} {value} {units[name]}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
