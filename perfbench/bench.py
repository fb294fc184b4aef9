"""Set-up, jobs and measurement of the extraction benchmark."""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import signal
import statistics
import threading
import traceback
from time import perf_counter, sleep, monotonic

from pyspark.sql import functions as F

from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
from stirling_pdf_spark.corpus.synth import ARCHETYPES
from stirling_pdf_spark.operators import extract_pipeline as ep
from stirling_pdf_spark.runtime import checkpoint as ck
from stirling_pdf_spark.session import get_spark
from stirling_pdf_spark.sources.tables import read_docs

from perfbench import check, eventlog, tracer

E2E_UNITS = {"setup_s": "s", "job_s": "s", "docs_per_s": "1/s",
             "raw_spans_per_s": "1/s", "ok_frac": "ratio",
             "worker_rss_mb": "MB"}


def _archetype(idx: int, seed: int, total: int) -> str:
    """The archetype ``corpus.synth`` draws for doc ``idx`` (a hash of seed
    and index). Only used to choose indices: if the generator draws
    differently, the corpus keeps its size and loses its exact mix."""
    h = int(hashlib.sha256(f"{seed}:{idx}".encode()).hexdigest()[:8], 16) % total
    for name, w in ARCHETYPES:
        if h < w:
            return name
        h -= w
    return ARCHETYPES[0][0]


def _median(values):
    return statistics.median(values) if values else 0.0


class WorkerRss:
    """Peak summed RSS of the Python processes below this one (Spark's
    worker daemon and its forked workers), sampled from a thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample_mb(self) -> float:
        total = 0
        table = _proc_table()
        for pid in _descendants(table):
            if not table[pid][1].startswith("python"):
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1])
            except OSError:
                continue
        return total * self._page / 1e6

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.sample_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self.peak_mb = self.sample_mb()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self.sample_mb())


class Bench:
    def __init__(self, run_dir: str, nproc: int, workload, n_docs: int,
                 seed: int, trace_dir: str | None):
        self.run_dir = run_dir
        self.nproc = nproc
        self.wl = workload
        self.n_docs = n_docs
        self.seed = seed
        self.trace_dir = trace_dir
        self.docs_path = os.path.join(run_dir, "docs.parquet")
        self.base_out = os.path.join(run_dir, "committed-half")
        self.out = os.path.join(run_dir, "out")
        self.log_dir = os.path.join(run_dir, "eventlog")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.n_corpus = 0
        self.raw_total = 0
        self._jobs = 0
        self.phases: dict[str, float] = {}
        self.job_walls: list[float] = []
        self.setup_reps: list[float] = []

    # --- session and corpus -------------------------------------------

    def _start(self) -> None:
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse")}
        if self.trace_dir:
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.python.daemon.module": "perfbench.trace_daemon",
            })
        self.spark = get_spark("perfbench", cores=self.nproc, extra_conf=conf)

    def _corpus_indices(self) -> list[int]:
        """Generator indices of the corpus: the first docs of each archetype
        up to its share of n_docs, so every seed gets the same mix (and the
        same mega-doc count)."""
        total = sum(w for _, w in ARCHETYPES)
        left = {name: max(1, round(self.n_docs * w / total))
                for name, w in ARCHETYPES}
        picked, idx = [], 0
        while any(left.values()) and idx < 4 * self.n_docs:
            arch = _archetype(idx, self.seed, total)
            if left.get(arch):
                left[arch] -= 1
                picked.append(idx)
            idx += 1
        return picked

    def _write_corpus(self) -> None:
        picked = self._corpus_indices()
        idx = F.regexp_extract("doc_id", r"-(\d+)$", 1).cast("long")
        (synth_docs_df(self.spark, picked[-1] + 1, seed=self.seed,
                       mega_pages=self.wl.mega_pages,
                       num_partitions=2 * self.nproc)
         .filter(idx.isin(picked))
         .write.mode("overwrite").parquet(self.docs_path))

    def _committed_half(self, doc_ids: list[str]) -> list[str]:
        """Every other doc of each archetype, in doc_id order."""
        by_arch: dict[str, list[str]] = {}
        for d in sorted(doc_ids):
            by_arch.setdefault(d.rsplit("-", 1)[0], []).append(d)
        return [d for ds in by_arch.values() for d in ds[::2]]

    def _setup(self) -> None:
        """Session start and corpus generation. Warming up (Python
        workers, JIT) is left to ``_warm_up``, run once per run."""
        t0 = perf_counter()
        shutil.rmtree(self.docs_path, ignore_errors=True)
        self._start()
        self._phase("session", t0)
        t0 = perf_counter()
        self._write_corpus()
        self._phase("corpus", t0)

    def _prepare(self) -> None:
        """Untimed: read the corpus back and, for a resume workload, commit
        half of it to the directory each job starts from."""
        self.raw = check.read_docs(self.docs_path)
        self.raw_counts = {d: len(s) for d, s in self.raw.items()}
        self.n_corpus = len(self.raw)
        self.raw_total = sum(self.raw_counts.values())
        self.n_pending = self.n_corpus
        if self.wl.resume:
            half = self._committed_half(list(self.raw))
            self.n_pending -= len(half)
            shutil.rmtree(self.base_out, ignore_errors=True)
            self._tag("base", False)
            ck.run_extract_with_checkpoint(
                self.spark,
                read_docs(self.spark, self.docs_path)
                .filter(F.col("doc_id").isin(half)),
                self.base_out, run_id="base")

    def _warm_up(self) -> None:
        """Untimed: one job to warm the JVM and the Python workers, run
        while a thread computes the expected output with the in-process
        kernel; the job is checked once the thread is done."""
        expected = {}
        thread = threading.Thread(
            target=lambda: expected.update(check.expected_spans(self.raw)))
        thread.start()
        try:
            job_id = self._next_id()
            ran = self._run(job_id)
        finally:
            thread.join()
        self.expected = expected
        self.expected_table = check.spans_table(expected)
        self._check(job_id, ran)

    # --- jobs -----------------------------------------------------------

    def _tag(self, job_id: str, traced: bool) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup(job_id, job_id)
        sc.setLocalProperty(tracer.TRACE_PROPERTY, "1" if traced else "0")

    def _reset_out(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        if self.wl.resume:
            shutil.copytree(self.base_out, self.out)

    def _run(self, job_id: str, traced: bool = False,
             rss: WorkerRss | None = None):
        """One job on a freshly reset output directory. Returns (wall
        seconds, summary), or None when the job raised."""
        self._reset_out()
        self._tag(job_id, traced)
        self.attempted += 1
        driver = tracer.recorder() if traced else None
        if driver:
            driver.job = job_id
            span = driver.begin("job")
        try:
            with rss or contextlib.nullcontext():
                t0 = perf_counter()
                summary = ck.run_extract_with_checkpoint(
                    self.spark, read_docs(self.spark, self.docs_path),
                    self.out, run_id=job_id)
                return perf_counter() - t0, summary
        except Exception:  # a failed job is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"{job_id}: raised "
                                 + traceback.format_exc().strip().splitlines()[-1])
            return None
        finally:
            if driver:
                driver.end(span)

    def _check(self, job_id: str, ran):
        """Check the committed output of a job ``_run`` returned. Returns
        (wall seconds, docs committed, raw spans committed), or None when
        the job raised or its output failed the check."""
        if ran is None:
            return None
        wall, summary = ran
        t0 = perf_counter()
        committed, runs = check.committed_table(self.out)
        problems = ([] if check.same_spans(committed, self.expected_table)
                    else check.compare(check.as_dict(committed), self.expected))
        done = [d for d, r in runs.items() if r == job_id]
        if len(done) != self.n_pending or summary["docs_done"] != len(done):
            problems.append(f"{len(done)} docs committed by the job, "
                            f"summary says {summary['docs_done']}, "
                            f"{self.n_pending} pending")
        self._phase("check", t0)
        if problems:
            self.failed += 1
            self.problems.extend(f"{job_id}: {p}" for p in problems)
            return None
        return wall, len(done), sum(self.raw_counts[d] for d in done)

    def _job(self, job_id: str, traced: bool = False,
             rss: WorkerRss | None = None):
        return self._check(job_id, self._run(job_id, traced, rss))

    def _noop(self, job_id: str, df) -> float:
        self._tag(job_id, False)
        t0 = perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return perf_counter() - t0

    # --- runs -------------------------------------------------------------

    def _phase(self, name: str, t0: float) -> None:
        self.phases[name] = round(self.phases.get(name, 0.0)
                                  + perf_counter() - t0, 3)

    def run_plain(self, n_jobs: int, deadline: float, setup_reps: int):
        start = monotonic()
        setups = []
        for _ in range(setup_reps):
            t0 = perf_counter()
            self._setup()
            setups.append(perf_counter() - t0)
        self.setup_reps = [round(x, 3) for x in setups]
        t0 = perf_counter()
        self._prepare()
        self._phase("prepare", t0)
        t0 = perf_counter()
        self._warm_up()
        self._phase("warm_up", t0)
        walls, docs_rate, span_rate, rss_peaks = [], [], [], []
        rss = WorkerRss()
        for _ in range(n_jobs):
            if monotonic() - start > deadline:
                self.problems.append(f"deadline: {len(walls)} jobs timed")
                break
            res = self._job(self._next_id(), rss=rss)
            if res is None:
                continue
            wall, docs, spans = res
            walls.append(wall)
            self.job_walls.append(round(wall, 3))
            docs_rate.append(docs / wall)
            span_rate.append(spans / wall)
            rss_peaks.append(rss.peak_mb)
        metrics = {
            "setup_s": _median(setups),
            "job_s": _median(walls),
            "docs_per_s": _median(docs_rate),
            "raw_spans_per_s": _median(span_rate),
            "ok_frac": (self.attempted - self.failed) / max(1, self.attempted),
            "worker_rss_mb": _median(rss_peaks),
        }
        return metrics, E2E_UNITS

    def run_traced(self, n_rounds: int, deadline: float):
        start = monotonic()
        driver = tracer.install_driver(self.trace_dir)
        self._setup()
        self._prepare()
        self._warm_up()
        rounds = [self._traced_round(0)]
        while len(rounds) < n_rounds and monotonic() - start < deadline:
            rounds.append(self._traced_round(len(rounds)))
        driver.flush()
        self._stop_session()
        counters = eventlog.job_counters(self.log_dir)
        spans = tracer.load_spans(self.trace_dir)
        return layer_metrics(rounds, counters, spans, self.n_corpus,
                             self.n_pending)

    def _traced_round(self, r: int) -> dict:
        n_parts = self.spark.sparkContext.defaultParallelism * 2
        self._reset_out()

        def source():
            docs = read_docs(self.spark, self.docs_path)
            return ck.pending_docs(self.spark, docs, self.out) if self.wl.resume else docs

        small = source().filter(F.size("spans") <= ep.DEFAULT_SALT_THRESHOLD)
        if hasattr(ep, "_extract_small"):
            small = (small.repartition(n_parts, "doc_id")
                     .mapInArrow(ep._extract_small, ep.SPANS_OUT_SCHEMA))
        else:
            small = ep.extract_spans(small)
        iso = {
            "scan": self._noop(f"scan-{r}", read_docs(self.spark, self.docs_path)),
            "small": self._noop(f"small-{r}", small),
            "extract": self._noop(f"extract-{r}", ep.extract_spans(source())),
        }
        plain = self._job(f"untraced-{r}")
        before = _files(self.base_out) if self.wl.resume else {}
        traced = self._job(f"traced-{r}", traced=True)
        new = {p: n for p, n in _files(self.out).items() if p not in before}
        return {"r": r, "iso": iso,
                "untraced": plain[0] if plain else 0.0,
                "traced": traced[0] if traced else 0.0,
                "docs_done": traced[1] if traced else 0,
                "files_written": len(new), "bytes_written": sum(new.values())}

    def _next_id(self) -> str:
        self._jobs += 1
        return f"job-{self._jobs}"

    # --- teardown ---------------------------------------------------------

    def _stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def close(self) -> None:
        """Stop Spark, the JVM and every process this run started."""
        from pyspark import SparkContext

        if self.spark is not None:
            self._stop_session()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        _reap_descendants()


def _files(root: str) -> dict[str, int]:
    """Relative path -> size of every file under ``root``."""
    return {os.path.relpath(os.path.join(d, f), root):
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(root) for f in fs}


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name_end = stat.rindex(")")
        table[int(entry)] = (int(stat[name_end + 2:].split()[1]),
                             stat[stat.index("(") + 1:name_end])
    return table


def _descendants(table: dict[int, tuple[int, str]] | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    out, frontier = [], {os.getpid()}
    while frontier:
        frontier = {p for p, (pp, _) in table.items() if pp in frontier}
        out.extend(frontier)
    return out


def _reap_descendants(timeout: float = 20.0) -> None:
    end = monotonic() + timeout
    while _descendants() and monotonic() < end:
        sleep(0.2)
    for pid in _descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _descendants() and monotonic() < end + 5:
        sleep(0.1)


LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.rows_read_per_doc": "ratio",
    "extract_pipeline.repartition_s": "s",
    "extract_pipeline.shuffle_bytes": "bytes",
    "extract_pipeline.small_path_s": "s",
    "extract_pipeline.salt_branch_s": "s",
    "extract_pipeline.route_s": "s",
    "extract_pipeline.arrow_in_s": "s",
    "extract_pipeline.decode_s": "s",
    "extract_pipeline.encode_s": "s",
    "extract_pipeline.reassemble_s": "s",
    "extract_pipeline.mega_docs": "count",
    "extract_pipeline.bucket_rows": "count",
    "extract_pipeline.python_bytes_sent": "bytes",
    "extract_pipeline.python_bytes_received": "bytes",
    "kernel.extract_doc_s": "s",
    "kernel.wire_s": "s",
    "kernel.wire_calls": "count",
    "kernel.lines_s": "s",
    "kernel.columns_s": "s",
    "kernel.tables_s": "s",
    "kernel.html_s": "s",
    "kernel.spans_in": "count",
    "kernel.spans_out": "count",
    "checkpoint.pending_s": "s",
    "checkpoint.sink_s": "s",
    "checkpoint.docs_skipped": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_frac": "ratio",
}


def _pending_s(spans, job: str) -> float:
    """Driver time from the job's start to its extract_spans call: the
    resume filter's planning plus the emptiness probe it triggers."""
    starts = {r[1]: r[2] for _, r in spans
              if r[5] == job and r[1] in ("job", "extract_pipeline.extract_spans")}
    if len(starts) < 2:
        return 0.0
    return starts["extract_pipeline.extract_spans"] - starts["job"]


def layer_metrics(rounds, counters, spans, n_corpus: int, n_pending: int):
    """Per-layer metrics of each traced round, median over rounds."""
    totals = tracer.layer_totals(spans)
    per_round = []
    for rd in rounds:
        job = f"traced-{rd['r']}"
        lay = totals.get(job, {})
        ev = counters.get(job, eventlog._empty())
        iso = rd["iso"]

        def get(name, field):
            return lay[name][field] if name in lay else 0

        per_round.append({
            "sources.scan_s": iso["scan"],
            "sources.rows_read_per_doc": counters.get(
                f"extract-{rd['r']}", ev)["records_read"] / max(1, n_pending),
            "extract_pipeline.repartition_s": ev["shuffle_s"],
            "extract_pipeline.shuffle_bytes": ev["shuffle_bytes"],
            "extract_pipeline.small_path_s": iso["small"],
            "extract_pipeline.salt_branch_s": iso["extract"] - iso["small"],
            "extract_pipeline.route_s": get("extract_pipeline.route", "self"),
            "extract_pipeline.arrow_in_s": get(tracer.ARROW_IN, "busy"),
            "extract_pipeline.decode_s": get("extract_pipeline.decode", "self"),
            "extract_pipeline.encode_s": get("extract_pipeline.encode", "self"),
            "extract_pipeline.reassemble_s": get("extract_pipeline.reassemble", "self"),
            "extract_pipeline.mega_docs": get("extract_pipeline.reassemble", "calls"),
            "extract_pipeline.bucket_rows": get("extract_pipeline.extract_sub", "n_in"),
            "extract_pipeline.python_bytes_sent": ev["python_bytes_sent"],
            "extract_pipeline.python_bytes_received": ev["python_bytes_received"],
            "kernel.extract_doc_s": get("kernel.extract_doc", "self"),
            "kernel.wire_s": get(tracer.WIRE, "busy"),
            "kernel.wire_calls": get(tracer.WIRE, "calls"),
            "kernel.lines_s": get(tracer.LINES, "busy"),
            "kernel.columns_s": get(tracer.COLUMNS, "busy"),
            "kernel.tables_s": get(tracer.TABLES, "busy"),
            "kernel.html_s": get(tracer.HTML, "busy"),
            "kernel.spans_in": get("kernel.extract_doc", "n_in"),
            "kernel.spans_out": get("kernel.extract_doc", "n_out"),
            "checkpoint.pending_s": _pending_s(spans, job),
            "checkpoint.sink_s": rd["untraced"] - iso["extract"],
            "checkpoint.docs_skipped": n_corpus - rd["docs_done"],
            "checkpoint.bytes_written": rd["bytes_written"],
            "checkpoint.files_written": rd["files_written"],
            "spark.stages": ev["stages"],
            "spark.tasks": ev["tasks"],
            "trace.job_s": rd["traced"],
            "trace.untraced_job_s": rd["untraced"],
            "trace.overhead_frac": (rd["traced"] / rd["untraced"] - 1
                                    if rd["untraced"] else 0.0),
        })
    metrics = {k: _median([m[k] for m in per_round]) for k in LAYER_UNITS}
    return metrics, LAYER_UNITS
