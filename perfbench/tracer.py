"""Layer spans for the traced benchmark run.

Spans are recorded around calls into the engine's layers, from this file,
by replacing module attributes at run time; the engine itself carries no
tracing. Two processes record:

* the driver (``install_driver``): the resume filter, the planning call of
  ``extract_spans`` and the per-batch routing closure it ships to workers;
* every Python worker (``install_worker``, run by ``trace_daemon`` before
  pyspark's daemon forks workers): Arrow decode/encode, the kernel and its
  layout helpers, sub-extraction and mega-doc reassembly.

A span record is ``[id, name, start, end, parent, job, busy, calls, n_in,
n_out]``. Leaf calls that happen thousands of times per document (wire
parse, line clustering, ...) are rolled up per parent span into one record
whose ``busy`` is their summed duration and ``calls`` their count, so the
recorder stays small; every other record is one call (``busy == end -
start``). Records stay in memory until their top-level span ends, then are
appended to ``spans-<process>.jsonl`` in the trace directory. A worker
records only for tasks whose job set the ``perfbench.trace`` local
property to ``1``; the ``spark.jobGroup.id`` property names the job.
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from collections import defaultdict
from time import perf_counter

TRACE_PROPERTY = "perfbench.trace"
JOB_PROPERTY = "spark.jobGroup.id"

# leaf layers rolled up per parent span
WIRE = "kernel.wire"
LINES = "kernel.lines"
COLUMNS = "kernel.columns"
TABLES = "kernel.tables"
HTML = "kernel.html"
ARROW_IN = "extract_pipeline.arrow_in"


class Recorder:
    """In-memory span store of one process."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.records: list[list] = []
        self.stack: list[list] = []
        self.rollups: list[dict] = []
        self.job: str | None = None
        self.active = False
        self._pid = None
        self._file = None
        self._next = 0

    def _new_id(self) -> int:
        if self._pid != os.getpid():  # forked worker: own ids, own file
            self._pid = os.getpid()
            self._file = os.path.join(
                self.out_dir, f"spans-{self._pid}-{uuid.uuid4().hex[:8]}.jsonl")
            self._next = 0
            self.records.clear()
        self._next += 1
        return self._next

    def begin(self, name: str) -> list:
        parent = self.stack[-1][0] if self.stack else -1
        rec = [self._new_id(), name, perf_counter(), 0.0, parent, self.job,
               0.0, 1, 0, 0]
        self.stack.append(rec)
        self.rollups.append({})
        return rec

    def end(self, rec: list, n_in: int = 0, n_out: int = 0) -> None:
        rec[3] = perf_counter()
        rec[6] = rec[3] - rec[2]
        rec[8], rec[9] = n_in, n_out
        self.stack.pop()
        self.records.append(rec)
        for name, (busy, calls) in self.rollups.pop().items():
            self.records.append([self._new_id(), name, rec[2], rec[3], rec[0],
                                 rec[5], busy, calls, 0, 0])
        if not self.stack:
            self.flush()

    def leaf(self, name: str, seconds: float) -> None:
        agg = self.rollups[-1].get(name)
        if agg is None:
            self.rollups[-1][name] = [seconds, 1]
        else:
            agg[0] += seconds
            agg[1] += 1

    def flush(self) -> None:
        if not self.records:
            return
        with open(self._file, "a", encoding="utf-8") as fh:
            for rec in self.records:
                fh.write(json.dumps(rec))
                fh.write("\n")
        self.records.clear()


_REC: Recorder | None = None


def recorder() -> Recorder:
    if _REC is None:
        raise RuntimeError("tracer not installed in this process")
    return _REC


def _start_top() -> bool:
    """Read the task's local properties; True when the task is traced."""
    from pyspark import TaskContext

    rec = _REC
    if rec is None:
        return False
    ctx = TaskContext.get()
    rec.active = (ctx is not None
                  and ctx.getLocalProperty(TRACE_PROPERTY) == "1")
    if rec.active:
        rec.job = ctx.getLocalProperty(JOB_PROPERTY)
    return rec.active


def trace_batches(name: str, fn, batches):
    """Run the mapInArrow body ``fn`` over ``batches`` with one span per
    output batch; time spent waiting for input batches is rolled up as
    ``extract_pipeline.arrow_in`` and the rows read are the span's n_in."""
    if _REC is None or not _start_top():
        yield from fn(batches)
        return
    rec = _REC
    rows = [0]

    def pull():
        it = iter(batches)
        while True:
            t0 = perf_counter()
            try:
                rb = next(it)
            except StopIteration:
                rec.leaf(ARROW_IN, perf_counter() - t0)
                return
            rec.leaf(ARROW_IN, perf_counter() - t0)
            rows[0] += rb.num_rows
            yield rb

    gen = fn(pull())
    try:
        while True:
            rows[0] = 0
            span = rec.begin(name)
            try:
                out = next(gen)
            except StopIteration:
                rec.end(span, rows[0], 0)
                return
            rec.end(span, rows[0], out.num_rows)
            yield out
    finally:
        rec.active = False


class TracedIter:
    """Picklable stand-in for a mapInArrow body; it records in whichever
    process calls it."""

    def __init__(self, name: str, fn):
        self.name = name
        self.fn = fn
        self.__name__ = getattr(fn, "__name__", name)

    def __call__(self, batches):
        return trace_batches(self.name, self.fn, batches)


# --- wrappers ----------------------------------------------------------

def _span(name: str, fn, count=None):
    """Nested span around ``fn`` while a traced span is open."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        rec = _REC
        if not (rec.active and rec.stack):
            return fn(*args, **kwargs)
        span = rec.begin(name)
        out = fn(*args, **kwargs)
        n_in, n_out = count(args, out) if count else (0, 0)
        rec.end(span, n_in, n_out)
        return out
    return wrapper


def _leaf(name: str, fn):
    """Rolled-up leaf call inside the current span."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        rec = _REC
        if not (rec.active and rec.stack):
            return fn(*args, **kwargs)
        t0 = perf_counter()
        out = fn(*args, **kwargs)
        rec.leaf(name, perf_counter() - t0)
        return out
    return wrapper


def _top_groups(name: str, fn):
    """applyInPandas body: one top-level span per group (= per doc)."""
    @functools.wraps(fn)
    def wrapper(pdf):
        if not _start_top():
            return fn(pdf)
        rec = _REC
        span = rec.begin(name)
        try:
            out = fn(pdf)
        finally:
            rec.active = False
        rec.end(span, len(pdf), len(out))
        return out
    return wrapper


def _sizes(args, out):
    try:
        return len(args[0]), len(out)
    except TypeError:
        return 0, len(out)


def _patch(module, attr: str, make) -> None:
    """Replace ``module.attr`` with ``make(original)`` if it exists, so a
    renamed engine function costs a metric, not the run."""
    fn = getattr(module, attr, None)
    if fn is not None:
        setattr(module, attr, make(fn))


def install_worker(out_dir: str) -> None:
    global _REC
    from stirling_pdf_spark.kernel import extract as kx
    from stirling_pdf_spark.kernel import wire
    from stirling_pdf_spark.operators import extract_pipeline as ep

    _REC = Recorder(out_dir)
    _patch(ep, "_extract_small",
           lambda f: TracedIter("extract_pipeline.extract_small", f))
    _patch(ep, "_extract_sub",
           lambda f: TracedIter("extract_pipeline.extract_sub", f))
    _patch(ep, "_reassemble",
           lambda f: _top_groups("extract_pipeline.reassemble", f))
    _patch(ep, "_decode_span_lists",
           lambda f: _span("extract_pipeline.decode", f))
    _patch(ep, "_encode_span_lists",
           lambda f: _span("extract_pipeline.encode", f))
    _patch(ep, "extract_doc",
           lambda f: _span("kernel.extract_doc", f, _sizes))
    _patch(wire, "parse_text_run", lambda f: _leaf(WIRE, f))
    _patch(wire, "parse_media", lambda f: _leaf(WIRE, f))
    _patch(kx, "cluster_lines", lambda f: _leaf(LINES, f))
    _patch(kx, "reading_order", lambda f: _leaf(COLUMNS, f))
    _patch(kx, "parse_rule", lambda f: _leaf(TABLES, f))
    _patch(kx, "extract_table_csvs", lambda f: _leaf(TABLES, f))
    _patch(kx, "extract_main_blocks", lambda f: _leaf(HTML, f))
    _patch(kx, "extract_all_blocks", lambda f: _leaf(HTML, f))


def install_driver(out_dir: str) -> Recorder:
    """Patch the driver-side entry points; returns the driver recorder, on
    which the benchmark opens one top-level ``job`` span per job."""
    global _REC
    from stirling_pdf_spark.operators import extract_pipeline as ep
    from stirling_pdf_spark.runtime import checkpoint as ck

    _REC = Recorder(out_dir)
    _REC.active = True

    def route_factory(make):
        @functools.wraps(make)
        def wrapper(*args, **kwargs):
            return TracedIter("extract_pipeline.route", make(*args, **kwargs))
        return wrapper

    _patch(ep, "_route_factory", route_factory)
    _patch(ck, "pending_docs", lambda f: _span("checkpoint.pending_docs", f))
    _patch(ck, "extract_spans",
           lambda f: _span("extract_pipeline.extract_spans", f))
    return _REC


# --- analysis ----------------------------------------------------------

def load_spans(trace_dir: str) -> list[tuple[str, list]]:
    """All records of a run as (process file, record)."""
    out = []
    for name in sorted(os.listdir(trace_dir)):
        if name.startswith("spans-") and name.endswith(".jsonl"):
            with open(os.path.join(trace_dir, name), encoding="utf-8") as fh:
                out.extend((name, json.loads(line)) for line in fh)
    return out


def layer_totals(spans: list[tuple[str, list]]) -> dict:
    """{job: {name: {"busy", "self", "calls", "n_in", "n_out"}}}. A
    record's self time is its busy time minus its children's busy time."""
    child_busy: dict[tuple, float] = defaultdict(float)
    for proc, r in spans:
        if r[4] != -1:
            child_busy[(proc, r[4])] += r[6]
    out: dict = defaultdict(lambda: defaultdict(
        lambda: {"busy": 0.0, "self": 0.0, "calls": 0, "n_in": 0, "n_out": 0}))
    for proc, r in spans:
        agg = out[r[5]][r[1]]
        agg["busy"] += r[6]
        agg["self"] += r[6] - child_busy.get((proc, r[0]), 0.0)
        agg["calls"] += r[7]
        agg["n_in"] += r[8]
        agg["n_out"] += r[9]
    return out
