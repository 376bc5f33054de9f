"""Tracing from outside the engine: spans around each layer's public
functions, and Spark's own job, stage and Python-worker counters.

Nothing here edits the engine. `instrument` rebinds every reference to a
layer module's public functions (the plans modules import them by name,
so rebinding only the defining module would miss most calls) and the
materializing ``DataFrame`` methods; `restore` puts the originals back.
`SparkCounters` reads the scheduler and the two status stores, which
stay readable with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

# Module prefix (under the engine package) -> layer name.
LAYER_MODULES = {
    "sources.catalog": "catalog",
    "sources.versioned": "versioned",
    "sources.versioned_source": "versioned",
    "pipeline.artifacts": "artifacts",
    "operators": "operators",
    "streaming": "streaming",
}

# Kinds of versioned-table calls; the rest of the layer is "other".
VERSIONED_KINDS = {
    "commit": {
        "write_version",
        "append_version",
        "delete_version",
        "upsert_version",
        "stage_slices",
        "adopt_staged_files",
        "rename_column",
        "drop_column",
        "restore_version",
    },
    "read": {
        "read_version",
        "incremental_scan",
        "history",
        "versions",
        "version_at_timestamp",
        "version_before_timestamp",
        "chain_length",
    },
    "maintenance": {"compact_chain", "maybe_compact", "expire_versions"},
}

MATERIALIZE_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")


@dataclass
class Span:
    name: str
    layer: str
    kind: str
    qid: str | None
    parent: "Span | None"
    start: float
    jobs0: int
    end: float = 0.0
    jobs1: int = 0
    child_s: float = 0.0
    child_jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s

    @property
    def self_jobs(self) -> int:
        return self.jobs1 - self.jobs0 - self.child_jobs


@dataclass
class Tracer:
    """Spans kept in memory; a span's parent is the innermost open span
    of its thread, or, on a thread with none open (a streaming callback),
    the innermost open span of the main thread, which is waiting on it."""

    jobs_submitted: Callable[[], int]
    enabled: bool = False
    qid: str | None = None
    spans: list[Span] = field(default_factory=list)
    _stacks: dict[int, list[Span]] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[Span]:
        return self._stacks.setdefault(threading.get_ident(), [])

    @contextmanager
    def span(self, name: str, layer: str, kind: str = ""):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        main = self._stacks.get(threading.main_thread().ident) or []
        parent = stack[-1] if stack else (main[-1] if main else None)
        sp = Span(name, layer, kind, self.qid, parent, time.perf_counter(), self.jobs_submitted())
        stack.append(sp)
        try:
            yield
        finally:
            sp.jobs1 = self.jobs_submitted()
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                if parent is not None:
                    parent.child_s += sp.dur
                    parent.child_jobs += sp.jobs1 - sp.jobs0
                self.spans.append(sp)

    def take(self) -> list[Span]:
        with self._lock:
            out, self.spans = self.spans, []
        return out

    def wrap(self, fn, name: str, layer: str, kind: str = ""):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer, kind):
                return fn(*args, **kwargs)

        return traced


def _kind(layer: str, fname: str) -> str:
    if layer != "versioned":
        return ""
    for kind, names in VERSIONED_KINDS.items():
        if fname in names:
            return kind
    return "other"


def _public_functions(mod):
    for name, obj in vars(mod).items():
        if (
            not name.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == mod.__name__
            and not hasattr(obj, "evalType")  # a UDF: builds a Column only
            and not inspect.isgeneratorfunction(obj)
        ):
            yield name, obj


def instrument(tracer: Tracer, package: str, dataframe_cls) -> list[tuple]:
    """Wrap every layer's public functions and the materializing
    DataFrame methods; returns the undo list for `restore`."""
    wrapped: dict[int, object] = {}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(package + "."):
            continue
        rel = mod_name[len(package) + 1 :]
        layer = next(
            (lay for pre, lay in LAYER_MODULES.items() if rel == pre or rel.startswith(pre + ".")),
            None,
        )
        if layer is None:
            continue
        short = rel.rsplit(".", 1)[-1]
        for name, fn in _public_functions(mod):
            wrapped[id(fn)] = (fn, tracer.wrap(fn, f"{short}.{name}", layer, _kind(layer, name)))
    undo: list[tuple] = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(package):
            continue
        for attr, val in list(vars(mod).items()):
            hit = wrapped.get(id(val))
            if hit is not None and hit[0] is val:
                undo.append((mod, attr, val))
                setattr(mod, attr, hit[1])
    for meth in MATERIALIZE_METHODS:
        orig = dataframe_cls.__dict__.get(meth)
        if orig is not None:
            undo.append((dataframe_cls, meth, orig))
            setattr(dataframe_cls, meth, tracer.wrap(orig, f"DataFrame.{meth}", "materialize"))
    return undo


def restore(undo: list[tuple]) -> None:
    for owner, attr, val in reversed(undo):
        setattr(owner, attr, val)


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "boot_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "recv_mb",
}


def _metric_value(text: str) -> float:
    """Total of one rendered SQL metric: the first value on its last line,
    e.g. ``81.3 KiB (…)`` -> MB, ``7.0 s (…)`` -> seconds."""
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)", text.strip().splitlines()[-1])
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit] / 1e6
    return num * _TIME.get(unit, 0.0)


class SparkCounters:
    """Reads what Spark itself counted. Jobs are attributed to a phase by
    id range (`jobs_submitted` before and after it): one client runs one
    query at a time, and streaming queries run their jobs under their own
    job group, which a job-group lookup would miss."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._next_exec = 0

    def jobs_submitted(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def drain(self) -> None:
        """Wait until the status listeners have seen every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stage_totals(self, job_lo: int, job_hi: int) -> dict[str, float]:
        """Jobs, completed stages and their task metrics for jobs
        ``job_lo <= id < job_hi``."""
        stage_ids: set[int] = set()
        for jid in range(job_lo, job_hi):
            stage_ids.update(int(s) for s in self._conv.asJava(self._store.job(jid).stageIds()))
        out = dict.fromkeys(
            ("task_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb"),
            0.0,
        )
        out.update(jobs=job_hi - job_lo, stages=0, tasks=0)
        for sid in stage_ids:
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
            out["spill_mb"] += sd.diskBytesSpilled() / 1e6
            out["input_mb"] += sd.inputBytes() / 1e6
        return out

    def python_totals(self) -> dict[str, float]:
        """Python-worker SQL metrics of the SQL executions that started
        since the last call."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        while True:
            opt = self._sql.execution(self._next_exec)
            if opt.isEmpty():
                return out
            ex = opt.get()
            values = self._sql.executionMetrics(ex.executionId())
            seen: set[int] = set()
            for pm in self._conv.asJava(ex.metrics()):
                key = _PY_METRICS.get(pm.name())
                acc = pm.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                text = values.get(acc)
                if not text.isEmpty():
                    out[key] += _metric_value(text.get())
            self._next_exec += 1
