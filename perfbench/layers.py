"""The traced run: per-layer metrics of one workload.

Traced and untraced passes alternate inside one timed window, after
warm-up, so ``trace.overhead_pct`` compares passes run under the same box
conditions. Every per-layer number is a per-pass total, reported as the
median over the traced passes.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

from perfbench.trace import SparkCounters, Tracer, instrument, restore

PACKAGE = "end_to_end_database_pipeline_project_spark"
OUT_DIR = ".perfbench_out"
SELF_TIME_SLACK_S = 1e-3
CALIB_REPEATS = 3

# Per-layer metric -> unit, in report order.
UNITS: dict[str, str] = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "spark.build_jobs": "count",
    "spark.build_stages": "count",
    "spark.build_task_s": "s",
    "spark.run_s": "s",
    "spark.run_jobs": "count",
    "spark.run_stages": "count",
    "spark.run_tasks": "count",
    "spark.run_task_s": "s",
    "spark.run_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.core_util": "ratio",
    "pyworker.run_s": "s",
    "pyworker.boot_s": "s",
    "pyworker.sent_mb": "MB",
    "pyworker.recv_mb": "MB",
    "catalog.loads": "count",
    "catalog.load_s": "s",
    "versioned.commits": "count",
    "versioned.commit_s": "s",
    "versioned.commit_jobs": "count",
    "versioned.reads": "count",
    "versioned.read_s": "s",
    "versioned.maintenance_s": "s",
    "artifacts.calls": "count",
    "artifacts.s": "s",
    "artifacts.jobs": "count",
    "operators.calls": "count",
    "operators.s": "s",
    "operators.jobs": "count",
    "streaming.calls": "count",
    "streaming.s": "s",
    "materialize.calls": "count",
    "materialize.eager_s": "s",
    "materialize.jobs": "count",
    "mem.peak_rss_mb": "MB",
    "box.calib_jvm_s": "s",
    "box.calib_py_s": "s",
    "trace.overhead_pct": "%",
}

COUNTS = tuple(k for k, u in UNITS.items() if u == "count")


def _outermost(spans, layer: str, kind: str | None = None) -> int:
    """Calls into a layer from outside it (nested calls are one call)."""
    return sum(
        1
        for s in spans
        if s.layer == layer
        and (kind is None or s.kind == kind)
        and (s.parent is None or s.parent.layer != layer)
    )


def _self(spans, layer: str, kind: str | None = None, attr: str = "self_s") -> float:
    return sum(getattr(s, attr) for s in spans if s.layer == layer and (kind is None or s.kind == kind))


def _versioned_kinds(spans) -> None:
    """A versioned-table call made inside another one counts toward the
    outer call's kind: the write of a compaction is maintenance, the
    manifest listing of a commit is commit."""
    for s in spans:
        if s.layer != "versioned":
            continue
        top = s
        while top.parent is not None and top.parent.layer == "versioned":
            top = top.parent
        s.kind = top.kind


def pass_metrics(p: dict, cpus: int) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    spans = p["spans"]
    _versioned_kinds(spans)
    qs = [q for q in p["queries"] if "run" in q]
    build = {k: sum(q["build"][k] for q in qs) for k in qs[0]["build"]} if qs else {}
    run = {k: sum(q["run"][k] for q in qs) for k in qs[0]["run"]} if qs else {}
    py = p["py"]
    run_s = sum(q["run_s"] for q in qs)
    return {
        "plans.build_s": sum(q["build_s"] for q in qs),
        "spark.build_jobs": build.get("jobs", 0),
        "spark.build_stages": build.get("stages", 0),
        "spark.build_task_s": build.get("task_s", 0.0),
        "spark.run_s": run_s,
        "spark.run_jobs": run.get("jobs", 0),
        "spark.run_stages": run.get("stages", 0),
        "spark.run_tasks": run.get("tasks", 0),
        "spark.run_task_s": run.get("task_s", 0.0),
        "spark.run_cpu_s": run.get("cpu_s", 0.0),
        "spark.gc_s": run.get("gc_s", 0.0),
        "spark.shuffle_write_mb": run.get("shuffle_write_mb", 0.0),
        "spark.shuffle_read_mb": run.get("shuffle_read_mb", 0.0),
        "spark.spill_mb": run.get("spill_mb", 0.0),
        "spark.input_mb": run.get("input_mb", 0.0),
        "spark.core_util": run.get("cpu_s", 0.0) / (run_s * cpus) if run_s else 0.0,
        "pyworker.run_s": py["run_s"],
        "pyworker.boot_s": py["boot_s"],
        "pyworker.sent_mb": py["sent_mb"],
        "pyworker.recv_mb": py["recv_mb"],
        "catalog.loads": sum(1 for s in spans if s.layer == "catalog" and s.name == "catalog.load_table"),
        "catalog.load_s": _self(spans, "catalog"),
        "versioned.commits": _outermost(spans, "versioned", "commit"),
        "versioned.commit_s": _self(spans, "versioned", "commit"),
        "versioned.commit_jobs": _self(spans, "versioned", "commit", "self_jobs"),
        "versioned.reads": _outermost(spans, "versioned", "read"),
        "versioned.read_s": _self(spans, "versioned", "read"),
        "versioned.maintenance_s": _self(spans, "versioned", "maintenance"),
        "artifacts.calls": _outermost(spans, "artifacts"),
        "artifacts.s": _self(spans, "artifacts"),
        "artifacts.jobs": _self(spans, "artifacts", attr="self_jobs"),
        "operators.calls": _outermost(spans, "operators"),
        "operators.s": _self(spans, "operators"),
        "operators.jobs": _self(spans, "operators", attr="self_jobs"),
        "streaming.calls": _outermost(spans, "streaming"),
        "streaming.s": _self(spans, "streaming"),
        "materialize.calls": _outermost(spans, "materialize"),
        "materialize.eager_s": _self(spans, "materialize"),
        "materialize.jobs": _self(spans, "materialize", attr="self_jobs"),
    }


def _root(s):
    while s.parent is not None:
        s = s.parent
    return s


def span_violations(p: dict) -> list[str]:
    """Checks of one traced pass's spans; each fails when spans overlap,
    leak across queries or escape their query:

    - no span's self time is below zero (its children overlapped each
      other, or a callback-thread child outlived it);
    - every span lies inside a query phase (a ``plans`` build or run
      span), within that phase's start and end, and carries the phase's
      query id;
    - per query, the self times of the spans opened during its build
      sum to at most its ``build_s``, those opened during its run to at
      most its ``run_s``.
    """
    bad = []
    phase_self: dict[tuple[str, str], float] = {}
    for s in p["spans"]:
        where = f"{s.qid} {s.name}"
        if s.self_s < -SELF_TIME_SLACK_S:
            bad.append(f"{where}: self time {s.self_s:.4f}s < 0")
        root = _root(s)
        if root.layer != "plans":
            bad.append(f"{where}: outside any query phase")
            continue
        if s.start < root.start or s.end > root.end + SELF_TIME_SLACK_S:
            bad.append(f"{where}: outlives its {root.kind} phase")
        if s.qid != root.qid:
            bad.append(f"{where}: in a span tree of {root.qid}")
        key = (s.qid, root.kind)
        phase_self[key] = phase_self.get(key, 0.0) + s.self_s
    for q in p["queries"]:
        if "wall_s" not in q:
            continue
        for kind in ("build", "run"):
            total, limit = phase_self.get((q["qid"], kind), 0.0), q[f"{kind}_s"]
            if total > limit + SELF_TIME_SLACK_S:
                bad.append(f"{q['qid']}: {kind} self {total:.4f}s > {kind}_s {limit:.4f}s")
    return bad


def _dump(path: str, spans_by_pass: list[tuple[int, list]]) -> None:
    ids: dict[int, int] = {}
    with open(path, "w") as fh:
        for index, spans in spans_by_pass:
            for s in spans:
                ids[id(s)] = len(ids)
            for s in spans:
                fh.write(
                    json.dumps(
                        {
                            "pass": index,
                            "id": ids[id(s)],
                            "parent": ids.get(id(s.parent)) if s.parent is not None else None,
                            "qid": s.qid,
                            "name": s.name,
                            "layer": s.layer,
                            "kind": s.kind,
                            "start": s.start,
                            "end": s.end,
                            "self_s": s.self_s,
                            "jobs": s.jobs1 - s.jobs0,
                            "self_jobs": s.self_jobs,
                        }
                    )
                    + "\n"
                )


def calibrate(spark) -> dict[str, float]:
    """Box drift probes, min of three: one fixed pure-JVM action and one
    trivial action through a Python worker."""

    def best(action) -> float:
        times = []
        for _ in range(CALIB_REPEATS):
            t0 = time.perf_counter()
            action()
            times.append(time.perf_counter() - t0)
        return min(times)

    n = spark.sparkContext.defaultParallelism
    jvm = lambda: spark.range(0, 2_000_000, 1, n).selectExpr("sum(id * 7 % 13)").collect()  # noqa: E731
    py = lambda: spark.sparkContext.parallelize(range(n), n).map(lambda x: x + 1).sum()  # noqa: E731
    return {"box.calib_jvm_s": best(jvm), "box.calib_py_s": best(py)}


@contextmanager
def tracing(spark):
    """Instrument the engine for the duration of the block; yields the
    tracer (off until a traced pass turns it on) and Spark's counters."""
    counters = SparkCounters(spark)
    tracer = Tracer(counters.jobs_submitted)
    undo = instrument(tracer, PACKAGE, type(spark.range(1)))
    try:
        yield tracer, counters
    finally:
        restore(undo)


def traced_run(run, seconds: float):
    """Per-layer metrics for `run`; returns (metrics, units, ok)."""
    calib = calibrate(run.spark)
    with tracing(run.spark) as (tracer, counters):
        passes = run.timed_passes(seconds, tracer=tracer, counters=counters)
    cpus = run.spark.sparkContext.defaultParallelism
    per_pass, violations = [], []
    for p in passes:
        if not p["traced"]:
            continue
        per_pass.append(pass_metrics(p, cpus))
        violations += span_violations(p)
    for v in violations:
        print(f"SPAN {v}", file=sys.stderr)
    metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    # Each complete group of four passes runs U T T U: its traced and
    # its untraced passes sit at the same mean position, so a steady
    # drift in pass time cancels out of the ratio.
    groups = [passes[i : i + 4] for i in range(0, len(passes) - 3, 4)]
    traced = sum(p["wall_s"] for g in groups for p in g if p["traced"])
    untraced = sum(p["wall_s"] for g in groups for p in g if not p["traced"])
    metrics.update(calib)
    metrics["mem.peak_rss_mb"] = run.peak_rss_mb()
    metrics["session.start_s"] = run.start_s
    metrics["session.warm_s"] = run.warm_s
    metrics["trace.overhead_pct"] = (traced / untraced - 1.0) * 100.0
    os.makedirs(OUT_DIR, exist_ok=True)
    _dump(
        os.path.join(OUT_DIR, f"spans-{run.workload}-{run.seed}.jsonl"),
        [(p["index"], p["spans"]) for p in passes if p["traced"]],
    )
    ordered = {k: metrics[k] for k in UNITS}
    return ordered, UNITS, not violations
