"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client runs a closed loop: a single
Python process runs the workload's queries one after another, each as
``QUERIES[name](spark, sf_dir)`` (construction) followed by a write to
the ``noop`` sink (execution), on a ``local[N]`` session with N the
number of usable cores. The seed generates the input tables and permutes
the query order within every pass.

A run has three parts:

1. set-up: session start, then warm-up passes; the first collects
   every query's output and compares it with the query's DuckDB oracle
   over the same tables (the comparison itself is not timed), and a
   fixed number of ordinary passes follows;
2. timed passes for ``--seconds``: with ``--trace 0`` each is followed
   by a reference pass (``reference.py``), and ``pass_rel`` is a pass's
   time over the reference pass's; with ``--trace 1`` traced and
   untraced passes alternate, and per-layer metrics come from the
   traced ones;
3. shutdown of the session and its JVM.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run writes
stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (span dumps) in the working directory.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import layers  # noqa: E402
from perfbench.reference import reference_pass  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


STATUS_RETAINED = "100000"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run makes under `work`, and let every Python
    process Spark starts import the engine from the checkout: the
    engine's own ``addPyFile`` shipping does not reach the Python
    streaming-source runner."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run's directory is still there
        pass


class Run:
    """One benchmark invocation: a session, its fixture and its counters."""

    def __init__(self, workload: str, seed: int, work: str):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0

    # -- set-up -----------------------------------------------------------
    def start(self) -> None:
        from end_to_end_database_pipeline_project_spark.plans import ORACLES, QUERIES
        from end_to_end_database_pipeline_project_spark.plans import load_all  # noqa: F401
        from end_to_end_database_pipeline_project_spark.session import get_spark

        from perfbench.fixture import write_fixture

        self.QUERIES, self.ORACLES = QUERIES, ORACLES
        names = WORKLOADS[self.workload]["queries"]
        missing = [n for n in names if n not in QUERIES]
        if missing:
            raise SystemExit(f"queries missing from the registry: {missing}")
        self.order = list(names)
        random.Random(self.seed).shuffle(self.order)
        self.sf_dir = write_fixture(os.path.join(self.work, "fixture"), self.seed)
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=_cpus(),
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # A traced pass reads every stage its jobs list, skipped ones
                # too, from the status stores; with the default limit of
                # 1,000 a run's early stages are dropped before later jobs
                # that reuse their shuffles are read.
                "spark.ui.retainedJobs": STATUS_RETAINED,
                "spark.ui.retainedStages": STATUS_RETAINED,
                "spark.sql.ui.retainedExecutions": STATUS_RETAINED,
            },
        )
        self.start_s = time.perf_counter() - t0

    def warm_and_check(self) -> None:
        """Warm-up. The first pass collects each query's output and
        compares it with its oracle; the workload's fixed number of
        ordinary passes follows, and a reference pass runs after each
        pass so it is warm too. Only the workload's Spark side is timed
        (``warm_s``)."""
        import duckdb

        from end_to_end_database_pipeline_project_spark.sources.catalog import TABLES
        from tools.check_oracle import compare

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.warm_s = 0.0
        for name in self.order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = self.QUERIES[name](self.spark, self.sf_dir).toPandas()
            except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
                self.warm_s += time.perf_counter() - t0
                self._fail(name, "raised", traceback.format_exc(limit=3))
                continue
            self.warm_s += time.perf_counter() - t0
            print(f"checked pass: {name} {time.perf_counter() - t0:.3f}s", file=sys.stderr)
            if name in self.ORACLES:
                errs = compare(name, got, con.sql(self.ORACLES[name]).df())
            else:
                errs = [] if len(got) > 0 else ["no rows"]
            if errs:
                self._fail(name, "wrong output", "; ".join(errs))
        con.close()
        walls, refs = [], [self.reference_s()]
        for i in range(WORKLOADS[self.workload]["warm_passes"]):
            walls.append(self.run_pass(-1 - i)["wall_s"])
            refs.append(self.reference_s())
        self.warm_s += sum(walls)
        print("warm-up walls:", " ".join(f"{w:.3f}" for w in walls), file=sys.stderr)
        print("warm-up reference walls:", " ".join(f"{w:.3f}" for w in refs), file=sys.stderr)

    def reference_s(self) -> float:
        return reference_pass(self.spark, self.sf_dir, self.work)

    def for_workload(self, workload: str) -> "Run":
        """A run of another workload on this run's session and fixture."""
        other = copy.copy(self)
        other.workload, other.attempted, other.failed = workload, 0, 0
        other.order = list(WORKLOADS[workload]["queries"])
        random.Random(self.seed).shuffle(other.order)
        return other

    def _fail(self, name: str, what: str, detail: str) -> None:
        self.failed += 1
        print(f"FAIL {name}: {what}: {detail}", file=sys.stderr)

    # -- timed passes -----------------------------------------------------
    def run_query(self, name: str, tracer=None, counters=None) -> dict:
        """Construction then execution of one query; with a tracer, the
        two phases become spans and their job-id ranges are kept."""
        self.attempted += 1
        rec: dict = {"name": name}
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = self.QUERIES[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            else:
                j0 = counters.jobs_submitted()
                t0 = time.perf_counter()
                with tracer.span(name, "plans", "build"):
                    df = self.QUERIES[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                j1 = counters.jobs_submitted()
                with tracer.span(name, "plans", "run"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rec.update(qid=tracer.qid, jobs=(j0, j1, counters.jobs_submitted()))
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            self._fail(name, "raised", traceback.format_exc(limit=3))
            return rec
        rec.update(build_s=t1 - t0, run_s=t2 - t1, wall_s=t2 - t0)
        return rec

    def run_pass(self, index: int, tracer=None, counters=None) -> dict:
        """The workload's queries in the seeded order."""
        t0 = time.perf_counter()
        queries = []
        for name in self.order:
            if tracer is not None:
                tracer.qid = f"{self.workload}:{index}:{name}"
            queries.append(self.run_query(name, tracer, counters))
        p = {"index": index, "wall_s": time.perf_counter() - t0, "queries": queries, "traced": tracer is not None}
        if tracer is not None:
            # Spark's counters are read after the pass's clock stops.
            p["spans"] = tracer.take()
            counters.drain()
            for q in queries:
                if "jobs" in q:
                    j0, j1, j2 = q["jobs"]
                    q["build"] = counters.stage_totals(j0, j1)
                    q["run"] = counters.stage_totals(j1, j2)
            p["py"] = counters.python_totals()
        return p

    def traced_pass(self, index: int, tracer, counters) -> dict:
        counters.python_totals()  # skip executions of earlier, untraced work
        tracer.enabled = True
        try:
            return self.run_pass(index, tracer, counters)
        finally:
            tracer.enabled = False

    def timed_passes(self, seconds: float, tracer=None, counters=None):
        """Closed loop of whole passes for `seconds`.

        Untraced, each pass is followed by a reference pass
        (``reference.py``), and at least two passes run.

        Traced, passes run until at least one group of four has run;
        traced and untraced passes alternate in the order
        U T T U U T T U ..., so a steady drift in pass time weighs on both
        sides alike."""
        passes: list[dict] = []
        t0 = time.perf_counter()
        index = 0
        while True:
            if tracer is not None and index % 4 in (1, 2):
                p = self.traced_pass(index, tracer, counters)
            else:
                p = self.run_pass(index)
            if tracer is None:
                p["ref_s"] = self.reference_s()
            passes.append(p)
            index += 1
            need_more = index < (4 if tracer is not None else 2)
            if not need_more and time.perf_counter() - t0 >= seconds:
                return passes

    # -- shutdown -----------------------------------------------------------
    def peak_rss_mb(self) -> float:
        """JVM high-water RSS plus this Python process's."""
        jvm_kb = 0
        with open(f"/proc/{self._jvm_proc().pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

    def _jvm_proc(self):
        return self.spark.sparkContext._gateway.proc

    def stop(self) -> None:
        """Stop Spark, then its JVM, and wait for the JVM to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        proc = self._jvm_proc()
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            proc.kill()
            proc.wait()


def end_to_end(run: Run, passes: list[dict]) -> dict[str, float]:
    """``pass_rel`` is the median over the window's passes of a pass's
    wall time over the wall time of the reference pass that follows it:
    the workload's cost in units of a fixed piece of Spark work run on
    the same box at the same time."""
    for p in passes:
        lat = " ".join(f"{q['name']}={q['wall_s']:.3f}" for q in p["queries"] if "wall_s" in q)
        print(f"pass {p['index']}: {p['wall_s']:.3f}s reference {p['ref_s']:.3f}s; {lat}", file=sys.stderr)
    return {
        "setup_s": run.start_s + run.warm_s,
        "pass_rel": statistics.median(p["wall_s"] / p["ref_s"] for p in passes),
    }


UNITS = {
    "setup_s": "s",
    "pass_rel": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    prepare_env(work)
    run = Run(args.workload, args.seed, work)
    try:
        run.start()
        run.warm_and_check()
        if args.trace:
            metrics, units, ok = layers.traced_run(run, args.seconds)
        else:
            passes = run.timed_passes(args.seconds)
            metrics, units, ok = end_to_end(run, passes), UNITS, True
    finally:
        run.stop()
        remove_work_dir(work)

    summary = " ".join(f"{k}={v:.6g}{units[k]}" for k, v in metrics.items())
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: {summary} "
        f"error_rate={run.failed}/{run.attempted}"
    )
    print(
        json.dumps(
            {
                "correct": ok and run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
