"""Counter determinism self-test of the benchmark.

    python3 perfbench/selftest.py [--seed N]

Run from the repository root. In one session, on the seeded fixture
(the size of the repository's sf0.001 tables), each workload is warmed
up and output-checked, then run twice traced. Every count metric (jobs,
stages, tasks, commits, reads, calls, materializations) must repeat
exactly between the two passes, no query may fail, and every span check
of ``layers.span_violations`` must pass.
Exits 1 and names the offending metric or query otherwise.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.layers import COUNTS, pass_metrics, span_violations, tracing  # noqa: E402
from perfbench.run import ROOT, Run, prepare_env, remove_work_dir  # noqa: E402
from perfbench.workloads import ALL  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    prepare_env(work)
    base = Run(ALL[0], args.seed, work)
    problems: list[str] = []
    try:
        base.start()
        cpus = base.spark.sparkContext.defaultParallelism
        for workload in ALL:
            run = base.for_workload(workload)
            run.warm_and_check()
            with tracing(run.spark) as (tracer, counters):
                a, b = (run.traced_pass(i, tracer, counters) for i in (1, 2))
            ma, mb = pass_metrics(a, cpus), pass_metrics(b, cpus)
            for k in COUNTS:
                if ma[k] != mb[k]:
                    problems.append(f"{workload}: {k} {ma[k]} then {mb[k]}")
            problems += [f"{workload}: {v}" for v in span_violations(a) + span_violations(b)]
            if run.failed:
                problems.append(f"{workload}: error_rate {run.failed}/{run.attempted}")
            print(workload, {k: ma[k] for k in COUNTS})
    finally:
        base.stop()
        remove_work_dir(work)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
