"""Run the stress budgets that the default test run cuts.

The model-based commit-sequence properties (tests/test_versioned.py),
the skip-rule soundness property (tests/test_versioned_skipping.py),
the scalar-function properties (tests/test_scalar_properties.py) and
the scale matrix (tests/test_scale.py) run a reduced number of examples
or configurations by default; ``SPARK_GRAFT_STRESS=1`` restores the full
budgets. This runs pytest once in that mode over those suites and
prints one JSON line with the outcome:

    python tools/stress_tests.py [extra pytest args ...]

    {"passed": N, "failed": N, "errors": N, "skipped": N,
     "wall_s": S, "exit": RC}

Extra arguments go to pytest unchanged (e.g. ``-k commit_sequences``).
The exit code is pytest's. Not part of the default test run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
import xml.etree.ElementTree as ET

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUITES = [
    "tests/test_versioned.py",
    "tests/test_versioned_skipping.py",
    "tests/test_scale.py",
    "tests/test_scalar_properties.py",
]


def main(argv: list[str]) -> int:
    env = dict(os.environ, SPARK_GRAFT_STRESS="1")
    with tempfile.TemporaryDirectory() as tmp:
        report = os.path.join(tmp, "junit.xml")
        t0 = time.perf_counter()
        rc = subprocess.call(
            [
                sys.executable, "-m", "pytest", *SUITES, "-q",
                "-p", "no:cacheprovider", f"--junitxml={report}", *argv,
            ],
            cwd=ROOT,
            env=env,
            stdout=sys.stderr,
        )
        wall = time.perf_counter() - t0
        counts = {"tests": 0, "failures": 0, "errors": 0, "skipped": 0}
        if os.path.exists(report):
            for suite in ET.parse(report).getroot().iter("testsuite"):
                for k in counts:
                    counts[k] += int(suite.get(k, 0))
    print(
        json.dumps(
            {
                "passed": counts["tests"] - counts["failures"]
                - counts["errors"] - counts["skipped"],
                "failed": counts["failures"],
                "errors": counts["errors"],
                "skipped": counts["skipped"],
                "wall_s": round(wall, 1),
                "exit": rc,
            }
        )
    )
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
