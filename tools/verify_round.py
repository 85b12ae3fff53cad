"""One-command full verification — everything a round must prove.

    python tools/verify_round.py [--sf-dir /root/testdata/sf0.01] [--bench]

Runs, in order, and exits nonzero on the first failing stage:

1. the full pytest suite (``python -m pytest tests/ -x -q``);
2. the benchmark harness's own tests (``python3 -m pytest
   perfbench/tests -q`` — generator, stats and checks; no Spark);
3. EVERY ``queries()`` entry (``len(queries())`` — 90+ and growing)
   against its DuckDB oracle at the given scale factor
   (``tools/check_oracle.py`` — the same check the round driver
   applies to its 50-row subset, extended to every query, including
   the entries the driver record rotates out; see README
   "driver-gate rotation");
4. with ``--bench``: ``python bench.py --all`` at sf0.1 followed by the
   ``tools/bench_diff.py --gate`` drift check against the recorded
   anchors in ``tools/bench_history.jsonl``.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str]) -> None:
    print(f"== {label}: {' '.join(cmd)}", flush=True)
    rc = subprocess.call(cmd, cwd=ROOT)
    if rc != 0:
        print(f"verify_round: FAILED at {label} (exit {rc})")
        sys.exit(rc)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf-dir" in args:
        sf_dir = args[args.index("--sf-dir") + 1]
    run("tests", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"])
    run("perfbench tests", [sys.executable, "-m", "pytest", "perfbench/tests", "-q"])
    run("gate rotation hygiene", [sys.executable, "tools/check_gate_coverage.py"])
    run("oracles (full inventory)", [sys.executable, "tools/check_oracle.py", sf_dir])
    if "--bench" in args:
        run("bench --all", [sys.executable, "bench.py", "--all"])
        run("bench gate", [sys.executable, "tools/bench_diff.py", "--gate"])
    print("verify_round: ALL GREEN")


if __name__ == "__main__":
    main()
