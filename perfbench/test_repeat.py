"""Benchmark test: two traced one-round runs of `serve_mixed` with the
same seed must repeat exactly the Spark jobs each request
launched (per request, in order) and the store's space amplification.

    python3 -m pytest perfbench/test_repeat.py    # or: python3 perfbench/test_repeat.py

Takes about two minutes (two full runs, each with its own Spark session).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def _traced_run() -> tuple[list[tuple[str, int]], float]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", "serve_mixed", "--seed", str(SEED),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"spans_serve_mixed_seed{SEED}.json")) as f:
        requests = json.load(f)["requests"]
    jobs = [(r["kind"], int(r["jobs"])) for r in requests]
    return jobs, result["metrics"]["store.space_amp"]["value"]


def test_jobs_and_space_amp_repeat() -> None:
    jobs_a, amp_a = _traced_run()
    jobs_b, amp_b = _traced_run()
    assert jobs_a, "no requests recorded"
    assert jobs_a == jobs_b
    assert amp_a == amp_b


if __name__ == "__main__":
    test_jobs_and_space_amp_repeat()
    print("ok")
