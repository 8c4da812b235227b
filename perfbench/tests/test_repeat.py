"""Self-test: run one workload twice and check which counts repeat exactly.

    python3 -m pytest perfbench/tests -q

Two traced runs of the ``eager`` workload (different seeds, so a different
query order).  Every per-run job, stage and task count that
``perfbench/claims.json`` does not list as not claimable must be identical
in every run of both processes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
WORKLOAD = "eager"


def _run(seed: int) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", WORKLOAD,
         "--seed", str(seed), "--seconds", "16", "--trace", "1"],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        timeout=600)
    with open(os.path.join(ROOT, ".perfbench_out", f"{WORKLOAD}-seed{seed}.json")) as f:
        return json.load(f)


def test_counts_repeat_exactly():
    with open(os.path.join(BENCH, "claims.json")) as f:
        not_claimable = json.load(f)["not_claimable"]
    seen: dict[str, set] = {}
    for seed in (1, 2):
        for name, runs in _run(seed)["counts"].items():
            for run in runs:
                for key, value in run.items():
                    if key == "secs":
                        continue
                    seen.setdefault(f"{name}.{key}", set()).add(value)
    varying = {k for k, vals in seen.items() if len(vals) > 1}
    assert varying <= set(not_claimable), (
        f"counts that did not repeat: {sorted(varying - set(not_claimable))}")
