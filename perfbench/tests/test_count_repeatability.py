"""Count-repeatability self-test of the lakehouse benchmark.

Two traced runs of the same workload with the same seed and the same
number of operations must report identical count metrics: file-system
calls, commits read, snapshot resolutions, Spark jobs/stages/tasks per
op, files and bytes written, files touched, and bytes per row. A later
change may then claim a count difference exactly.

Run from the repository root (each case starts two Spark sessions):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))

import metrics  # noqa: E402

COUNT_UNITS = {"count", "B", "ratio"}
# Timed ops per run: a fixed op count, not the clock, ends these runs.
MAX_OPS = {"append_stream": 24, "upsert_cow": 12}
SEED = 7


def traced_counts(workload: str) -> dict[str, float]:
    proc = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload",
            workload,
            "--seed",
            str(SEED),
            "--seconds",
            "150",
            "--trace",
            "1",
            "--max-ops",
            str(MAX_OPS[workload]),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    path = ROOT / ".perfbench" / "out" / f"{workload}-s{SEED}-t1.json"
    report = json.loads(path.read_text(encoding="utf-8"))
    counts = {
        name: report["layers"][name]
        for name, unit in metrics.per_layer_spec()
        if unit in COUNT_UNITS
    }
    for name in ("write_bytes_per_row", "live_bytes_per_row"):
        counts[name] = report["metrics"][name][0]
    return counts


@pytest.mark.parametrize("workload", sorted(MAX_OPS))
def test_counts_repeat_exactly(workload):
    first = traced_counts(workload)
    second = traced_counts(workload)
    diff = {k: (first[k], second[k]) for k in first if first[k] != second[k]}
    assert not diff, f"count metrics differ between identical runs: {diff}"
