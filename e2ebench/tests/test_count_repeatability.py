"""Per-layer counts repeat exactly: two traced runs of one seed, and the
traced units within each run, give identical job, stage, task and row
counts. Claims about job budgets are stated as these counts.

Slow (four traced Spark sessions, several minutes on 4 cores):

    python3 -m pytest e2ebench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "e2ebench", "run.py")

#: count metrics: every per-layer metric that is neither a time nor bytes
COUNT_SUFFIXES = (
    ".jobs", ".stages", ".tasks", ".rows_out", ".candidate_pairs",
    ".distinct_street_pairs", ".edges", ".components",
)


def _traced_run(workload: str, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    *_, record_line, result_line = out.stdout.strip().splitlines()
    result = json.loads(result_line)
    assert result["correct"] and result["failed"] == 0
    return result, json.loads(record_line[len("record "):])


def _counts(metrics: dict) -> dict:
    return {
        name: (m["value"] if isinstance(m, dict) else m)
        for name, m in metrics.items()
        if name.endswith(COUNT_SUFFIXES)
    }


@pytest.mark.parametrize("workload", ["registry_batch", "probe_stream"])
def test_traced_counts_repeat(workload):
    first, rec1 = _traced_run(workload, seed=3)
    second, rec2 = _traced_run(workload, seed=3)
    counts = _counts(first["metrics"])
    assert counts["spark.jobs"] > 0
    assert counts == _counts(second["metrics"])
    for rec in (rec1, rec2):
        per_unit = [_counts(u) for u in rec["traced_units"]]
        assert len(per_unit) >= 2
        assert all(u == per_unit[0] for u in per_unit), per_unit
