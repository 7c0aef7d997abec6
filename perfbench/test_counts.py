"""Job and stage counts of the traced run repeat exactly across passes.

Runs the benchmark as it is measured, with tracing on and the fewest passes
(``--seconds 0``), and compares, op by op, the Spark jobs and stages charged
to the two traced passes. The counts come from the job-id delta in Spark's
status store, so jobs started by streaming threads are included.

    python3 -m pytest perfbench/test_counts.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDS = os.path.join(os.path.dirname(HERE), ".perfbench_runs", "records")


def _counts(record: dict, pass_no: int) -> dict[str, tuple[int, int]]:
    ops = {op["op_id"]: op["op"] for op in record["passes"][pass_no]["ops"]}
    counts: dict[str, tuple[int, int]] = {}
    for span in record["spans"]:
        if span["op_id"] in ops and span["parent"] is not None and span["name"] != "spark.job":
            jobs, stages = counts.get(ops[span["op_id"]], (0, 0))
            counts[ops[span["op_id"]]] = (
                jobs + span["attrs"]["jobs"],
                stages + span["attrs"]["stages"],
            )
    return counts


@pytest.mark.parametrize("workload", ["avro_io", "multi_job"])
def test_job_and_stage_counts_repeat(workload):
    seed = 11
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", "1"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(RECORDS, f"{workload}-seed{seed}-trace1.json")) as f:
        record = json.load(f)
    traced = [i for i, p in enumerate(record["passes"]) if p["traced"]]
    assert len(traced) == 2
    first, second = (_counts(record, i) for i in traced)
    assert set(first) == set(record["env"]["ops"])
    assert all(jobs > 0 for jobs, _ in first.values())
    assert first == second
