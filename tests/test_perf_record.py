"""Full-registry PERF-record freshness guard (VERDICT r14 task #3).

Round 14's ``surv_kaplan_meier``/``surv_logrank_test`` registered after
the round's perf sweep and never received PERF rows, so the "every query
has a PERF line" invariant broke silently (PERF_r14 n_queries 436 of
438). Same committed-record pattern as ``test_registry_freshness``: the
committed ``PERF_sweep.json`` (written by ``tools/perf_sweep.py``) must
carry a record under ``"keys"`` for exactly the keys the live registry
exposes, and its ``"failures"`` map must be empty. A registration landing
after the last sweep is a red test, not a discipline item — re-run
``python tools/perf_sweep.py`` at HEAD.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

PERF_SWEEP = Path(__file__).resolve().parent.parent / "PERF_sweep.json"


def _sweep() -> dict:
    assert PERF_SWEEP.exists(), "no committed PERF_sweep.json record found"
    return json.loads(PERF_SWEEP.read_text())


def test_perf_record_covers_live_registry():
    from avro_parquet_spark_example_spark.registry import all_queries

    live = set(all_queries())
    recorded = set(_sweep()["keys"])
    added = sorted(live - recorded)
    dropped = sorted(recorded - live)
    if added or dropped:
        pytest.fail(
            f"{PERF_SWEEP.name} is stale vs the live registry "
            f"({len(recorded)} key records vs {len(live)} registered). "
            f"Registered-without-record: {added}; "
            f"record-without-registration: {dropped}. Re-run "
            f"`python tools/perf_sweep.py` at HEAD."
        )


def test_perf_record_reports_no_failures():
    failures = _sweep()["failures"]
    assert not failures, (
        f"{PERF_SWEEP.name} records failing queries — the committed perf "
        f"record must be green: {failures}"
    )
