"""Driver-window freshness guard (VERDICT r9 task #8).

The round driver hash-checks only the FIRST 50 registry keys
alphabetically; this repo additionally sweeps the first 100 (the drift
buffer) with ``tools/run_driver_sim.py`` and commits the swept key list
in ``DRIVER_WINDOW.md``. The adopted rule — any new registration
sorting at position ≤ 100 re-runs the sweep before the round ends — was
honored by discipline alone in r7/r9 and silently skipped in r8; this
test encodes it: it goes red the moment a registration shifts the
committed window, until the sweep record is refreshed at HEAD.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
WINDOW = 100


RECORD = REPO / "DRIVER_WINDOW.md"


def _recorded_keys(path: Path) -> list[str]:
    lines = path.read_text().splitlines()
    start = None
    for i, ln in enumerate(lines):
        if "Window key list" in ln:
            start = i
            break
    assert start is not None, f"{path.name}: no 'Window key list' section"
    # skip the (possibly wrapped) intro sentence, which ends with '):'
    j = start
    while j < len(lines) and not lines[j].rstrip().endswith("):"):
        j += 1
    keys: list[str] = []
    for ln in lines[j + 1 :]:
        keys.extend(t for t in ln.split() if re.fullmatch(r"[a-z0-9_]+", t))
    return keys


def test_driver_window_record_matches_registry():
    from avro_parquet_spark_example_spark.registry import all_queries

    recorded = _recorded_keys(RECORD)
    assert len(recorded) == WINDOW, (
        f"{RECORD.name} lists {len(recorded)} keys, expected {WINDOW}"
    )
    current = sorted(all_queries())[:WINDOW]
    if recorded != current:
        added = sorted(set(current) - set(recorded))
        dropped = sorted(set(recorded) - set(current))
        pytest.fail(
            f"driver check window has shifted since {RECORD.name} "
            f"(entered: {added}; left: {dropped}) — re-run "
            "`python tools/run_driver_sim.py --repeat 5 --window 100` "
            "and refresh DRIVER_WINDOW.md before the round ends"
        )
