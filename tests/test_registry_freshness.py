"""Full-registry record-freshness guard (VERDICT r10 task #1).

Round 10 ended with pytest RED at HEAD because the final registration
(``vec_top2_pcs``, 0cfb9c7) landed AFTER the round's gate record and
suite run. ``tests/test_driver_window.py`` guards the first-100 window;
this test extends the same committed-record pattern to the FULL
registry: ``CORRECTNESS_LOCAL.md`` must list exactly the
keys the live registry exposes, at both recorded scale factors. A
registration landing after the round's gate record is now a red test,
not a discipline item — regenerate the record (``python
tools/check_oracle.py`` at sf0.01 and sf0.1) in the SAME commit as the
registration, or immediately after.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

LINE = re.compile(r"^(PASS|rows-only|FAIL)\s+([a-z0-9_]+):")


RECORD = REPO / "CORRECTNESS_LOCAL.md"


def _recorded_sections(path: Path) -> dict[str, set[str]]:
    """Map each '## sf...' section header to the set of query keys listed."""
    sections: dict[str, set[str]] = {}
    current: set[str] | None = None
    for ln in path.read_text().splitlines():
        if ln.startswith("## sf"):
            current = set()
            sections[ln] = current
            continue
        m = LINE.match(ln)
        if m and current is not None:
            current.add(m.group(2))
    return sections


def test_local_gate_record_matches_live_registry():
    from avro_parquet_spark_example_spark.registry import all_queries

    live = set(all_queries())
    sections = _recorded_sections(RECORD)
    assert len(sections) >= 2, (
        f"{RECORD.name}: expected gate listings for at least two scale "
        f"factors (sf0.01 and sf0.1), found sections: {list(sections)}"
    )
    for header, recorded in sections.items():
        added = sorted(live - recorded)
        dropped = sorted(recorded - live)
        if added or dropped:
            pytest.fail(
                f"{RECORD.name} section {header!r} is stale vs the live "
                f"registry ({len(recorded)} recorded vs {len(live)} live). "
                f"Registered-after-record: {added}; no-longer-registered: "
                f"{dropped}. Regenerate the full local gate record "
                f"(tools/check_oracle.py at both SFs) at the current HEAD."
            )


def test_local_gate_record_has_no_fail_lines():
    fails = [
        m.group(2)
        for ln in RECORD.read_text().splitlines()
        if (m := LINE.match(ln)) and m.group(1) == "FAIL"
    ]
    assert not fails, (
        f"{RECORD.name} records FAIL lines — the committed round record "
        f"must be green: {fails}"
    )
