"""Copy-paste guard over the package source and the test suite, plus two
layout guards (no Spark).

A fix to a copied block has to be made once per copy, and copies drift. These
tests fail when a run of ``RUN`` consecutive code lines appears twice under
``avro_parquet_spark_example_spark/`` or twice under ``tests/``. Each line is
stripped first; blank lines, ``#`` comments and lines that are only a closing
bracket, an opening parenthesis or a docstring quote are skipped, so
formatting alone neither hides nor creates a copy. Shared fragments belong
in one helper in the module that owns them (for oracles: one oracle-text
constant or builder; for test references: ``tests/_refs.py``).

A pair that must stay apart goes in ``ALLOWED`` with a one-line reason,
keyed by the two copies' ``(file, first line text)`` of the shared run.

The layout guards pin that round-named test files only go away (each test
lives in the family file of the module it exercises) and that every
``/tmp`` path in the package is built from one of its two scratch roots.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

TESTS = Path(__file__).resolve().parent
PACKAGE = TESTS.parent / "avro_parquet_spark_example_spark"

#: Window length, in retained code lines.
RUN = 12

#: Lines that carry no code of their own.
_SKIP = {")", "]", "}", "),", "(", '"""'}

#: Kept copies: frozenset of the two "file:line-text" keys -> reason.
ALLOWED: dict[frozenset, str] = {}

#: Kept copies under ``tests/``, keyed like ``ALLOWED``.
ALLOWED_TESTS: dict[frozenset, str] = {}

#: Round-named test files whose tests have not yet moved to their family
#: files. The set only shrinks; the guard goes when it is empty.
ROUND_FILES = {
    "test_round5_ops.py",
    "test_round5_late_ops.py",
    "test_round11_ops.py",
}

#: The package's scratch roots, ``(file, module-level name)``: every other
#: scratch path is built from them, so moving them moves all scratch output.
SCRATCH_ROOTS = [("sources/scans.py", "SCRATCH"), ("streaming/stateful.py", "SCRATCH")]


def _code_lines(path: Path) -> list[tuple[int, str]]:
    out = []
    for no, raw in enumerate(path.read_text().splitlines(), 1):
        s = raw.strip()
        if s and not s.startswith("#") and s not in _SKIP:
            out.append((no, s))
    return out


def duplicate_runs(root: Path, run: int = RUN) -> list[tuple[str, int, str, int]]:
    """(file_a, line_a, file_b, line_b) for each place where ``run``
    consecutive code lines of ``root``'s ``.py`` files repeat; consecutive
    overlapping windows of one copy pair are reported once, at their start."""
    seen: dict[tuple[str, ...], list[tuple[str, int]]] = defaultdict(list)
    for path in sorted(root.rglob("*.py")):
        lines = _code_lines(path)
        rel = str(path.relative_to(root))
        for k in range(len(lines) - run + 1):
            window = tuple(s for _, s in lines[k : k + run])
            seen[window].append((rel, k))
    line_of = {}
    for path in sorted(root.rglob("*.py")):
        line_of[str(path.relative_to(root))] = [n for n, _ in _code_lines(path)]
    starts = set()
    for occ in seen.values():
        for i in range(len(occ)):
            for j in range(i + 1, len(occ)):
                starts.add((occ[i], occ[j]))
    found = []
    for (fa, ka), (fb, kb) in sorted(starts):
        if ((fa, ka - 1), (fb, kb - 1)) in starts:
            continue  # continuation of a run already reported
        found.append((fa, line_of[fa][ka], fb, line_of[fb][kb]))
    return found


def _key(root: Path, rel: str, line: int) -> str:
    text = (root / rel).read_text().splitlines()[line - 1].strip()
    return f"{rel}:{text}"


def test_no_copied_code_blocks():
    dups = [
        (fa, la, fb, lb)
        for fa, la, fb, lb in duplicate_runs(PACKAGE)
        if frozenset((_key(PACKAGE, fa, la), _key(PACKAGE, fb, lb)))
        not in ALLOWED
    ]
    assert not dups, (
        f"{len(dups)} runs of {RUN}+ identical code lines appear twice; "
        "extract each into one shared helper (or allow-list the pair with "
        "a reason): "
        + "; ".join(f"{fa}:{la} == {fb}:{lb}" for fa, la, fb, lb in dups)
    )


def test_no_copied_code_blocks_in_tests():
    dups = [
        (fa, la, fb, lb)
        for fa, la, fb, lb in duplicate_runs(TESTS)
        if frozenset((_key(TESTS, fa, la), _key(TESTS, fb, lb)))
        not in ALLOWED_TESTS
    ]
    assert not dups, "copied test code: " + "; ".join(
        f"{fa}:{la} == {fb}:{lb}" for fa, la, fb, lb in dups
    )


def test_guard_flags_a_copied_block(tmp_path):
    """Negative control: a 12-line block pasted into a second module is
    found, even when the copy is re-indented and gains blank lines and
    comments, and an 11-line copy is not."""
    block = [f"x{i} = compute({i})" for i in range(RUN)]
    (tmp_path / "a.py").write_text("\n".join(["import os"] + block) + "\n")
    spaced = []
    for line in block:
        spaced += ["    " + line, "", "    # note", "    )"]
    (tmp_path / "b.py").write_text("def f():\n" + "\n".join(spaced) + "\n")
    assert duplicate_runs(tmp_path) == [("a.py", 2, "b.py", 2)]
    (tmp_path / "b.py").write_text("\n".join(block[1:]) + "\n")
    assert duplicate_runs(tmp_path) == []


def test_no_new_round_named_test_files():
    assert {p.name for p in TESTS.glob("test_round*.py")} == ROUND_FILES


def _tmp_literals(root: Path) -> list[tuple[str, object]]:
    """Each string constant under ``root`` that starts with ``/tmp``, as
    (file, module-level name it defines) or, elsewhere, (file, line)."""
    out = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        names = {
            id(n.value): n.targets[0].id
            for n in tree.body
            if isinstance(n, ast.Assign) and isinstance(n.targets[0], ast.Name)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith("/tmp")
            ):
                rel = str(path.relative_to(root))
                out.append((rel, names.get(id(node), node.lineno)))
    return out


def test_tmp_paths_come_from_the_scratch_roots():
    assert _tmp_literals(PACKAGE) == SCRATCH_ROOTS
