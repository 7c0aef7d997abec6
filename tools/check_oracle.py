"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf=0.01, then compares row count, column names, and an
order-insensitive canonicalized value multiset — a stricter local version of
the driver's row-count + schema + value-hash check, so any mismatch is caught
before a round ends.

Usage:
    python tools/check_oracle.py            # all queries
    python tools/check_oracle.py q1 q2 ...  # subset
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")


def canon_cell(v):
    """Canonicalize one value so Spark and DuckDB renderings compare equal."""
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, (np.integer,)):
        v = int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # deliberately NOT collapsing 3.0 == 3: the driver's value hash is
        # type-sensitive (round-1 fn_math failed on BIGINT-vs-DOUBLE render),
        # so a local int/float divergence must surface as a failure here and
        # be fixed by aligning output types on both engines.
        return repr(v)
    if isinstance(v, Decimal):
        # render decimals AS decimals (scale-preserving str): the driver's
        # hash distinguishes decimal from float/int renders, and the round-5
        # postmortem traced two rounds of misdiagnosis to this branch
        # collapsing Decimal→float. Spark and DuckDB both return
        # decimal(p,s) values as Python Decimal with the scale intact, so
        # equal types + equal values ⇒ equal strings here.
        return f"dec:{v}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon_cell(r[i]) for i in idx) for r in rows)


def compare(schema, srows, dcols, dtypes, drows) -> list[str]:
    """How a Spark result (``schema``, ``srows``) differs from its DuckDB
    oracle (column names, type strings, rows): row count, columns,
    driver-render types and the canonical value multiset. Empty if equal."""
    scols = schema.names
    problems = []
    # driver-render type lint (see tests/test_oracles.py): a HUGEINT
    # column hashes differently from Spark's BIGINT on the driver even
    # when fetchall() values compare equal below — fail it here so the
    # local gate can never again pass what the driver fails.
    hug = [c for c, t in zip(dcols, dtypes) if "HUGEINT" in t]
    if hug:
        problems.append(f"oracle emits HUGEINT (driver render bug): {hug}")
    spark_types = {f.name: f.dataType.simpleString() for f in schema.fields}
    for c, t in zip(dcols, dtypes):
        if "DECIMAL" in t:
            want = "decimal" + t.split("DECIMAL", 1)[1].replace(" ", "")
            # a DuckDB DECIMAL column with no Spark counterpart must
            # report FAIL, not raise: the column-name check comes later
            got = spark_types.get(str(c).lower(), "missing-column")
            if got != want.lower():
                problems.append(
                    f"decimal render mismatch on {c}: duck={t} spark={got}"
                )
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    if sorted(scols) != sorted(c.lower() for c in map(str, dcols)):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
    if not problems:
        sc, dc = canon_rows(scols, srows), canon_rows(dcols, drows)
        if sc != dc:
            diff = next(
                (i for i, (a, b) in enumerate(zip(sc, dc)) if a != b), None
            )
            detail = f" first diff row {diff}:\n  spark={sc[diff]}\n  duck ={dc[diff]}" if diff is not None else ""
            problems.append(f"value mismatch{detail}")
    return problems


def _prev_listing_timings() -> tuple[str, dict[str, float]]:
    """Per-query seconds from the committed CORRECTNESS_LOCAL.md
    record's section for THIS scale factor — the only like-for-like
    elevation comparator (same fresh-plan gate protocol, same SF; the
    PERF sweep is plan-cached/warm, so fresh iterative queries are
    structurally >2x it and it cannot distinguish busy-machine from real
    cost). Sums the per-engine split when present (r11+ listings) and
    accepts the single combined number of older listings."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "CORRECTNESS_LOCAL.md")
    if not os.path.exists(path):
        return "", {}
    sf_tag = os.path.basename(SF_DIR.rstrip("/"))  # e.g. sf0.01
    timings: dict[str, float] = {}
    in_section = False
    for ln in open(path):
        if ln.startswith("## "):
            in_section = ln.startswith(f"## {sf_tag}") and not ln.startswith(
                f"## {sf_tag}0"
            )
            continue
        if not in_section:
            continue
        m = re.match(r"(?:PASS|rows-only)\s+([a-z0-9_]+):.*?\(([^)]*)\)", ln)
        if m:
            secs = [float(x) for x in re.findall(r"(\d+(?:\.\d+)?)s", m.group(2))]
            if secs:
                timings[m.group(1)] = sum(secs)
    return os.path.basename(path), timings


def main(names: list[str]) -> int:
    import duckdb

    import __spark_entry__ as e
    from avro_parquet_spark_example_spark.session import get_session, release
    from avro_parquet_spark_example_spark.sources.catalog import TABLES

    qs, oracles = e.queries(), e.oracle_sql()
    if names:
        qs = {k: v for k, v in qs.items() if k in names}

    spark = get_session(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    # Machine-elevation control (VERDICT r10 task #5): the r10 gate
    # listings embedded elevated timings with no marker, and the judge
    # re-measured 2-4x faster in isolation. Record the bench calibration
    # probe at listing time, and flag each line that runs >2x (and >+1s
    # over) its time in the previous committed listing at the SAME SF —
    # an annotated line reads as "machine was busy or cost changed", an
    # unannotated slow line is the query's real steady cost.
    from bench import _calibrate, _calibrate_scan

    calib = _calibrate(spark)
    # the scan/IO probe too (VERDICT r11 task #3): CPU calib alone sat
    # low during the r11 q1/topk flag churn while scan-bound queries ran
    # ~1.5x — a listing header without the IO dimension can't tell a
    # busy page cache from a real regression.
    calib_scan = _calibrate_scan(spark, SF_DIR)
    prev_ref, prev = _prev_listing_timings()
    print(
        f"# calib_sec: {calib} calib_scan_sec: {calib_scan} (machine "
        f"controls; elevation flags vs "
        f"{prev_ref or 'no previous listing'} same-SF lines, fired when "
        f"total > 2x prev AND > prev + 1s)"
    )

    def elevation(name: str, total_s: float) -> str:
        p = prev.get(name)
        if p is not None and total_s > 2 * p and total_s > p + 1.0:
            return f" [ELEVATED: {total_s:.2f}s vs {p:.2f}s in {prev_ref}]"
        return ""

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        # drop the previous key's plan, tables and the checkpoints they
        # hold, so the gate keeps one key's state at a time
        release(spark)
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(
                f"rows-only {name}: {len(srows)} rows "
                f"(spark {spark_s:.2f}s){elevation(name, spark_s)}"
            )
            n_rowsonly += 1
            continue
        t1 = time.time()
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            n_fail += 1
            continue
        oracle_s = time.time() - t1
        problems = compare(sdf.schema, srows, dcols, dtypes, drows)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            # per-engine split (VERDICT r10 task #4): a slow line must say
            # WHICH engine was slow — r10's 46.5s hits line conflated the
            # Spark query, the unrolled-CTE DuckDB oracle, and machine state.
            print(
                f"PASS {name}: {len(srows)} rows (spark {spark_s:.2f}s, "
                f"oracle {oracle_s:.2f}s)"
                f"{elevation(name, spark_s + oracle_s)}"
            )
            n_pass += 1

    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
