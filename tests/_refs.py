"""Plain-Python helpers shared by the operator-family test files: fixture
readers and the small recomputations their independent references build on."""

from __future__ import annotations

import math


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").collect()


def _q(v) -> int:
    return int(math.floor(v * 100.0 + 0.5))


def _is_weekend(ts) -> int:
    return 1 if ts.isoweekday() in (6, 7) else 0


def _durations(spark, sf_dir):
    """(user_id, group, days, event) per user: days from first to last
    active day, event 1 when the user was inactive on the corpus's last day,
    else censored at that day; even ids are the treatment group."""
    per: dict[int, list] = {}
    dmax = None
    for r in _events(spark, sf_dir):
        d = r.ts.date()
        dmax = d if dmax is None or d > dmax else dmax
        lo, hi = per.get(r.user_id, (d, d))
        per[r.user_id] = (min(lo, d), max(hi, d))
    out = []
    for uid, (d0, d1) in per.items():
        grp = "treatment" if uid % 2 == 0 else "control"
        if (dmax - d1).days >= 1:
            out.append((uid, grp, (d1 - d0).days, 1))
        else:
            out.append((uid, grp, (dmax - d0).days, 0))
    return out


def _frame(spark, rows, schema):
    return spark.createDataFrame(rows, schema)

def _type1(xs: list[int], q: int) -> int:
    """Smallest value whose running count reaches ceil(q·n/100)."""
    n = len(xs)
    return xs[(q * n + 99) // 100 - 1]
