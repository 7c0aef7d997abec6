"""Grow the base corpus by an integer factor and time registry keys on both.

    python tools/scaleup.py --factor N [key ...]

No keys means the whole registry. The grown corpus is written once, under
``SCRATCH/<base name>_x<N>``, from $SCALEUP_BASE (default: perf_sweep's
sf0.1). Each grown table is the union of N copies, and copy 0 is always
the base table itself:

* ``events`` — disjoint isomorphic copies: user ids shift by 10^6, event
  ids by 10^7 and timestamps by 366 days per copy, so each copy is its own
  co-occurrence component and every graph statistic grows exactly N×;
* ``orders``, ``customer``, ``lineitem`` — key shifts by the base key range
  per copy, the same shift on both sides of each foreign key
  (``o_custkey``/``c_custkey``, ``l_orderkey``/``o_orderkey``). lineitem's
  part and supplier keys shift too, so the part–supplier graph grows; joins
  to the linked ``part``/``supplier`` tables match copy 0 only;
* ``documents`` — doc ids shift by the base id range per copy; copy i > 0
  rewrites 'e' and 'a' to a letter pair of its own, so cross-copy shingle
  Jaccard falls far below the near-duplicate thresholds ("more docs, same
  distribution"). Grown ids stay below 100000, where the dedup fixtures'
  injected copies start (``dedup.in_injected_universe``), while
  N × base docs ≤ 100000: up to ×20 of sf0.1;
* ``embeddings`` — vec ids shift by 10^7; copy i > 0 adds a deterministic
  per-(vec_id, dim) jitter of at most ±0.02, so copies are distinct points
  from the same distribution;
* ``region``, ``nation``, ``supplier``, ``part`` — linked, not copied.

Each key is profiled by ``perf_sweep.Profiler`` on the base and the grown
corpus. The line per key prints both walls (build + action) and
α = ln(t_N / t_1) / ln(N); 1.0 is linear.
"""

from __future__ import annotations

import argparse
import functools
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from avro_parquet_spark_example_spark.sources.catalog import load, table_path  # noqa: E402
from tools.perf_sweep import SF_DIR, Profiler  # noqa: E402

BASE = os.environ.get("SCALEUP_BASE", SF_DIR)
SCRATCH = "/tmp/avro_parquet_spark_example_spark_scaleup"
KEYSPACE = 10_000_000
JITTER_EPS = 0.02
#: per-copy replacement letters for 'e' and 'a' (neither letter itself, so
#: no copy i > 0 keeps a text unchanged)
LETTERS = "bcdfghijklmnopqrstuvwxyz"
LINKED = ("region", "nation", "supplier", "part")


def _copies(df: DataFrame, factor: int, copy) -> DataFrame:
    """Union of copy 0 (``df`` itself) and ``copy(df, i)`` for 0 < i < factor."""
    return functools.reduce(
        DataFrame.unionByName, [df] + [copy(df, i) for i in range(1, factor)]
    )


def _key_range(spark, base: str, table: str, col: str) -> int:
    return spark.read.parquet(table_path(base, table)).agg(F.max(col)).first()[0] + 1


def _shifted(spark, base: str, table: str, factor: int, shifts: dict[str, int]):
    return _copies(
        spark.read.parquet(table_path(base, table)),
        factor,
        lambda df, i: df.withColumns({c: F.col(c) + i * step for c, step in shifts.items()}),
    )


def grow_events(spark, base: str, factor: int) -> DataFrame:
    return _copies(
        load(spark, base, "events"),
        factor,
        lambda df, i: df.withColumns({
            "user_id": F.col("user_id") + i * 1_000_000,
            "ts": F.col("ts") + F.expr(f"INTERVAL {i * 366} DAYS"),
            "event_id": F.col("event_id") + i * KEYSPACE,
        }),
    )


def grow_orders(spark, base: str, factor: int) -> DataFrame:
    return _shifted(spark, base, "orders", factor, {
        "o_orderkey": _key_range(spark, base, "orders", "o_orderkey"),
        "o_custkey": _key_range(spark, base, "customer", "c_custkey"),
    })


def grow_customer(spark, base: str, factor: int) -> DataFrame:
    return _shifted(spark, base, "customer", factor, {
        "c_custkey": _key_range(spark, base, "customer", "c_custkey"),
    })


def grow_lineitem(spark, base: str, factor: int) -> DataFrame:
    return _shifted(spark, base, "lineitem", factor, {
        "l_orderkey": _key_range(spark, base, "orders", "o_orderkey"),
        "l_partkey": _key_range(spark, base, "lineitem", "l_partkey"),
        "l_suppkey": _key_range(spark, base, "lineitem", "l_suppkey"),
    })


def grow_documents(spark, base: str, factor: int) -> DataFrame:
    n_doc = _key_range(spark, base, "documents", "doc_id")

    def copy(df, i):
        pair = LETTERS[(i - 1) % len(LETTERS)] + LETTERS[(i - 1) // len(LETTERS) % len(LETTERS)]
        return df.withColumns({
            "doc_id": F.col("doc_id") + i * n_doc,
            "text": F.translate("text", "ea", pair),
        })

    return _copies(spark.read.parquet(table_path(base, "documents")), factor, copy)


def grow_embeddings(spark, base: str, factor: int) -> DataFrame:
    def copy(df, i):
        vec_id = F.col("vec_id") + i * KEYSPACE
        jitter = F.transform(
            "embedding",
            lambda x, dim: (
                x.cast("double")
                + (F.pmod(F.xxhash64(vec_id, dim), F.lit(2001)).cast("double") - 1000.0)
                / 1000.0
                * JITTER_EPS
            ).cast("float"),
        )
        return df.withColumns({"vec_id": vec_id, "embedding": jitter})

    return _copies(spark.read.parquet(table_path(base, "embeddings")), factor, copy)


#: the one synthesizer per grown table
GROWN = {
    "events": grow_events,
    "orders": grow_orders,
    "customer": grow_customer,
    "lineitem": grow_lineitem,
    "documents": grow_documents,
    "embeddings": grow_embeddings,
}


def grow(spark, base: str, factor: int, out: str) -> str:
    """Write the ×factor corpus of ``base`` to ``out`` (kept once complete)."""
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for table, synth in GROWN.items():
        synth(spark, base, factor).write.parquet(table_path(out, table))
    for table in LINKED:
        os.symlink(os.path.abspath(table_path(base, table)), table_path(out, table))
    open(marker, "w").close()
    return out


def run(spark, base: str, factor: int, names: list[str], out: str) -> int:
    """Profile each key on ``base`` and its ×factor corpus; prints α per key
    and returns the number of keys that failed."""
    big = grow(spark, base, factor, out)
    profiler = Profiler(spark)
    failures = 0
    for name in names:
        try:
            r1, rn = (profiler.profile(name, d) for d in (base, big))
        except Exception as exc:  # noqa: BLE001 - record and continue
            failures += 1
            print(f"FAIL {name}: {type(exc).__name__}: {exc}"[:240], flush=True)
            continue
        t1, tn = (r["build_s"] + r["action_s"] for r in (r1, rn))
        alpha = math.log(max(tn, 1e-9) / max(t1, 1e-9)) / math.log(factor)
        print(
            f"{name}: 1x {t1:.2f}s ({r1['jobs']} jobs) | {factor}x {tn:.2f}s "
            f"({rn['jobs']} jobs) | alpha {alpha:.2f}",
            flush=True,
        )
    profiler.close()
    print(f"# {len(names)} keys, {failures} failures ({base} x{factor} -> {big})")
    return failures


def main(argv: list[str] | None = None) -> int:
    from avro_parquet_spark_example_spark.registry import all_queries
    from avro_parquet_spark_example_spark.session import get_session

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--factor", type=int, required=True)
    ap.add_argument("keys", nargs="*", help="registry keys (default: all)")
    args = ap.parse_args(argv)
    spark = get_session(app_name="scaleup")
    names = args.keys or list(all_queries())
    out = os.path.join(SCRATCH, f"{os.path.basename(BASE.rstrip('/'))}_x{args.factor}")
    return 1 if run(spark, BASE, args.factor, names, out) else 0


if __name__ == "__main__":
    raise SystemExit(main())
