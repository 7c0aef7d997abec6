"""Full driver-round replica in one process: plain (unconfigured) session →
``entry`` smoke → every ``queries()`` entry vs its DuckDB oracle at sf0.01.

This is the closest local approximation of the per-round verify run —
stricter than ``check_oracle.py`` in one respect: the session is built the
way the driver builds it (no engine configs), so it also proves the
runtime-configuration path.

Usage:
    python tools/run_driver_sim.py                       # full sweep, once
    python tools/run_driver_sim.py --repeat 20 --only curation_token_budget_select
    python tools/run_driver_sim.py --repeat 5 --window 50
                                   # 5x sweep over the 50 alphabetically-first
                                   # keys (the driver's actual check window)

``--repeat N`` re-runs the selected key set N times in the same session —
each repeat re-executes the Spark plan from scratch (fresh jobs, fresh task
scheduling), which is exactly the axis a sketch/scheduling-dependent
nondeterminism varies along.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import compare  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeat", type=int, default=1, help="run the key set N times")
    ap.add_argument("--only", action="append", default=None, help="restrict to these keys")
    ap.add_argument(
        "--window",
        type=int,
        default=None,
        help="restrict to the N alphabetically-first keys (driver check window)",
    )
    ap.add_argument("--skip-smoke", action="store_true", help="skip the entry() smoke test")
    ap.add_argument(
        "--driver-memory",
        default="4g",
        help="JVM heap for the sim session (default 4g). The REAL driver "
        "runs a 1g-default plain session over its 50-key window — "
        "measured peak there is ~190 MB, 5x headroom. A FULL-registry "
        "sim is a different regime: Spark's local mode retains ~2.8 MB "
        "per DISTINCT executed query (measured r10: heap climbs "
        "linearly 49->999 MB across 340 distinct queries and OOMs at "
        "~#335 even with gc + clearCache + capped UI retention, while "
        "ONE query repeated 350x grows only 49->94 MB — so it is "
        "per-unique-plan retention incl. live broadcast relations, not "
        "anything a query can release). Heap size is harness capacity, "
        "NOT engine configuration: the session stays otherwise plain, "
        "so the engine's runtime self-configuration is still what's "
        "under test.",
    )
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from avro_parquet_spark_example_spark.session import release

    t0 = time.time()
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", args.driver_memory)
        .getOrCreate()
    )
    if not args.skip_smoke:
        smoke = entrymod.entry(spark).collect()
        assert len(smoke) > 0, "entry() returned no rows"
        print(f"t1 smoke: {len(smoke)} rows")

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    sf_dir = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
        )

    keys = sorted(queries)
    if args.only:
        missing = [k for k in args.only if k not in queries]
        if missing:
            print(f"unknown keys: {missing}", file=sys.stderr)
            return 2
        keys = sorted(args.only)
    elif args.window:
        keys = keys[: args.window]

    # Oracle results are deterministic — compute once per key, reuse per repeat.
    oracle_cache: dict[str, tuple[list, list, list]] = {}
    fails: list[str] = []
    n_checked = 0
    import gc

    for rep in range(1, args.repeat + 1):
        rep_fails: list[str] = []
        for ki, name in enumerate(keys):
            # Session hygiene every 20 keys (r10): a full-registry sim runs
            # 350+ queries in ONE plain 1g-heap JVM — far beyond the real
            # driver's 50-key window — and the eager checkpoints/broadcasts
            # each query materializes are only reclaimed by ContextCleaner
            # AFTER Python drops its DataFrame refs. Without a periodic
            # gc.collect() the py4j refs outlive the loop iteration and the
            # heap fills at ~query 330 (reproduced: OutOfMemoryError in
            # stage 2879 at vec_power_iteration_top_pc, killing the JVM —
            # the r9 'transient' made deterministic). This is harness
            # hygiene, not an engine fix: no real driver runs 352 queries
            # without releasing its result handles. The gc.collect() cannot
            # free what the session's plan cache holds, so release() drops
            # the cached plans and tables first.
            if ki % 20 == 0:
                release(spark)
                gc.collect()
                spark.catalog.clearCache()
            try:
                df = queries[name](spark, sf_dir)
                srows = [tuple(r) for r in df.collect()]
                if name in oracles:
                    if name not in oracle_cache:
                        rel = con.sql(oracles[name])
                        oracle_cache[name] = (
                            list(rel.columns),
                            [str(t) for t in rel.types],
                            rel.fetchall(),
                        )
                    if compare(df.schema, srows, *oracle_cache[name]):
                        rep_fails.append(name)
                    n_checked += 1
            except Exception as exc:
                # one flat line of the root message — a bare class name
                # hides actionable detail (round-9 lesson: a Py4JJavaError
                # with no text cost a reproduce cycle)
                msg = " ".join(str(exc).split())[:300]
                rep_fails.append(f"{name}: {type(exc).__name__}: {msg}")
        if args.repeat > 1:
            print(f"rep {rep}/{args.repeat}: fails: {rep_fails or 'none'}")
        fails.extend(f"rep{rep}:{f}" for f in rep_fails)
    print(
        f"t2: {len(keys)} keys x {args.repeat} reps ({n_checked} oracle checks), "
        f"fails: {fails or 'none'}, wall: {time.time() - t0:.0f}s"
    )
    # Registry-wide persisted-block leak gate (r16, the kcenter leak
    # test extended to the full sweep — VERDICT r15 checkpoint hygiene):
    # eager localCheckpoints linger until the async ContextCleaner runs,
    # which is fine ONLY under the bounded-frame rule. After a GC +
    # settle, every SURVIVING persisted RDD must be small — a
    # corpus-scale leaked block (the old kcenter regression class, or a
    # corpus-wide localCheckpoint) trips this loudly; bounded grids and
    # 30k-sample checkpoints pass regardless of cleaner timing.
    gc.collect()
    spark.catalog.clearCache()
    time.sleep(2.0)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    leak_cap = 64 * 1024 * 1024  # far above every bounded frame at sf0.01
    big = [
        (i.id(), i.name(), i.memSize() + i.diskSize())
        for i in infos
        if i.memSize() + i.diskSize() > leak_cap
    ]
    print(
        f"t3 leak gate: {len(infos)} persisted RDDs after sweep, "
        f"oversized(>64MB): {big or 'none'}"
    )
    if big:
        fails.append(f"leaked_persisted_blocks:{big}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
