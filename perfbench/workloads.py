"""The benchmark's workloads: which ops a pass runs and how each op's output
is checked.

Every op drives the package through its public calls only: registry queries
through ``registry.get_query(name).fn`` (the plan is rebuilt for every op)
and ``DataFrame.collect``; the Avro path through
``sources.avro_datasource.write_distributed`` and the ``avrofile`` source.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

import duckdb
from pyspark.sql import functions as F

#: Avro twin of the ``orders`` table. ``o_orderdate`` is a Parquet timestamp
#: without a time zone (Spark's ``timestamp_ntz``), so its Avro type is
#: ``local-timestamp-micros``; ``timestamp-micros`` would read back as an
#: instant, a different Spark type.
ORDERS_AVRO_SCHEMA = {
    "type": "record",
    "name": "Order",
    "namespace": "perfbench",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_custkey", "type": "long"},
        {"name": "o_orderstatus", "type": "string"},
        {"name": "o_totalprice", "type": "double"},
        {"name": "o_orderdate", "type": {"type": "long", "logicalType": "local-timestamp-micros"}},
        {"name": "o_orderpriority", "type": "string"},
    ],
}
ORDERS_COLUMNS = [f["name"] for f in ORDERS_AVRO_SCHEMA["fields"]]


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    tables: tuple[str, ...]
    sf: float  # scale factor of the generated tables
    shuffled: bool  # whether the seed permutes op order within a pass
    # Converts --seconds into the run's count of timed passes. The count is
    # fixed rather than "until --seconds have passed": passes still speed up
    # as the JIT warms, so a count that depended on this run's speed would
    # let a slow run report earlier, slower passes.
    seconds_per_pass: float
    # Discarded passes run during set-up. A workload whose passes keep
    # speeding up as the JVM compiles its driver-side code needs more.
    warmup_passes: int


WORKLOADS = {
    # the paper's storage path: write a catalog table as Avro, read it back
    "avro_io": Workload(
        "avro_io", ("avro_write", "avro_read"), ("orders",), 0.1, False, 6.0, 1
    ),  # a pass takes 4-8 s; four passes in a 24 s run
    # queries that run Spark jobs while their plan is built: entity
    # resolution checkpoints its record set, and a streaming query runs its
    # micro-batches inside the build. At sf 0.01 the driver-side work
    # (planning, job scheduling, micro-batch commits) dominates.
    "multi_job": Workload(
        "multi_job",
        ("er_multipass_match", "stream_watermark_dedup"),
        ("customer", "events"),
        0.01,
        True,
        4.0,  # a warm pass takes 2-4 s; six passes in a 24 s run
        # passes speed up from ~10 s (cold) to ~2.3 s over the first ~12
        3,
    ),
}


def pass_order(workload: Workload, seed: int, pass_no: int) -> list[str]:
    ops = list(workload.ops)
    if workload.shuffled:
        random.Random(seed * 1_000_003 + pass_no).shuffle(ops)
    return ops


def digest(columns: list[str], rows: list) -> tuple[int, str]:
    """(row count, hash of the order-insensitive canonical row multiset)."""
    from tools.check_oracle import canon_rows

    canon = canon_rows([c.lower() for c in columns], rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


def oracle_digests(data_dir: str, tables: tuple[str, ...], names: tuple[str, ...]) -> dict:
    """name -> (sorted column names, digest) from the registry's DuckDB oracles."""
    from avro_parquet_spark_example_spark.registry import get_query

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.path.join(data_dir, 'duckdb_tmp')}'")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            rel = con.sql(get_query(name).oracle)
            cols = [c.lower() for c in rel.columns]
            out[name] = (sorted(cols), digest(cols, rel.fetchall()))
        return out
    finally:
        con.close()


def orders_fingerprint(df):
    """One-row aggregate over the orders columns: row count plus an
    order-insensitive exact checksum of every full row."""
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*ORDERS_COLUMNS).cast("decimal(38,0)")).alias("fp"),
    )
