"""Environment-drift guards (round-3 postmortem).

The sandbox's Spark changed how Parquet INT64 TIMESTAMP(NANOS) is read
between rounds (LongType-under-nanosAsLong → TIMESTAMP_NTZ, flag ignored),
silently breaking six event-time queries. These tests pin the defenses:

  * ``normalize_events`` is total over every observed read type and raises
    on a new one;
  * ``ts_us`` is the single epoch-µs derivation and agrees across dtypes;
  * ``verify_events_readable`` turns drift into a loud boot error;
  * ``configure`` reports (not swallows) configs that fail to apply;
  * an UNCONFIGURED session can still run an event-time query — correctness
    must not depend on a config the engine can't verify is honored.

The engine's per-session state (``session.session_state``) is pinned here
too: a registry key builds once per session even when threads race,
``release`` frees the checkpoints that cached plans hold, and
``newSession()`` siblings keep separate plans and data source
registrations.
"""

from __future__ import annotations

import datetime
import gc
import sys
import threading
import time
import warnings

import pytest
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import Query, _wrap, all_queries
from avro_parquet_spark_example_spark import session
from avro_parquet_spark_example_spark.session import (
    configure,
    register_source,
    release,
    session_state,
    verify_events_readable,
)
from avro_parquet_spark_example_spark.sources.catalog import (
    HANDLED_TS_DTYPES,
    load,
    normalize_events,
    ts_us,
)

EPOCH_US = 1704067798778549  # 2024-01-01T00:09:58.778549Z
WALL = datetime.datetime(2024, 1, 1, 0, 9, 58, 778549)


def test_events_ts_reads_as_handled_dtype(spark, sf_dir):
    dtype = verify_events_readable(spark, sf_dir)
    assert dtype in HANDLED_TS_DTYPES


def test_normalize_events_yields_timestamp(spark, sf_dir):
    assert dict(load(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"


def test_normalize_events_rejects_unknown_dtype(spark):
    df = spark.createDataFrame([("x",)], ["ts"])  # string ts = drift
    with pytest.raises(TypeError, match="unhandled dtype"):
        normalize_events(df)


def test_ts_us_total_over_read_types(spark):
    """The same instant through all three read paths → identical epoch µs."""
    nanos = spark.createDataFrame([(EPOCH_US * 1000 + 999,)], ["ts"])  # +nanos
    ntz = spark.createDataFrame([(WALL,)], ["ts"]).select(
        F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    tstamp = spark.createDataFrame([(WALL,)], ["ts"]).select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    for df in (nanos, ntz, tstamp):
        [row] = df.select(ts_us(df).alias("us")).collect()
        assert row.us == EPOCH_US  # nanos truncate, never round
    with pytest.raises(TypeError, match="unhandled dtype"):
        ts_us(spark.createDataFrame([("x",)], ["ts"]))


def test_configure_reports_unapplied_configs(spark):
    # On the pinned sandbox Spark everything is runtime-settable, so
    # configure warns about nothing.
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        configure(spark)
    assert [w for w in caught if issubclass(w.category, RuntimeWarning)] == []


def test_configure_warns_on_static_config(spark, monkeypatch):
    """A config Spark refuses at runtime is reported by name, not
    swallowed: a static conf stands in for a version-dependent one."""
    monkeypatch.setattr(
        session, "RUNTIME_CONFIGS", {"spark.sql.warehouse.dir": "elsewhere"}
    )
    with pytest.warns(RuntimeWarning, match="spark.sql.warehouse.dir"):
        configure(spark)


def test_unconfigured_session_runs_event_time_query(spark, sf_dir):
    """A sibling session with DEFAULT configs (no nanosAsLong, no engine
    setup) must still run an event-time query end-to-end: correctness lives
    in normalize_events/ts_us, not in unverifiable config flags."""
    plain = spark.newSession()
    events = normalize_events(
        plain.read.parquet(f"{sf_dir}/events.parquet")
    )
    n = (
        events.select(ts_us(events).alias("us"))
        .filter(F.col("us") > 0)
        .count()
    )
    assert n == events.count() > 0


def test_streaming_state_store_is_rocksdb(spark):
    """r10: configure() routes streaming state to RocksDB (off-heap /
    on-disk) — large keyed state must scale with disk, not executor
    heap, and heap-resident HDFS-backed state maps were a measured
    contributor to long-session heap pressure (SOAK_r10.md)."""
    from avro_parquet_spark_example_spark.session import configure

    configure(spark)
    assert (
        "RocksDBStateStoreProvider"
        in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    )


def test_upsert_partition_overwrite_keeps_session_conf(
    spark, sf_dir, monkeypatch
):
    """The dynamic partition overwrite is a per-write option: the query
    never writes ``partitionOverwriteMode`` into the shared session conf
    (a concurrent write there would silently turn dynamic too), and its
    result still matches the DuckDB oracle."""
    import duckdb

    import __spark_entry__ as e
    from tools.check_oracle import canon_rows

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    set_keys = []
    real_set = spark.conf.set

    def recording_set(k, v):
        set_keys.append(k)
        return real_set(k, v)

    monkeypatch.setattr(spark.conf, "set", recording_set)
    df = e.queries()["upsert_partition_overwrite"](spark, sf_dir)
    got = canon_rows(df.columns, df.collect())
    assert key not in set_keys
    assert spark.conf.get(key) == before

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    rel = con.sql(e.oracle_sql()["upsert_partition_overwrite"])
    assert got == canon_rows(rel.columns, rel.fetchall())
    assert got


def test_racing_threads_build_a_key_once(spark, sf_dir):
    """Threads asking at once for one unbuilt key (more threads than
    cores, with a short switch interval): the build runs once and every
    thread gets the same plan. An unlocked check-then-set built it once per
    thread, paying its build jobs each time."""
    calls = []

    def fn(spark, sf_dir):
        calls.append(threading.get_ident())
        time.sleep(0.3)
        return spark.range(1)

    run = _wrap(Query(name="race_probe", fn=fn, oracle=None, doc=""))
    got = [None] * 8

    def ask(i):
        got[i] = run(spark, sf_dir)

    threads = [threading.Thread(target=ask, args=(i,)) for i in range(len(got))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert got[0] is not None and all(df is got[0] for df in got)


def test_release_frees_cached_checkpoints(spark, sf_dir):
    """Cached plans pin the eager localCheckpoints their lineage holds;
    ``release`` drops the plans, and a GC then frees exactly those RDDs.
    Matched by RDD id, not by count (see
    ``test_kcenter_leaves_no_cached_blocks``)."""

    def stored_ids() -> set:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {info.id() for info in infos}

    release(spark)  # build afresh, whatever earlier tests cached
    queries = all_queries()
    before = stored_ids()
    for key in ("graph_degree_hist", "graph_triangle_count", "graph_kcore_peel"):
        queries[key](spark, sf_dir)
    held = stored_ids() - before
    assert held, "the keys no longer checkpoint while they build"
    release(spark)
    deadline = time.time() + 15
    while held & stored_ids() and time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert not held & stored_ids()


def test_sibling_sessions_keep_separate_plans(spark, sf_dir):
    """A ``newSession()`` sibling builds its own plan for a key; each
    session returns its own plan object on every call, and releasing one
    session leaves the other's plans in place."""
    run = all_queries()["agg_scan_group"]
    sibling = spark.newSession()
    mine, theirs = run(spark, sf_dir), run(sibling, sf_dir)
    assert mine is not theirs
    assert run(spark, sf_dir) is mine and run(sibling, sf_dir) is theirs
    assert session_state(sibling) is not session_state(spark)
    release(sibling)
    assert run(spark, sf_dir) is mine
    assert run(sibling, sf_dir) is not theirs


def test_register_source_once_per_session(spark, monkeypatch):
    """A Python data source registers once per session, ``release`` keeps
    the record (the registration lives in the JVM session), and a
    ``newSession()`` sibling registers its own."""
    from pyspark.sql.datasource import DataSource, DataSourceRegistration

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return "probe_source"

    registered = []

    def register(self, source):
        registered.append(source)

    monkeypatch.setattr(DataSourceRegistration, "register", register)
    register_source(spark, Probe)
    register_source(spark, Probe)
    release(spark)
    register_source(spark, Probe)
    assert registered == [Probe]
    register_source(spark.newSession(), Probe)
    assert registered == [Probe, Probe]
