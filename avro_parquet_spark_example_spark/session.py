"""SparkSession construction and configuration.

The reference ran on Spark 1.x with a hand-built ``SQLContext`` (SURVEY.md
§3.1); the modern equivalent is a configured ``SparkSession``. Two entry
points:

  * :func:`get_session` — build a session with every config the engine needs
    (used by tests and ``bench.py``).
  * :func:`configure` — apply the runtime-settable subset to an EXISTING
    session (used by ``__spark_entry__.py``: the driver owns the session, so
    we must configure it in-place; all configs below were verified
    runtime-settable on PySpark 4.1.2).

Config rationale:
  * ``spark.sql.legacy.parquet.nanosAsLong=true`` — HISTORICAL: older sandbox
    Spark builds rejected the ``events`` table's Parquet INT64
    TIMESTAMP(NANOS) ``ts`` column without it (PARQUET_TYPE_ILLEGAL) and read
    it as LongType nanos with it. The CURRENT Spark 4.1.2 build IGNORES the
    flag and reads the column as TIMESTAMP_NTZ (probe-verified 2026-08-13).
    The flag stays set for older builds; ``sources.catalog.normalize_events``
    is total over both read types (plus plain TIMESTAMP) and raises on
    anything new, and :func:`verify_events_readable` turns any future drift
    into a loud boot-time failure instead of six broken queries.
  * ``spark.sql.session.timeZone=UTC`` — DuckDB (the correctness oracle) and
    the synthetic data are timezone-naive; UTC makes Spark's timestamp
    rendering match.
  * Arrow enabled — pandas UDF / toPandas hot paths use Arrow batches.
  * AQE enabled (+ skew join) — runtime re-planning is the 100 TB answer for
    skewed joins and post-shuffle partition sizing.
"""

from __future__ import annotations

import os
import threading
import warnings

from pyspark.sql import DataFrame, SparkSession

#: Configs that can be applied to a live session via ``spark.conf.set``.
RUNTIME_CONFIGS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # RocksDB state store (r10): streaming state lives off-heap/on-disk
    # instead of in HDFSBackedStateStoreProvider's in-heap maps. At 100 TB
    # this is what keeps large keyed state (sessionization, dedup windows)
    # from scaling with executor heap; locally it fixed a reproduced OOM —
    # loaded heap state providers from the stream_* queries linger past
    # query.stop() (unloaded only by the 60 s maintenance pass) and blew a
    # 1 GB plain-session heap ~20 queries later in the full-registry sim.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    # RocksDB changelog checkpointing (r16): commit uploads the batch's
    # CHANGELOG instead of a full RocksDB snapshot, so per-batch commit
    # cost tracks rows-changed-in-batch rather than total state size —
    # the production setting for frequent commits / large state (recovery
    # replays changelogs since the last periodic snapshot, a bounded
    # trade). Measured interleaved at sf0.1: session_windowed 3.00→2.12 s,
    # stream_stream_join_outer 4.27→3.79 s, dynamic_gap 2.62→2.33 s,
    # outputs identical (state content is unchanged; only the checkpoint
    # wire format differs).
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}

#: Configs that must be set at session-build time.
BUILD_CONFIGS: dict[str, str] = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "8g",
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
}


class SessionState:
    """The engine's state for one session, kept on its Python wrapper the
    way Spark keeps temp views and SQL conf: table frames and built plans
    keyed ``(sf_dir, name)``, each probed ``sf_dir``'s events dtype, and
    the Python data sources registered on the session.

    A ``spark.newSession()`` sibling is a new wrapper with its own state. So
    is a second wrapper around the same JVM session (``SparkSession(sc,
    jss)``), e.g. PySpark's ``foreachBatch`` rewrap, whose JVM session is a
    clone that must not share state anyway. Cached frames refer to their
    session, so the two form a cycle the garbage collector reclaims once the
    session is dropped; in a dict keyed weakly by the session, the frames
    would keep their own keys alive.
    """

    def __init__(self) -> None:
        self.tables: dict[tuple[str, str], DataFrame] = {}
        self.plans: dict[tuple[str, str], DataFrame] = {}
        self.probed: dict[str, str] = {}
        self.sources: dict[str, type] = {}
        self._lock = threading.Lock()
        self._key_locks: dict[tuple[int, object], threading.Lock] = {}

    def get(self, store: dict, key, build):
        """``store[key]``, filled by ``build()`` at most once. Each key of
        each store has its own lock, so other keys still build concurrently
        (a plan's build loads tables while it holds its plan's lock)."""
        value = store.get(key)
        if value is None:
            with self._lock:
                lock = self._key_locks.setdefault((id(store), key), threading.Lock())
            with lock:
                value = store.get(key)
                if value is None:
                    value = store[key] = build()
        return value


def session_state(spark: SparkSession) -> SessionState:
    """``spark``'s :class:`SessionState`, made on first use (``setdefault``
    is atomic, so racing threads get one holder)."""
    attrs = vars(spark)
    state = attrs.get("_engine_state")
    return state or attrs.setdefault("_engine_state", SessionState())


def release(spark: SparkSession) -> None:
    """Drop the session's plans, tables and probes, so that a garbage
    collection can free the checkpointed RDDs their lineage held. Callers
    that run the whole registry in one session call it between keys. The
    record of registered data sources carries over: the registrations stay
    in the JVM session."""
    old = vars(spark).pop("_engine_state", None)
    if old is not None:
        session_state(spark).sources.update(old.sources)


def register_source(spark: SparkSession, source: type) -> None:
    """Register the Python data source class ``source`` on ``spark`` once.
    A repeat ``spark.dataSource.register`` costs milliseconds and logs a
    warning that it replaced the earlier registration; a genuine failure
    propagates rather than resurfacing as an unknown format at read time."""

    def build():
        spark.dataSource.register(source)
        return source

    state = session_state(spark)
    state.get(state.sources, source.name(), build)


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine configs to an existing session.

    Safe to call repeatedly (idempotent). Configs the running Spark refuses
    to change at runtime don't fail the query, but they are not swallowed
    silently either: each one emits a ``RuntimeWarning`` naming it — round
    3 proved that a silently-ignored config (nanosAsLong) can hide
    environment drift for a full round. ``conf.set`` succeeding does NOT
    prove the engine honors a config (nanosAsLong reads back "true" yet is
    ignored by the Parquet reader); behavioral drift is caught by
    :func:`verify_events_readable`.
    """
    for key, value in RUNTIME_CONFIGS.items():
        try:
            spark.conf.set(key, value)
            applied = spark.conf.get(key, None)
        except Exception as exc:
            why = f"{type(exc).__name__}: {exc}"
        else:
            if applied == value:
                continue
            why = f"set accepted but read back {applied!r}"
        warnings.warn(f"Spark config {key} did not apply: {why}", RuntimeWarning)
    return spark


def verify_events_readable(spark: SparkSession, sf_dir: str) -> str:
    """Boot-time probe: read the events table schema and assert ``ts`` comes
    back as a dtype the catalog can normalize. Returns the observed dtype.

    This converts silent engine drift (a Spark upgrade changing how Parquet
    TIMESTAMP(NANOS) is surfaced) into one loud, early failure with a
    pointer at the fix site, instead of scattered AnalysisExceptions in
    whichever queries touch event time.
    """
    from avro_parquet_spark_example_spark.sources.catalog import (
        HANDLED_TS_DTYPES,
        table_path,
    )

    path = table_path(sf_dir, "events")
    if not os.path.exists(path):
        # Custom data dirs without an events table have nothing to
        # normalize, so there is nothing to verify — don't fail unrelated
        # queries over an absent optional table.
        return "absent"
    dtype = dict(spark.read.parquet(path).dtypes).get("ts", "missing")
    if dtype not in HANDLED_TS_DTYPES:
        raise TypeError(
            f"events.ts reads as {dtype!r}, not one of {HANDLED_TS_DTYPES}; "
            f"Spark's TIMESTAMP(NANOS) handling drifted — extend "
            f"sources.catalog.normalize_events / ts_us"
        )
    return dtype


def get_session(
    app_name: str = "avro-parquet-spark-example-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a fully configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) for
    local runs; on a real cluster pass ``master=None`` with an external
    cluster manager config and these settings still apply.

    ``spark.sql.shuffle.partitions`` defaults to the resolved
    ``$SPARK_GRAFT_CPUS`` (r16, VERDICT r15 scaling task): a fixed 32 meant
    a lower-core run (the driver's 8-core bench leg) still planned 32
    shuffle partitions — paying 4x the per-partition fixed costs while the
    core dial moved, which is exactly the "config tuned to one width"
    anti-pattern. Tracking the core count keeps partitions ≈ parallelism at
    every dial setting; ``$SPARK_GRAFT_SHUFFLE`` still overrides explicitly,
    and a production deployment sets it to cluster width the same way.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        default_shuffle = cpus if cpus.isdigit() else "32"
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", default_shuffle)
        )

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in {**BUILD_CONFIGS, **RUNTIME_CONFIGS}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return configure(spark)
