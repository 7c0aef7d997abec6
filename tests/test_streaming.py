"""Streaming semantics over literal fixtures (FIXTURES.md §3 late_events):
dedup drops duplicate ids, stream final state equals batch aggregate.
``run_to_table``'s micro-batches are observed through a
``StreamingQueryListener``; it leaves no sink view behind, and its conf
override ends with ``start()``."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from avro_parquet_spark_example_spark.registry import get_query
from avro_parquet_spark_example_spark.streaming.stateful import run_to_table

FIXTURE_DIR = "/tmp/avro_parquet_spark_example_spark_test_stream"


class _Progress(StreamingQueryListener):
    """Progress of every streaming query the session runs, by query id, and
    the ids of the queries that started and terminated. Callbacks run on
    py4j threads."""

    def __init__(self):
        self.cond = threading.Condition()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = defaultdict(list)

    def onQueryStarted(self, event):
        with self.cond:
            self.started.add(str(event.id))

    def onQueryProgress(self, event):
        with self.cond:
            self.progress[str(event.progress.id)].append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.cond:
            self.terminated.add(str(event.id))
            self.cond.notify_all()


def _run_observed(spark, run):
    """``run()``'s result and, for each streaming query it runs, that
    query's progress, one dict per micro-batch. Listener events arrive
    asynchronously, so this waits for each query's termination event."""
    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        result = run()
        with listener.cond:
            assert listener.cond.wait_for(
                lambda: listener.started and listener.started <= listener.terminated,
                timeout=60,
            ), "no termination event"
    finally:
        spark.streams.removeListener(listener)
    return result, [listener.progress[q] for q in listener.started]


def _write_fixture(spark):
    rows = [
        # (event_id, ts, user_id, value) — includes one duplicated event_id
        (1, "2024-01-01 10:00:00", 1, 10.0),
        (2, "2024-01-01 10:05:00", 1, 20.0),
        (2, "2024-01-01 10:05:00", 1, 20.0),  # duplicate
        (3, "2024-01-01 10:20:00", 2, 5.0),
        (4, "2024-01-01 11:00:00", 2, 7.0),
        (5, "2024-01-01 09:00:00", 1, 1.0),  # late arrival (in-batch)
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts_s", "user_id", "value"]).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "value"
    )
    path = os.path.join(FIXTURE_DIR, "events")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path, df


def _read_stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def test_stream_dedup_drops_duplicate_ids(spark):
    path, _ = _write_fixture(spark)
    stream = _read_stream(spark, path)
    out = run_to_table(
        stream.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"]),
        "append",
    )
    rows = out.collect()
    assert len(rows) == 5  # 6 input rows, one duplicate id dropped
    assert sorted(r.event_id for r in rows) == [1, 2, 3, 4, 5]


def test_stream_final_state_equals_batch(spark):
    path, batch_df = _write_fixture(spark)
    stream = _read_stream(spark, path)
    streamed = run_to_table(
        stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,4)")).cast("double").alias("total"),
        ),
        "complete",
    ).collect()
    batch = batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,4)")).cast("double").alias("total"),
    ).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_stream_queries_run_on_testdata(spark, sf_dir):
    out = get_query("stream_watermark_dedup").fn(spark, sf_dir)
    n = out.count()
    # event_id is unique in the driver data → dedup preserves every row
    batch_n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n == batch_n


def test_rocksdb_state_store_parity(spark, sf_dir):
    """The 100 TB/day state-store provider (SCALING.md §Streaming): the same
    stateful plan over RocksDB must produce the identical final state as
    the default HDFS-backed provider. RocksDB keeps state off-heap+on-disk,
    so executor memory stops bounding watermark horizons at scale; this
    asserts the swap is semantics-free (and that the provider actually
    loads in this Spark build)."""
    from avro_parquet_spark_example_spark.streaming.stateful import (
        read_events_stream,
        run_to_table,
    )

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    agg = lambda: run_to_table(  # noqa: E731
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n")),
        "complete",
    ).collect()
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        rocks = sorted(map(tuple, agg()))
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    default = sorted(map(tuple, agg()))
    assert rocks == default and len(rocks) == 5


def test_incremental_resume_exactly_once(spark, sf_dir):
    # Run the op twice in-session: the second invocation finds the _DONE
    # marker and must return the identical exactly-once sink — no dup rows,
    # no gaps, all events present exactly once.
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    q = get_query("stream_incremental_resume").fn
    first = q(spark, sf_dir)
    events = load(spark, sf_dir, "events")
    assert first.count() == events.count()
    assert first.select("event_id").distinct().count() == events.count()
    again = q(spark, sf_dir)
    assert again.count() == first.count()


def test_event_ids_unique_precondition(spark):
    """Precondition for stream_watermark_dedup's oracle promotion: with
    unique event_ids the streaming first-seen dedup equals the batch
    ROW_NUMBER dedup. A fixture change that introduces duplicate ids makes
    the kept row arrival-order-dependent — fail here with the ids, not as
    an opaque hash mismatch in the gate."""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        df = spark.read.parquet(f"/root/testdata/{sf}/events.parquet")
        total = df.count()
        distinct = df.select("event_id").distinct().count()
        assert total == distinct, f"{sf}: {total - distinct} duplicate event_ids"


def test_stream_source_reads_directory_tables(spark, sf_dir, tmp_path):
    """r13 regression: a table shipped as a parquet DIRECTORY (multi-file
    — every scale-up dir, any real ingest layout) must stream all its
    rows. The old staging symlinked the directory into the monitor dir,
    where the file source ignores nested directories and silently
    streamed ZERO rows (caught by the r13 streaming 10x legs)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    out = str(tmp_path / "dirsf")
    os.makedirs(out, exist_ok=True)
    ev.repartition(4).write.parquet(f"{out}/events.parquet")
    got = get_query("stream_tumbling").fn(spark, out).collect()
    assert len(got) > 0
    assert sum(r.n for r in got) == n


def test_stream_dedup_elides_no_data_batch(spark, sf_dir):
    """Append dropDuplicates emits rows WITH the data batch, so the r16
    elision must leave exactly the data batch(es) — and the output stays
    the full dedup (oracle-checked elsewhere; row count pinned here)."""
    out, [progress] = _run_observed(
        spark, lambda: get_query("stream_watermark_dedup").fn(spark, sf_dir)
    )
    n = out.count()
    assert n == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert progress, "progress not captured"
    assert all(p["numInputRows"] for p in progress), (
        "no-data batch ran despite final_no_data_batch=False"
    )


def test_stream_session_keeps_no_data_batch(spark, sf_dir):
    """Append session windows emit ON watermark advance: the trailing
    no-data batch must STAY (eliding it would withhold every session
    closed by the final watermark — a correctness bug, not a tuning)."""
    _, [progress] = _run_observed(
        spark,
        lambda: get_query("stream_session_windowed").fn(spark, sf_dir).count(),
    )
    assert progress and progress[-1]["numInputRows"] == 0, (
        "trailing watermark-advance batch missing on an append session "
        "window"
    )


def test_run_to_table_leaves_no_sink_view(spark, sf_dir):
    """The memory sink's temp view goes once the result frame is bound:
    the sink's rows live as long as the result, not as long as the
    session, and the bound frame still reads them all."""
    out = get_query("stream_watermark_dedup").fn(spark, sf_dir)
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("sink_")]
    assert views == []
    assert out.count() == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_run_to_table_overrides_conf_only_in_start(spark, tmp_path):
    """``state_partitions`` overrides the session's shuffle partitions only
    while ``start()`` runs: the stream has cloned the conf by then. So the
    session reads its own value while the query runs, and the query's
    state store still has the overridden partition count."""
    src = str(tmp_path / "src")
    for i in range(10):
        batch = spark.range(i * 10, i * 10 + 10, numPartitions=1)
        batch.selectExpr("id", "id % 3 AS k").write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    own = spark.conf.get("spark.sql.shuffle.partitions")
    assert own != "3"
    seen: list[str] = []

    def run():
        with ThreadPoolExecutor(1) as pool:
            done = pool.submit(
                run_to_table, stream.groupBy("k").count(), "complete", 3
            )
            deadline = time.monotonic() + 120
            while not done.done():
                assert time.monotonic() < deadline, "run_to_table did not finish"
                # a query with a finished batch has long returned from start()
                if any(q.lastProgress for q in spark.streams.active):
                    seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
                time.sleep(0.05)
            return done.result()

    out, [progress] = _run_observed(spark, run)
    assert sorted(r["count"] for r in out.collect()) == [33, 33, 34]
    assert seen, "the poll never saw the query running"
    assert set(seen) == {own}
    assert len(progress) >= 10
    assert progress[-1]["stateOperators"][0]["numShufflePartitions"] == 3


def test_concurrent_run_to_table_keep_their_overrides(spark, tmp_path):
    """Five concurrent ``run_to_table`` calls, each with its own
    ``state_partitions``, on more threads than cores and a short switch
    interval: each query gets its own partition count, and the session
    ends with its own value."""
    src = str(tmp_path / "src")
    spark.range(0, 30, numPartitions=1).selectExpr("id", "id % 3 AS k").write.parquet(
        src
    )
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    own = spark.conf.get("spark.sql.shuffle.partitions")

    def run():
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(5) as pool:
                runs = [
                    pool.submit(run_to_table, stream.groupBy("k").count(), "complete", n)
                    for n in range(1, 6)
                ]
                return [r.result(timeout=120).count() for r in runs]
        finally:
            sys.setswitchinterval(switch)

    counts, progress = _run_observed(spark, run)
    assert counts == [3] * 5
    assert sorted(
        p[-1]["stateOperators"][0]["numShufflePartitions"] for p in progress
    ) == [1, 2, 3, 4, 5]
    assert spark.conf.get("spark.sql.shuffle.partitions") == own


# --------------------------------------------------------------------------
# streaming state-partition sizing + no-data-batch elision (VERDICT r13 #6)
# --------------------------------------------------------------------------


def test_stream_state_partitions_sizing(spark, sf_dir):
    from avro_parquet_spark_example_spark.streaming.stateful import (
        stream_state_partitions,
    )

    # sf0.001 events (1k rows) -> floor of 4
    assert stream_state_partitions(spark, sf_dir) == 4


def test_parquet_rows_matches_spark_count(spark, sf_dir, tmp_path):
    from avro_parquet_spark_example_spark.sources.catalog import table_path
    from avro_parquet_spark_example_spark.streaming.stateful import parquet_rows

    single = table_path(sf_dir, "events")
    two_files = str(tmp_path / "events.parquet")
    spark.read.parquet(single).repartition(2).write.parquet(two_files)
    assert len([f for f in os.listdir(two_files) if f.endswith(".parquet")]) == 2
    for path in (single, two_files):
        assert parquet_rows(path) == spark.read.parquet(path).count()


def test_run_to_table_restores_session_confs(spark, sf_dir):
    from avro_parquet_spark_example_spark.registry import get_query

    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled"
    )
    get_query("stream_window_unique_users").fn(spark, sf_dir).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        == before_nodata
    )


def test_tuned_streams_match_batch(spark, sf_dir):
    from avro_parquet_spark_example_spark.registry import get_query
    from pyspark.sql import functions as F

    # stream_window_unique_users == batch COUNT(DISTINCT) per hour window
    got = {
        (r.win_start, r.n_users)
        for r in get_query("stream_window_unique_users")
        .fn(spark, sf_dir)
        .collect()
    }
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    from avro_parquet_spark_example_spark.sources.catalog import (
        normalize_events,
    )

    want = {
        (r.win_start, r.n_users)
        for r in normalize_events(e)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(F.col("win.start").alias("win_start"), "n_users")
        .collect()
    }
    assert got == want


def test_stream_window_topk_matches_batch(spark, sf_dir):
    """The streaming count + batch rank split reproduces a pure-batch
    top-3-per-window recount, with ranks dense in 1..3."""
    from avro_parquet_spark_example_spark.registry import get_query

    rows = get_query("stream_window_topk_types").fn(spark, sf_dir).collect()
    assert rows
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = (
        ev.groupBy(
            F.date_trunc("hour", (F.col("ts") / 1000).cast("timestamp")).alias("w")
            if dict(ev.dtypes)["ts"] == "bigint"
            else F.date_trunc("hour", "ts").alias("w"),
            "event_type",
        )
        .count()
        .collect()
    )
    counts: dict = {}
    for b in batch:
        counts.setdefault(b.w, []).append((b["count"], b.event_type))
    for r in rows:
        assert 1 <= r.rk <= 3
        top = sorted(counts[r.win_start], key=lambda t: (-t[0], t[1]))[:3]
        assert (r.n, r.event_type) == top[r.rk - 1], (r.win_start, r.rk)
