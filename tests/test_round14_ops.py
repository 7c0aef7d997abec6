"""Round-14 hardening regressions: ADVICE-item fixes (rbo_overlap id
validation, collision-proof internal columns, visible sampling scope,
Engine.scc default forwarding)."""

from __future__ import annotations

import os

import pytest

from avro_parquet_spark_example_spark.registry import get_query


# --------------------------------------------------------------------------
# rbo_overlap id inference is now validated (ADVICE r13 #2)
# --------------------------------------------------------------------------


def _rank_frames(spark):
    t1 = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_id int, r1 int"
    )
    t2 = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_id int, r2 int"
    )
    return t1, t2


def test_rbo_overlap_rejects_ambiguous_t1(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        rbo_overlap,
    )

    t1, t2 = _rank_frames(spark)
    wide = t1.withColumn("extra", t1.doc_id * 2)
    with pytest.raises(ValueError, match="exactly two"):
        rbo_overlap(wide, t2, k=10)
    # explicit id_col rescues the wide frame
    row = rbo_overlap(wide, t2, k=10, id_col="doc_id").collect()[0]
    assert row.overlap_at_k == 10


def test_rbo_overlap_rejects_id_missing_from_t2(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        rbo_overlap,
    )

    t1, t2 = _rank_frames(spark)
    t1_renamed = t1.withColumnRenamed("doc_id", "other_id")
    with pytest.raises(ValueError, match="not in t2"):
        rbo_overlap(t1_renamed, t2, k=10)
    with pytest.raises(ValueError, match="must exist in both"):
        rbo_overlap(t1, t2, k=10, id_col="nope")


def test_rbo_overlap_identical_rankings_unchanged(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        rbo_overlap,
    )

    t1, t2 = _rank_frames(spark)
    row = rbo_overlap(t1, t2, k=10).collect()[0]
    assert row.overlap_at_k == 10
    assert abs(row.rbo_ext - 1.0) < 1e-6


# --------------------------------------------------------------------------
# collision-proof internal columns (ADVICE r13 #3)
# --------------------------------------------------------------------------


def test_events_sample_spark_survives_nr_column(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        _events_sample_spark,
    )

    e = spark.createDataFrame(
        [(i, i % 3, 7) for i in range(100)],
        "event_id long, event_type int, nr int",
    )
    out = _events_sample_spark(e)
    # under the cap -> identity sample; caller's nr column intact
    assert out.count() == 100
    assert "nr" in out.columns
    assert out.agg({"nr": "min"}).collect()[0][0] == 7


def test_median_ci_survives_flag_and_v_names(spark):
    from avro_parquet_spark_example_spark.operators.aggregates import (
        median_ci,
    )

    # group column named 'v', value column named 'flag' — the exact
    # collision class the r13 ADVICE flagged
    df = spark.createDataFrame(
        [("a", x) for x in range(1, 102)] + [("b", x) for x in range(5, 16)],
        "v string, flag int",
    )
    got = {r.v: r for r in median_ci(df, "v", "flag").collect()}
    assert got["a"].median == 51 and got["a"].n == 101
    assert got["b"].median == 10 and got["b"].n == 11
    # plain names still work
    df2 = df.withColumnRenamed("v", "g").withColumnRenamed("flag", "x")
    got2 = {r.g: r.median for r in median_ci(df2, "g", "x").collect()}
    assert got2 == {"a": 51, "b": 10}


# --------------------------------------------------------------------------
# sampling scope visible in output (ADVICE r13 #1)
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "key",
    [
        "stat_poisson_bootstrap_ci",
        "stat_randomization_dow",
        "eval_auc_bootstrap_ci",
    ],
)
def test_capped_fixtures_emit_sampled_flag(spark, sf_dir, key):
    df = get_query(key).fn(spark, sf_dir)
    assert "sampled" in df.columns
    vals = {r.sampled for r in df.select("sampled").distinct().collect()}
    # sf0.001 fixtures sit far below both caps -> flag must be False
    assert vals == {False}


# --------------------------------------------------------------------------
# Engine.scc forwards the operator default (ADVICE r13 #4)
# --------------------------------------------------------------------------


def test_engine_scc_default_tracks_operator_constant():
    import inspect

    from avro_parquet_spark_example_spark.engine import Engine

    src = inspect.getsource(Engine.scc)
    assert "_SCC_ROUNDS" in src
    assert "rounds: int | None = None" in src


# --------------------------------------------------------------------------
# bench contention-recapture rule (VERDICT r13 task #3)
# --------------------------------------------------------------------------


def test_bench_recapture_decision():
    import bench

    # all probes hot -> recapture
    assert bench._should_recapture([75.0, 109.4, 95.5])
    # one quiet probe -> normal flag machinery handles it, no recapture
    assert not bench._should_recapture([109.4, 95.5, 12.0])
    # no prior record -> nothing to compare
    assert not bench._should_recapture([])
    # boundary: strictly-greater semantics
    assert not bench._should_recapture([50.0, 50.0, 50.0])


def test_bench_calib_deltas_read_latest_record():
    import bench

    prev = bench._prev_bench()
    assert prev is not None
    ref, pdata = prev
    assert ref.startswith("BENCH_r")
    cap = {
        "calib_sec": pdata["calib_sec"],
        "calib_shuffle_sec": pdata.get("calib_shuffle_sec", 0),
        "calib_scan_sec": pdata.get("calib_scan_sec", 0),
    }
    deltas = bench._calib_deltas_vs_prev(cap)
    # identical calib values -> all deltas exactly 0
    assert deltas and all(d == 0.0 for d in deltas)


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


# --------------------------------------------------------------------------
# connected_components observability (r14, the x100-leg instrumentation)
# --------------------------------------------------------------------------


def test_cc_observer_local_and_iterative(spark):
    from avro_parquet_spark_example_spark.operators import dedup as dd

    # small edge set -> driver union-find, mode 'local'
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    labels = {r.id: r.cluster_id for r in dd.connected_components(edges).collect()}
    assert dd.LAST_CC_INFO["mode"] == "local"
    assert dd.LAST_CC_INFO["probe_edges"] == 3
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10

    # force the iterative path with a tiny threshold: a diameter-1
    # clique must converge in 2 rounds (1 propagating + 1 confirming)
    clique = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)],
        "a long, b long",
    )
    labels2 = {
        r.id: r.cluster_id
        for r in dd.connected_components(clique, local_threshold=2).collect()
    }
    assert dd.LAST_CC_INFO["mode"] == "iterative"
    assert dd.LAST_CC_INFO["rounds"] == 2
    assert set(labels2.values()) == {0}
