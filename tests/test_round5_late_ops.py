"""Invariant test for the later round-5 as-of join: the oracle proves
engine agreement; this pins the claimed SEMANTICS. It moves with the join
tests of test_round5_ops."""

from __future__ import annotations

from avro_parquet_spark_example_spark.registry import get_query


def test_asof_nearest_is_no_farther_than_either_direction(spark, sf_dir):
    near = {
        r["event_id"]: (r["ts_us"], r["nearest_click_us"])
        for r in get_query("join_asof_nearest").fn(spark, sf_dir).collect()
    }
    back = {
        r["event_id"]: r["fresh_click_us"]
        for r in get_query("join_asof_tolerance").fn(spark, sf_dir).collect()
    }
    assert near
    for eid, (ts, nc) in near.items():
        if nc is None:
            continue
        b = back.get(eid)
        if b is not None:  # backward match exists (and was fresh): nearest
            assert abs(ts - nc) <= ts - b  # must be at least as close
