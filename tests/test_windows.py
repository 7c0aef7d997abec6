"""Window, sort, top-k and set operators (operators/windows.py): the bag
set operations keep SQL multiplicities, checked against per-key counts of
the two inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import get_query


def test_bag_semantics_multiplicities(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    ca = (
        c.filter(F.col("c_acctbal") > 0)
        .groupBy("c_nationkey")
        .count()
        .collect()
    )
    cb = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("c_nationkey")
        .count()
        .collect()
    )
    m_a = {r["c_nationkey"]: r["count"] for r in ca}
    m_b = {r["c_nationkey"]: r["count"] for r in cb}
    got = get_query("set_bag_semantics").fn(spark, sf_dir).collect()
    for r in got:
        if r["op"] == "intersect_all":
            assert r["n"] == min(m_a.get(r["k"], 0), m_b.get(r["k"], 0))
        else:
            assert r["n"] == m_a.get(r["k"], 0) - m_b.get(r["k"], 0)
