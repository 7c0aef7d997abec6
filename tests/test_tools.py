"""tools/: every script imports, ``scaleup.py`` grows the corpus by its
stated rules, and a ``perf_sweep`` record carries the status-store layers
and its header the host keys."""

from __future__ import annotations

import glob
import importlib
import os

import pytest
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.sources.catalog import load, table_path

TOOLS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
TOOLS = sorted(os.path.basename(p)[:-3] for p in glob.glob(os.path.join(TOOLS_DIR, "*.py")))


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


@pytest.fixture(scope="module")
def grown(spark, sf_dir, tmp_path_factory):
    from tools import scaleup

    return scaleup.grow(spark, sf_dir, 2, str(tmp_path_factory.mktemp("scaleup") / "x2"))


def _read(spark, sf_dir, table):
    return load(spark, sf_dir, table) if table == "events" else spark.read.parquet(
        table_path(sf_dir, table)
    )


def test_scaleup_doubles_grown_tables_and_links_dimensions(spark, sf_dir, grown):
    from tools.scaleup import GROWN, LINKED

    for table in GROWN:
        assert _read(spark, grown, table).count() == 2 * _read(spark, sf_dir, table).count(), table
    for table in LINKED:
        assert os.path.realpath(table_path(grown, table)) == os.path.realpath(
            table_path(sf_dir, table)
        )


def test_scaleup_keeps_foreign_keys(spark, grown):
    li, od, cu = (spark.read.parquet(table_path(grown, t)) for t in ("lineitem", "orders", "customer"))
    assert li.join(od, li.l_orderkey == od.o_orderkey, "left_anti").isEmpty()
    assert od.join(cu, od.o_custkey == cu.c_custkey, "left_anti").isEmpty()


def test_scaleup_copy_zero_is_the_base_table(spark, sf_dir, grown):
    from tools.scaleup import KEYSPACE, _key_range

    n_ord = _key_range(spark, sf_dir, "orders", "o_orderkey")
    n_doc = _key_range(spark, sf_dir, "documents", "doc_id")
    copy0 = {
        "events": F.col("event_id") < KEYSPACE,
        "orders": F.col("o_orderkey") < n_ord,
        "customer": F.col("c_custkey") < _key_range(spark, sf_dir, "customer", "c_custkey"),
        "lineitem": F.col("l_orderkey") < n_ord,
        "documents": F.col("doc_id") < n_doc,
        "embeddings": F.col("vec_id") < KEYSPACE,
    }
    for table, pred in copy0.items():
        base, first = _read(spark, sf_dir, table), _read(spark, grown, table).filter(pred)
        assert base.exceptAll(first).isEmpty() and first.exceptAll(base).isEmpty(), table


@pytest.mark.parametrize("table,key,col", [("documents", "doc_id", "text"), ("embeddings", "vec_id", "embedding")])
def test_scaleup_copy_one_differs_per_base_id(spark, sf_dir, grown, table, key, col):
    from tools.scaleup import KEYSPACE, _key_range

    shift = KEYSPACE if table == "embeddings" else _key_range(spark, sf_dir, table, key)
    df = spark.read.parquet(table_path(grown, table))
    c0 = df.filter(F.col(key) < shift).select(key, F.col(col).alias("v0"))
    c1 = df.filter(F.col(key) >= shift).select(
        (F.col(key) - shift).alias(key), F.col(col).alias("v1")
    )
    pairs = c0.join(c1, key)
    assert pairs.count() == c0.count() > 0
    assert pairs.filter(F.col("v0") == F.col("v1")).isEmpty()


def test_scaleup_run_times_a_key(spark, sf_dir, grown):
    from tools.scaleup import run

    assert run(spark, sf_dir, 2, ["agg_scan_group"], grown) == 0


def test_perf_sweep_record_reports_jobs_and_shuffle(spark, sf_dir):
    from tools.perf_sweep import Profiler

    profiler = Profiler(spark)
    try:
        rec = profiler.profile("agg_scan_group", sf_dir)
    finally:
        profiler.close()
    assert rec["jobs"] > 0
    assert rec["shuffle_write_bytes"] > 0


def test_perf_sweep_host_keys():
    import platform

    from tools.perf_sweep import host_keys

    zipped = host_keys("/usr/local/spark/python/lib/pyspark.zip/pyspark/__init__.py")
    assert zipped == {
        "python_version": platform.python_version(),
        "worker_pyspark_zip": True,
    }
    site = host_keys("/usr/lib/python3/site-packages/pyspark/__init__.py")
    assert site["worker_pyspark_zip"] is False


def test_oracle_compare_flags_driver_render_types():
    """The one comparison both oracle gates run: equal results pass; a
    HUGEINT oracle column, a decimal of another precision, a missing
    column and a changed value each fail."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType, LongType, StructField, StructType

    from tools.check_oracle import compare

    schema = StructType([StructField("a", LongType()), StructField("d", DecimalType(10, 2))])
    rows = [(1, Decimal("1.00"))]
    assert compare(schema, rows, ["a", "d"], ["BIGINT", "DECIMAL(10,2)"], rows) == []
    [hug, dec] = compare(schema, rows, ["a", "d"], ["HUGEINT", "DECIMAL(12,2)"], rows)
    assert "HUGEINT" in hug and "decimal render mismatch on d" in dec
    [missing, cols] = compare(schema, rows, ["a", "e"], ["BIGINT", "DECIMAL(10,2)"], rows)
    assert "spark=missing-column" in missing and cols.startswith("cols")
    [value] = compare(schema, rows, ["a", "d"], ["BIGINT", "DECIMAL(10,2)"], [(2, rows[0][1])])
    assert value.startswith("value mismatch")


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
