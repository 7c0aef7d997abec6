"""Metric definitions: end-to-end metrics from the timed passes, per-layer
metrics from the spans of the traced passes.

Per-layer metrics are per pass (the median over traced passes) unless noted,
and named after the package module whose calls they measure:

* ``session``: building the session (once per run). ``get_session`` ends by
  calling ``configure``, so ``session.get_session_s`` includes
  ``session.configure_s``, the time of that call;
* ``registry``: importing the query registry (once per run) and building
  each query's plan, including the driver-side jobs operators issue while
  they build;
* ``operators``: executing the built plan, read from the jobs and stages
  of ``collect`` calls;
* ``pyspark``: the collect boundary, i.e. action wall time not covered by
  its Spark jobs, and the result size;
* ``streaming.stateful``: micro-batches reported to a
  ``StreamingQueryListener``;
* ``sources.avro_binary``: the single-core codec, timed in this process;
* ``sources.avro_datasource``: the distributed Avro write and read;
* ``process``: peak resident memory of the driver, the JVM and the Python
  workers together (once per run).

A metric of a layer a workload does not use reads 0.
"""

from __future__ import annotations

import os
import statistics
import tempfile
import time

import datagen
from workloads import ORDERS_AVRO_SCHEMA


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def fastest_ops(passes: list[dict]) -> dict[str, float]:
    """op name -> its fastest correct run over ``passes``.

    On a shared host, CPU throughput drifts by 10-25 % from second to second
    with no change in work: the Avro encoder alone, timed repeatedly in one
    process on the same rows, varies that much. Drift only ever adds time,
    so an op's fastest run is the estimate of its cost least disturbed by
    it."""
    best: dict[str, float] = {}
    for p in passes:
        for op in p["ops"]:
            if op["status"] == "ok":
                best[op["op"]] = min(op["s"], best.get(op["op"], op["s"]))
    return best


def end_to_end(setup: dict, passes: list[dict], peak_rss_bytes: int) -> dict:
    untraced = [p for p in passes if not p.get("traced")]
    fastest = fastest_ops(untraced)
    out = {
        "setup_s": _m(setup["setup_s"], "s"),
        "pass_s": _m(sum(fastest.values()), "s"),
        "passes": _m(len(untraced), "count"),
        "peak_rss_mb": _m(peak_rss_bytes / 2**20, "MB"),
    }
    if "avro_write" in fastest and "avro_read" in fastest:
        shards = untraced[-1]["shards"]
        rows = sum(r for _, _, r in shards)
        out["write_rows_per_s"] = _m(rows / fastest["avro_write"], "rows/s")
        out["read_rows_per_s"] = _m(rows / fastest["avro_read"], "rows/s")
        out["avro_bytes_per_row"] = _m(sum(b for _, b, _ in shards) / rows, "B/row")
    return out


def shard_stats(out_dir: str) -> list[tuple[str, int, int]]:
    """(file, bytes, rows) per Avro shard, read from block headers only."""
    from avro_parquet_spark_example_spark.sources import avro_binary

    stats = []
    for name in sorted(os.listdir(out_dir)):
        if not name.endswith(".avro"):
            continue
        path = os.path.join(out_dir, name)
        size = os.path.getsize(path)
        rows = 0
        with open(path, "rb") as fo:
            avro_binary.read_header(fo)
            while fo.tell() < size:
                rows += avro_binary.read_long(fo)
                fo.seek(avro_binary.read_long(fo) + avro_binary.SYNC_SIZE, os.SEEK_CUR)
        stats.append((name, size, rows))
    return stats


def codec_rates(seed: int, n_rows: int = 20_000, reps: int = 3) -> tuple[float, float]:
    """(encode, decode) rows/s of ``write_container``/``read_container`` with
    the deflate codec on ``n_rows`` orders rows, median of ``reps``, one core."""
    from avro_parquet_spark_example_spark.sources import avro_binary

    rows = [tuple(r.values()) for r in datagen.orders(seed, 0.1).slice(0, n_rows).to_pylist()]
    enc, dec = [], []
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "orders.avro")
        for _ in range(reps):
            t0 = time.perf_counter()
            avro_binary.write_container(path, ORDERS_AVRO_SCHEMA, rows, codec="deflate")
            t1 = time.perf_counter()
            back = list(avro_binary.read_container(path)[1])
            t2 = time.perf_counter()
            if back != rows:
                raise AssertionError("Avro codec round trip changed the rows")
            enc.append(n_rows / (t1 - t0))
            dec.append(n_rows / (t2 - t1))
    return statistics.median(enc), statistics.median(dec)


def _pass_layers(bench, p: dict) -> dict:
    op_ids = {op["op_id"] for op in p["ops"]}
    steps = bench.tracer.steps(op_ids)

    def dur(s) -> float:
        return s.end - s.start

    def total(layer: str, key: str | None = None) -> float:
        return sum(dur(s) if key is None else s.attrs[key] for s in steps if s.name == layer)

    action = [s for s in steps if s.name == "operators.action"]
    action_s = total("operators.action")
    run_s = total("operators.action", "executor_run_s")
    run_ids, progress = p["stream"]
    last_state: dict[str, int] = {}
    for ev in progress:
        last_state[ev["run_id"]] = ev["state_rows"]
    ops = {op["op_id"]: op for op in p["ops"]}
    writes = [op for op in p["ops"] if op["op"] == "avro_write"]
    reads = [op for op in p["ops"] if op["op"] == "avro_read"]
    read_actions = [s for s in action if ops[s.op_id]["op"] == "avro_read"]
    shards = p["shards"] if writes else []
    rows = sum(r for _, _, r in shards)
    write_s = sum(op["s"] for op in writes)
    read_s = sum(op["s"] for op in reads)
    return {
        "registry.build_s": total("registry.build"),
        "registry.build_jobs": total("registry.build", "jobs"),
        "registry.build_job_s": total("registry.build", "job_s"),
        "operators.action_s": action_s,
        "operators.jobs": total("operators.action", "jobs"),
        "operators.stages": total("operators.action", "stages"),
        "operators.tasks": total("operators.action", "tasks"),
        "operators.executor_run_s": run_s,
        "operators.executor_cpu_s": total("operators.action", "executor_cpu_s"),
        "operators.jvm_gc_s": total("operators.action", "jvm_gc_s"),
        "operators.input_bytes": total("operators.action", "input_bytes"),
        "operators.shuffle_write_bytes": total("operators.action", "shuffle_write_bytes"),
        "operators.shuffle_read_bytes": total("operators.action", "shuffle_read_bytes"),
        "operators.spill_bytes": total("operators.action", "spill_bytes"),
        "operators.task_skew": max((s.attrs["task_skew"] for s in action), default=1.0),
        "operators.core_util": run_s / (action_s * bench.cpus) if action_s else 0.0,
        "pyspark.collect_transfer_s": action_s - total("operators.action", "job_s"),
        "pyspark.result_rows": sum(ops[s.op_id].get("rows", 0) for s in action),
        "pyspark.result_bytes": total("operators.action", "result_bytes"),
        "streaming.stateful.batches": len(progress),
        "streaming.stateful.trigger_s": sum(ev["trigger_ms"] for ev in progress) / 1e3,
        "streaming.stateful.jobs": sum(
            g in run_ids for s in steps for g in s.attrs["job_groups"]
        ),
        "streaming.stateful.state_rows": sum(last_state.values()),
        "sources.avro_datasource.write_s": write_s,
        "sources.avro_datasource.read_s": read_s,
        "sources.avro_datasource.write_rows_per_s": rows / write_s if write_s else 0.0,
        "sources.avro_datasource.read_rows_per_s": rows / read_s if read_s else 0.0,
        "sources.avro_datasource.bytes_per_row": (
            sum(b for _, b, _ in shards) / rows if rows else 0.0
        ),
        "sources.avro_datasource.write_shards": len(shards),
        "sources.avro_datasource.write_shards_nonempty": sum(r > 0 for _, _, r in shards),
        "sources.avro_datasource.shard_rows_max_share": (
            max(r for _, _, r in shards) / rows if rows else 0.0
        ),
        "sources.avro_datasource.read_partitions": sum(
            s.attrs["first_stage_tasks"] for s in read_actions
        ),
        "sources.avro_datasource.read_tasks_nonempty": sum(
            s.attrs["first_stage_tasks_nonempty"] for s in read_actions
        ),
    }


#: unit of every per-layer metric, in the order they are reported
UNITS = {
    "session.get_session_s": "s",
    "session.configure_s": "s",
    "registry.import_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_job_s": "s",
    "operators.action_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.jvm_gc_s": "s",
    "operators.input_bytes": "B",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.task_skew": "ratio",
    "operators.core_util": "fraction",
    "pyspark.collect_transfer_s": "s",
    "pyspark.result_rows": "rows",
    "pyspark.result_bytes": "B",
    "streaming.stateful.batches": "count",
    "streaming.stateful.trigger_s": "s",
    "streaming.stateful.jobs": "count",
    "streaming.stateful.state_rows": "rows",
    "sources.avro_binary.encode_rows_per_s": "rows/s",
    "sources.avro_binary.decode_rows_per_s": "rows/s",
    "sources.avro_datasource.write_s": "s",
    "sources.avro_datasource.read_s": "s",
    "sources.avro_datasource.write_rows_per_s": "rows/s",
    "sources.avro_datasource.read_rows_per_s": "rows/s",
    "sources.avro_datasource.bytes_per_row": "B/row",
    "sources.avro_datasource.write_shards": "count",
    "sources.avro_datasource.write_shards_nonempty": "count",
    "sources.avro_datasource.shard_rows_max_share": "fraction",
    "sources.avro_datasource.read_partitions": "count",
    "sources.avro_datasource.read_tasks_nonempty": "count",
    "process.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}


def per_layer(bench, setup: dict, passes: list[dict], peak_rss_bytes: int) -> dict:
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    per_pass = [_pass_layers(bench, p) for p in traced]
    values = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
    for k in ("session.get_session_s", "session.configure_s", "registry.import_s"):
        values[k] = setup[k]
    enc, dec = codec_rates(bench.args.seed)
    values["sources.avro_binary.encode_rows_per_s"] = enc
    values["sources.avro_binary.decode_rows_per_s"] = dec
    on = sum(fastest_ops(traced).values())
    off = sum(fastest_ops(untraced).values())
    values["trace.overhead_pct"] = (on - off) / off * 100
    values["process.peak_rss_mb"] = peak_rss_bytes / 2**20
    return {k: _m(values[k], unit) for k, unit in UNITS.items()}
