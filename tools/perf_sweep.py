"""Per-key profile sweep over the ENTIRE registry (PERF_sweep.json).

bench.py tracks the headline keys; this harness profiles every registered
query at $PERF_SF_DIR (default sf0.1) with :meth:`Profiler.profile` and
writes one JSON object holding one record per key. A record comes from one
discarded warm-up run and one measured run of the RAW registry function, so
the plan is rebuilt and every shuffle re-executes. It splits the measured
run into layers:

* ``build_s`` — wall of ``fn(spark, sf_dir)``: Python, Catalyst analysis,
  and the Spark jobs the operator runs while it builds (checkpoints, limit
  probes, iterative rounds); ``build_jobs`` counts those jobs;
* ``action_s`` — wall of a noop-sink write of the returned frame, which
  computes every column of every row at no sink cost;
* ``jobs``, ``stages``, ``tasks``, ``executor_cpu_s``, ``input_bytes``,
  ``shuffle_write_bytes``, ``shuffle_read_bytes``, ``spill_bytes`` — over
  the jobs of build and action together, read from Spark's status store
  (``perfbench.tracing.StatusStore``). Jobs are the job-id delta across the
  run, so jobs hidden behind a checkpoint or started by a streaming thread
  count too;
* ``stream_batches`` — micro-batches seen by a ``StreamingQueryListener``
  (``perfbench.tracing.StreamListener``).

tools/scaleup.py runs the same function on a base and a grown corpus. The
record header states the master and parallelism it ran at, and bench.py's
noise probes at sweep start and end, so a reader can normalize before
calling a delta a regression. It also states the Python version and whether
Python workers import PySpark from a ``pyspark.zip`` (as from
``$SPARK_HOME/python/lib``), which set each Python task's start-up cost
(see ``avro_parquet_spark_example_spark/_zipimport.py``). Queries run in
sorted order.

Usage: python tools/perf_sweep.py [out.json]   # default PERF_sweep.json
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import StatusStore, StreamListener  # noqa: E402

SF_DIR = os.environ.get("PERF_SF_DIR", "/root/testdata/sf0.1")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Profiler:
    """Profiles registry keys on one session (see the module docstring)."""

    def __init__(self, spark):
        self.spark = spark
        self.status = StatusStore(spark)
        self.listener = StreamListener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def profile(self, name: str, sf_dir: str) -> dict:
        from avro_parquet_spark_example_spark.registry import get_query

        fn = get_query(name).fn
        _noop(fn(self.spark, sf_dir))  # warm-up: JIT, page cache, file listing
        self.status.new_jobs()
        self.listener.take()
        t0 = time.perf_counter()
        df = fn(self.spark, sf_dir)
        build_s = time.perf_counter() - t0
        build_jobs = self.status.new_jobs()
        t0 = time.perf_counter()
        _noop(df)
        action_s = time.perf_counter() - t0
        jobs = build_jobs + self.status.new_jobs()
        _, progress = self.listener.take()
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for s in self.status.stages(stage_ids) if s["status"] != "SKIPPED"]

        def total(field: str) -> int:
            return sum(s[field] for s in stages)

        return {
            "build_s": round(build_s, 4),
            "build_jobs": len(build_jobs),
            "action_s": round(action_s, 4),
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": total("numCompleteTasks"),
            "executor_cpu_s": round(total("executorCpuTime") / 1e9, 3),
            "input_bytes": total("inputBytes"),
            "shuffle_write_bytes": total("shuffleWriteBytes"),
            "shuffle_read_bytes": total("shuffleReadBytes"),
            "spill_bytes": total("diskBytesSpilled") + total("memoryBytesSpilled"),
            "stream_batches": len(progress),
        }


def worker_pyspark_file(spark) -> str:
    """The ``pyspark.__file__`` a Python worker imports (one 1-row task)."""

    def where(_):
        import pyspark

        yield pyspark.__file__

    return spark.sparkContext.parallelize([0], 1).mapPartitions(where).first()


def host_keys(worker_pyspark: str) -> dict:
    """Header keys for comparing records across hosts: the Python version,
    and whether workers import PySpark from a zip (``worker_pyspark`` is
    their ``pyspark.__file__``)."""
    return {
        "python_version": platform.python_version(),
        "worker_pyspark_zip": f"pyspark.zip{os.sep}" in worker_pyspark,
    }


def main(out_path: str | None) -> int:
    from avro_parquet_spark_example_spark.registry import all_queries
    from avro_parquet_spark_example_spark.session import get_session
    from bench import _calibrate, _calibrate_scan, _calibrate_shuffle

    spark = get_session(app_name="perf-sweep")

    def calibrate() -> dict:
        return {
            "calib_sec": _calibrate(spark),
            "calib_shuffle_sec": _calibrate_shuffle(spark),
            "calib_scan_sec": _calibrate_scan(spark, SF_DIR),
        }

    calib_start = calibrate()
    profiler = Profiler(spark)
    keys: dict[str, dict] = {}
    failures: dict[str, str] = {}
    for name in all_queries():
        try:
            keys[name] = rec = profiler.profile(name, SF_DIR)
            print(f"{name}: {json.dumps(rec)}", flush=True)
        except Exception as exc:  # noqa: BLE001 - record and continue
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"FAIL {name}: {failures[name]}", flush=True)
    profiler.close()
    doc = {
        "sf_dir": SF_DIR,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        **host_keys(worker_pyspark_file(spark)),
        "calib_start": calib_start,
        "calib_end": calibrate(),
        "n_queries": len(keys),
        "total_sec": round(sum(r["build_s"] + r["action_s"] for r in keys.values()), 2),
        "failures": failures,
        "keys": keys,
    }
    out = out_path or "PERF_sweep.json"
    with open(out, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"\nwrote {out}: {len(keys)} queries, {doc['total_sec']}s total, "
          f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else None))
