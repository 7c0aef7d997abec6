"""Benchmark of the avro_parquet_spark_example_spark engine, end to end and
per layer.

    python3 perfbench/run.py --workload avro_io --seed 1 --seconds 24 --trace 0

One client runs the workload's ops in a serial closed loop on
``local[<cores>]``, at the workload's scale factor (``avro_io`` 0.1,
``multi_job`` 0.01; see ``workloads.py``). A run:

1. generates the input tables from ``--seed`` (``datagen.py``);
2. sets up, timed as ``setup_s``: builds the session, configures it,
   imports the query registry and runs the workload's discarded warm-up
   passes;
3. computes the expected outputs once, untimed: the registry's DuckDB
   oracles for registry queries, and a Parquet-side row checksum for the
   Avro read-back;
4. runs a fixed count of timed passes over the op list, ``--seconds``
   divided by the workload's ``seconds_per_pass`` (at least one); the seed
   fixes the op order of each pass. Every op's output is checked, and an op
   that fails or returns a wrong result counts in ``failed``; the run goes
   on.

With ``--trace 0`` the last stdout line reports the end-to-end metrics
(``setup_s``; ``pass_s``, the sum over the workload's ops of each op's
fastest wall time in the timed passes). With ``--trace 1``
passes alternate between tracing off and on (off, on, on, off, ...; at
least four passes) and the last line reports the per-layer metrics of the
traced passes (see ``layers.py``), ``trace.overhead_pct`` and the peak
resident memory of the process tree. Lines before it print every metric
with its unit, the error rate, the run's environment and per-pass times.
Each run also leaves a JSON record (spans included) under
``.perfbench_runs/records/``; its inputs, Avro outputs and stream
checkpoints live in a per-run directory that is deleted at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

import duckdb
import pyarrow
import pyspark

import datagen
from layers import end_to_end, per_layer, shard_stats
from tracing import RssSampler, StatusStore, StreamListener, Tracer, descendants
from workloads import (
    ORDERS_AVRO_SCHEMA,
    WORKLOADS,
    digest,
    oracle_digests,
    orders_fingerprint,
    pass_order,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "avro_parquet_spark_example_spark"
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
sys.path.insert(1, ROOT)  # the package and tools/check_oracle.py


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def git_commit(root: str) -> str | None:
    """HEAD commit read from ``.git`` without running git; None outside a clone."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def source_sha256(root: str) -> str:
    """Digest of the package's Python sources, identifying the code measured."""
    h = hashlib.sha256()
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def isolate(run_dir: str, cpus: int) -> None:
    """Point every scratch location of this process, the JVM and the Python
    workers into ``run_dir``, and let the workers import the package."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "work")}
    for d in dirs.values():
        os.makedirs(d)
    path = os.environ.get("PYTHONPATH")
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ.update(
        {
            "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "TMPDIR": dirs["tmp"],
            "TZ": "UTC",
            # -XX:-UsePerfData: no hsperfdata file in the system /tmp, from
            # neither spark-submit's launcher JVM nor the driver JVM
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData' "
                f"{submit}"
            ),
        }
    )
    time.tzset()
    tempfile.tempdir = None
    os.chdir(dirs["work"])  # the Spark warehouse defaults to <cwd>/spark-warehouse


def steal_ticks() -> int:
    """Machine-wide CPU steal time so far, in clock ticks (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes), and
    wait until every child process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: str, cpus: int):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.cpus = cpus
        self.data_dir = os.path.join(run_dir, "data")
        self.avro_dir = os.path.join(run_dir, "orders.avro.d")
        self.spark = None
        self.tracer = None
        self.expected: dict = {}
        self.shards: list = []
        self.next_op_id = 0
        self.steal = 0.0

    # -- ops -----------------------------------------------------------------

    def run_op(self, name: str, timings: dict):
        """Run one op, timing its steps into ``timings``; returns what its
        check needs."""
        from avro_parquet_spark_example_spark.registry import get_query
        from avro_parquet_spark_example_spark.sources.avro_datasource import (
            write_distributed,
        )
        from avro_parquet_spark_example_spark.sources.catalog import load

        spark, step = self.spark, self.tracer.step
        if name == "avro_write":
            self.shards = []
            with step("sources.avro_datasource.write", timings):
                orders = load(spark, self.data_dir, "orders")
                write_distributed(orders, self.avro_dir, ORDERS_AVRO_SCHEMA, codec="deflate")
            return None
        if name == "avro_read":
            with step("sources.avro_datasource.read", timings):
                read_back = spark.read.format("avrofile").option("path", self.avro_dir).load()
                df = orders_fingerprint(read_back)
            with step("operators.action", timings):
                rows = df.collect()
            return df.columns, rows, read_back
        with step("registry.build", timings):
            df = get_query(name).fn(spark, self.data_dir)
        with step("operators.action", timings):
            rows = df.collect()
        return df.columns, rows

    def check(self, name: str, result) -> bool:
        if name == "avro_write":
            self.shards = shard_stats(self.avro_dir)
            return sum(rows for _, _, rows in self.shards) == self.expected[name]
        if name == "avro_read":
            # the checksum alone would pass a read-back that lost a logical
            # type (xxhash64 hashes timestamp micros and their long alike)
            _, rows, read_back = result
            dtypes, fingerprint = self.expected[name]
            return read_back.dtypes == dtypes and [tuple(r) for r in rows] == [fingerprint]
        columns, rows = result
        want_cols, want = self.expected[name]
        return sorted(c.lower() for c in columns) == want_cols and digest(columns, rows) == want

    def run_pass(self, pass_no: int, check: bool) -> dict:
        ops = []
        for name in pass_order(self.workload, self.args.seed, pass_no):
            op_id, self.next_op_id = self.next_op_id, self.next_op_id + 1
            timings: dict[str, float] = {}
            rec = {"op": name, "op_id": op_id, "steps": timings}
            try:
                with self.tracer.op(op_id, name):
                    result = self.run_op(name, timings)
                rec["status"] = "ok" if not check or self.check(name, result) else "wrong"
                if result is not None:
                    rec["rows"] = len(result[1])
            except Exception:
                traceback.print_exc()
                rec["status"] = "failed"
            rec["s"] = sum(timings.values())
            if rec["status"] != "ok":
                print(f"# op {name} pass {pass_no}: {rec['status']}", file=sys.stderr)
            ops.append(rec)
        return {"pass": pass_no, "ops": ops, "pass_s": sum(op["s"] for op in ops)}

    # -- phases --------------------------------------------------------------

    def setup(self) -> dict:
        """Timed set-up: session, configure, registry import, warm-up passes."""
        t0 = time.perf_counter()
        from avro_parquet_spark_example_spark import session

        # get_session ends by calling session.configure; time that call as
        # a span inside get_session rather than calling configure again
        configure, configure_s = session.configure, []

        def timed_configure(spark):
            c0 = time.perf_counter()
            try:
                return configure(spark)
            finally:
                configure_s.append(time.perf_counter() - c0)

        session.configure = timed_configure
        try:
            spark = session.get_session(master=f"local[{self.cpus}]")
        finally:
            session.configure = configure
        self.spark = spark
        t1 = time.perf_counter()
        from avro_parquet_spark_example_spark import registry

        registry.all_queries()
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        from avro_parquet_spark_example_spark.sources import avro_datasource, scans
        from avro_parquet_spark_example_spark.streaming import stateful

        avro_datasource.ensure_registered(spark)
        stateful.SCRATCH = os.path.join(self.run_dir, "streams")
        scans.SCRATCH = os.path.join(self.run_dir, "scratch")
        self.tracer = Tracer(None)
        warm = [self.run_pass(-1 - n, check=False) for n in range(self.workload.warmup_passes)]
        t3 = time.perf_counter()
        return {
            "setup_s": t3 - t0,
            "session.get_session_s": t1 - t0,
            "session.configure_s": sum(configure_s),
            "registry.import_s": t2 - t1,
            "warmup_s": t3 - t2,
            "warmup_ops": sum(len(p["ops"]) for p in warm),
            "warmup_failed": sum(op["status"] != "ok" for p in warm for op in p["ops"]),
        }

    def compute_expected(self) -> None:
        """Expected outputs, computed once and untimed."""
        from avro_parquet_spark_example_spark.sources.catalog import load

        queries = tuple(op for op in self.workload.ops if not op.startswith("avro_"))
        if queries:
            self.expected.update(
                oracle_digests(self.data_dir, self.workload.tables, queries)
            )
        if "avro_read" in self.workload.ops:
            orders = load(self.spark, self.data_dir, "orders")
            fingerprint = tuple(orders_fingerprint(orders).collect()[0])
            self.expected["avro_read"] = (orders.dtypes, fingerprint)
            self.expected["avro_write"] = fingerprint[0]

    def timed_passes(self) -> list[dict]:
        steal0 = steal_ticks()
        traced_run = bool(self.args.trace)
        if traced_run:
            self.tracer = Tracer(StatusStore(self.spark))
            listener = StreamListener()
        n_passes = max(1, round(self.args.seconds / self.workload.seconds_per_pass))
        if traced_run:
            n_passes = max(4, n_passes)  # at least one off-on-on-off cycle
        passes: list[dict] = []
        t0 = time.perf_counter()
        for n in range(n_passes):
            traced = traced_run and n % 4 in (1, 2)
            if traced:
                listener.take()
                self.spark.streams.addListener(listener)
            self.tracer.enabled = traced
            rec = self.run_pass(n, check=True)
            self.tracer.enabled = False
            rec["traced"] = traced
            if traced:
                self.tracer.status.drain()
                self.spark.streams.removeListener(listener)
                rec["stream"] = listener.take()
            rec["shards"] = self.shards
            passes.append(rec)
            print(
                f"# pass {n} traced={int(traced)} {rec['pass_s']:.4f} s "
                + " ".join(f"{op['op']}={op['s']:.3f}" for op in rec["ops"]),
                flush=True,
            )
        # CPU time the hypervisor gave to other guests, per second
        elapsed = time.perf_counter() - t0
        self.steal = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / elapsed
        return passes

    def environment(self) -> dict:
        return {
            "workload": self.workload.name,
            "ops": list(self.workload.ops),
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": self.cpus,
            "master": self.spark.sparkContext.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "sf": self.workload.sf,
            "sf_dir": os.path.relpath(self.data_dir, ROOT),
            "spark": self.spark.version,
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "python": platform.python_version(),
            "git_commit": git_commit(ROOT),
            "source_sha256": source_sha256(ROOT),
        }

    def run(self) -> int:
        args, wl = self.args, self.workload
        datagen.write_tables(self.data_dir, wl.tables, args.seed, wl.sf)
        with RssSampler() as rss:
            try:
                setup = self.setup()
                env = self.environment()
                print("# env " + json.dumps(env), flush=True)
                self.compute_expected()
                passes = self.timed_passes()
                if args.trace:
                    metrics = per_layer(self, setup, passes, rss.peak_bytes)
            finally:
                if self.spark is not None:
                    stop_spark(self.spark)
        # warm-up ops count too: their output is not checked, but an op
        # that fails only on a cold session is still a failure
        attempted = setup["warmup_ops"] + sum(len(p["ops"]) for p in passes)
        failed = setup["warmup_failed"] + sum(
            op["status"] != "ok" for p in passes for op in p["ops"]
        )
        e2e = end_to_end(setup, passes, rss.peak_bytes)
        if not args.trace:
            metrics = {k: e2e[k] for k in ("setup_s", "pass_s")}
        self.write_record(env, setup, passes, e2e, metrics)
        for name, m in {**e2e, **metrics}.items():
            print(f"{name} {m['value']!r} {m['unit']}")
        print(f"# steal_cpus {self.steal!r} (CPUs taken by other guests while timing)")
        print(f"error_rate {failed / attempted!r} fraction ({failed} of {attempted} ops)")
        print(f"correct {str(failed == 0).lower()}")
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0

    def write_record(self, env, setup, passes, e2e, metrics) -> None:
        out = os.path.join(RUNS_DIR, "records")
        os.makedirs(out, exist_ok=True)
        name = f"{self.workload.name}-seed{self.args.seed}-trace{self.args.trace}.json"
        spans = [vars(s) for s in self.tracer.spans] if self.tracer else []
        with open(os.path.join(out, name), "w") as f:
            json.dump(
                {"env": env, "setup": setup, "steal_cpus": self.steal, "passes": passes,
                 "end_to_end": e2e, "metrics": metrics, "spans": spans},
                f,
                default=str,
            )


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_oracle.py")
    ):
        print(
            f"perfbench: {PACKAGE}/ or tools/check_oracle.py missing under {ROOT}",
            file=sys.stderr,
        )
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS_DIR)
    cwd = os.getcwd()
    try:
        isolate(run_dir, len(os.sched_getaffinity(0)))
        return Bench(args, run_dir, len(os.sched_getaffinity(0))).run()
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
