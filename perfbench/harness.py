"""Per-run plumbing shared by the workloads: the scratch directory and
environment, the Spark session, timed ops (and their spans when
tracing), the host load sentinel and teardown."""

from __future__ import annotations

import os
import tempfile
import time
from contextlib import contextmanager, nullcontext

import spans as tr

# Where the fixture tables live (the repository's tests read the same
# tree at other scales). Read only.
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.01"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> dict[str, str]:
    """Point every scratch location the program and Spark use into
    `run_dir`, before pyspark is imported."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "stream", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    # The JVM's own temp files (read by the launcher for the JVM it starts).
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={dirs['tmp']}"
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = dirs["stream"]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # Python workers inherit this: keeps pandas deprecation chatter
    # from the Arrow UDF path out of the benchmark's stderr.
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    return dirs


def start_spark(dirs: dict[str, str]):
    from sparrow_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.local.dir": dirs["local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def calibrate(spark) -> float:
    """Fixed CPU-bound Spark job (bench.py's load sentinel): its time
    moves only with load on the host, never with this repository."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (spark.range(0, 32 * 2_000_000, 1, 32)
     .select(F.sum((F.col("id") % 1_000_003) * 2 + 1).alias("s")).collect())
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the context, then Spark's JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


class Run:
    """State of one benchmark run. Ops are timed with perf_counter; in
    a traced run each op is also a root span, and the Spark jobs it
    started are read from the status store after its timer stops."""

    def __init__(self, args, run_dir: str, spark) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.dir = run_dir
        self.spark = spark
        self.sf_dir = SF_DIR
        self.tracer = tr.Tracer() if args.trace else None
        self.jobs = None
        if self.tracer:
            from sparkinfo import JobCounter

            self.jobs = JobCounter(spark)
        self.walls: dict[str, float] = {}
        self.spark_stats: dict[str, dict] = {}
        self.attempted = 0
        self.errors: list[str] = []
        self.failed_ops: set[str] = set()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def op(self, op_id: str, name: str):
        """Time one query, statement or drain. Exceptions propagate."""
        self.attempted += 1
        mark = None
        if self.jobs:
            self.jobs.settle()
            mark = self.jobs.last_job()
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            if self.tracer:
                with self.tracer.op(op_id, name):
                    yield rec
            else:
                yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            self.walls[op_id] = rec["wall"]
            if self.jobs:
                self.jobs.settle()
                self.spark_stats[op_id] = self.jobs.stats(mark, self.jobs.last_job())

    def fail(self, op_id: str, reason: str) -> None:
        """Record a failed op (an error or a wrong answer) once."""
        if op_id not in self.failed_ops:
            self.failed_ops.add(op_id)
            self.errors.append(f"{op_id}: {reason}"[:400])
