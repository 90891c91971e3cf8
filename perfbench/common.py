"""Run context shared by the workloads: counters, metrics, the Spark
session and the set-up clock."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from spans import Tracer

ROOT = Path(__file__).resolve().parent.parent
#: the JVM heap of every run (``get_spark`` defaults to 8g)
DRIVER_MEMORY = "3g"


@dataclass
class Ctx:
    seed: int
    seconds: float
    tracer: Tracer
    tmp: Path
    #: perf_counter() at process start; set-up is timed from here
    t_process: float
    spark: object = None
    #: end-to-end metrics: name -> (value, unit); the gated ones
    #: (``end_to_end`` in ``BENCHMARK.json``) are filled by every workload,
    #: the rest are printed only
    e2e: dict = field(default_factory=dict)
    #: per-layer metrics: name -> (value, unit)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    jiffies_at_setup: tuple = (0, 0)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; a failed check is also recorded."""
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.problems.append(what)
        return ok

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(ctx: Ctx, app: str):
    """Spark ``local[nproc]`` with every scratch path inside ``ctx.tmp``."""
    local = ctx.tmp / "spark-local"
    local.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # pinned, so the caller's shell cannot change the measured set-up: a
    # run's Python driver and JVM together peak below 2 GB
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers are forked by the JVM from this environment: they
    # import cerebro_spark from the checkout, whatever the caller's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(local)
    with ctx.tracer.span("session.get_spark"):
        t = time.perf_counter()
        from cerebro_spark.session import get_spark

        spark = get_spark(
            app,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(ctx.tmp / "warehouse"),
                # no hsperfdata file in the machine's /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        ctx.layer["session.get_spark_s"] = (time.perf_counter() - t, "s")
    ctx.spark = spark
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (the gateway exits on EOF) and
    wait until the JVM has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole machine from ``/proc/stat``."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def setup_done(ctx: Ctx) -> None:
    """Mark the end of set-up (session, inputs, warm-up): ``setup_s``."""
    ctx.e2e["setup_s"] = (time.perf_counter() - ctx.t_process, "s")
    ctx.jiffies_at_setup = cpu_jiffies()
