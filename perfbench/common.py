"""Shared pieces of the benchmark: statistics, memory, the Spark session.

The session is the engine's own ``session.get_spark`` fitted to a small
box: ``local[4]``, a 3 GB driver heap, and every scratch directory
(Spark local dirs, warehouse, JVM and Python temp files) inside the
run's own directory, so runs share no catalog state and nothing is
written outside the checkout.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time
from dataclasses import dataclass

CORES = 4
DRIVER_MEM = "3g"


# --------------------------------------------------------------- statistics
def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[k - 1])


def tail(xs: list[float]) -> tuple[str, float] | None:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    n = len(xs)
    for p in (99.0, 95.0, 90.0, 75.0):
        if n - math.ceil(p / 100.0 * n) >= 10:
            return f"p{p:g}", percentile(xs, p)
    return None


def describe(name: str, xs: list[float], unit: str) -> str:
    """'name: p50 X unit, p90 Y unit, n=N' — the report form of a timing."""
    if not xs:
        return f"{name}: no samples"
    out = f"{name}: p50 {median(xs):.4g} {unit}"
    t = tail(xs)
    if t is not None:
        out += f", {t[0]} {t[1]:.4g} {unit}"
    return out + f", n={len(xs)}"


# ------------------------------------------------------------------- memory
def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total / 1e6


# ------------------------------------------------------------------ session
@dataclass
class Session:
    spark: object
    start_s: float
    jvm_pid: int

    def stop(self) -> None:
        """Stop the context, shut the py4j gateway, and wait for the JVM."""
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.terminate()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def start_session(run_dir: str, cores: int = CORES, traced: bool = False) -> Session:
    """Start the engine's SparkSession with all scratch space under run_dir."""
    from crawler_tjce_spark.session import get_spark

    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # the environment variable wins over spark.local.dir when both are set
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # keep every job of the run in the status store for stage_attribution
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    start_s = time.perf_counter() - t0
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return Session(spark, start_s, jvm_pid)
