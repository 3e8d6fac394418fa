"""Box-derived Spark session for the benchmark.

Cores come from the CPU affinity mask (what ``nproc`` reports) and the
driver heap from ``MemTotal``; nothing is inherited from ``bench.py``'s
defaults. Every file the run writes, Spark's scratch and the Python
workers' temp files included, lands under the checkout's work dir.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

# share of physical RAM given to the driver JVM heap; the rest is left
# to the Python workers (256px fetch+validate holds ~110 MB of scratch
# per worker) and the page cache the snapshot store reads through
HEAP_SHARE = 0.25
HEAP_MAX_MB = 8192


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb(total_mb: int) -> int:
    """Driver heap for a box with ``total_mb`` of RAM.

    Raises when even the floor heap does not fit: starting a JVM whose
    heap exceeds physical memory trades a clear error for a swap-less
    OOM kill mid-run."""
    heap = min(HEAP_MAX_MB, int(total_mb * HEAP_SHARE))
    heap = max(heap, 1024)
    if heap >= total_mb:
        raise RuntimeError(
            f"driver heap {heap} MB does not fit in {total_mb} MB of RAM"
        )
    return heap


def prepare_env() -> None:
    """Process environment that Spark's JVM and Python workers inherit.

    The workers import ``torscrapper_spark`` by name when they unpickle
    a UDF, so the checkout root goes on their import path: a driver
    started outside the repo root otherwise fails every task with
    ``ModuleNotFoundError``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM takes no driver options: keep its
    # hsperfdata file out of the system temp dir too
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    if ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session(event_log_dir: str | None = None):
    """A fresh ``local[<cores>]`` session sized from this box.

    ``event_log_dir`` turns on an uncompressed event log (traced runs)."""
    from pyspark.sql import SparkSession

    from torscrapper_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    n = cores()
    heap = heap_mb(mem_total_mb())
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.driver.memory": f"{heap}m",
        # -UsePerfData: no hsperfdata file outside the work dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(f"local[{n}]", app_name="perfbench", extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session and wait for its JVM to exit.

    The JVM ends when its stdin closes, which would otherwise happen only
    as this process exits, leaving the JVM to outlive the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
