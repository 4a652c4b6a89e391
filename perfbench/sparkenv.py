"""Spark session and host counters shared by every benchmark process.

Everything a run writes lands under ``work`` inside the checkout: Spark's
local dirs, the JVM and Python temp dirs, the warehouse and the event log.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

#: driver heap, pre-sized (-Xms == -Xmx) so the JVM never grows it mid-run;
#: small enough to share a 15 GB box with the DuckDB oracle and the OS cache
DRIVER_HEAP = "3g"

CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def confine_tmp(work: Path) -> Path:
    """Point Python's and child processes' temp files into ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    return tmp


def build_session(work: Path, event_log: Path | None = None):
    """SparkSession at local[nproc]. ``event_log`` turns on Spark's event
    log there, uncompressed and unrolled so the fold can read it with the
    standard library."""
    from pyspark.sql import SparkSession

    tmp = confine_tmp(work)
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir below
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    n = nproc()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("sparkcheck-perfbench")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            # no hsperfdata file: the JVM writes it to the system temp dir
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.sql.shuffle.partitions", str(n))
        # one scan task per input file (4 x nproc files), not one per core:
        # a straggler task then holds one sixteenth of the scan, not a quarter
        .config("spark.sql.files.minPartitionNum", str(4 * n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
    )
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", str(event_log))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid  # noqa: SLF001 — the launched java


def shutdown_jvm(spark) -> None:
    """Stop Spark, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the launched JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — TimeoutExpired: do not leave it running
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` in clock ticks, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def steal_ticks() -> int:
    """Host-wide steal time in clock ticks, from the cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0
