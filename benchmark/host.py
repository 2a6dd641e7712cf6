"""Host descriptor, CPU-steal sampling, and the host-fit Spark session."""

from __future__ import annotations

import os
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal (guest time is already folded into user/nice)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def session_cpu_s() -> float:
    """User + system CPU seconds of every process in the caller's session
    (the worker, its JVM and the JVM's Python workers), reaped children
    included. The kernel leaves hypervisor steal out of these counters."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def descriptor() -> dict:
    return {"nproc": nproc(), "mem_total_bytes": mem_total_bytes()}


def driver_memory() -> str:
    """Driver heap: 40 % of physical memory, capped at 8 GiB, so the JVM
    fits next to the Python workers on a small host."""
    gib = mem_total_bytes() * 0.4 / 2**30
    return f"{max(1, min(8, int(gib)))}g"


def build_session(tmp_dir: str, event_log_dir: str | None = None,
                  cores: int | None = None):
    """local[cores] session (default local[nproc]) with every scratch path
    inside `tmp_dir`.

    Mirrors the tuning `pipeline.run.main` applies (AQE on, coalescing
    off, 16 MB splits, 128 MB broadcast budget, compressed RDD blocks,
    no locality wait), with memory and parallelism taken from the host.
    A session narrower than the host (`cores` given) gets one shuffle
    partition per core: it is sized for small graphs, whose stages would
    otherwise wait on the slowest of eight near-empty tasks."""
    from pyspark.sql import SparkSession

    partitions = cores or max(nproc(), 8)
    cores = cores or nproc()
    local_dir = os.path.join(tmp_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("kg-benchmark")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={local_dir}")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(tmp_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.autoBroadcastJoinThreshold", "128m")
        .config("spark.rdd.compress", "true")
        .config("spark.locality.wait", "0s")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noise_probe(spark) -> float:
    """Fixed-work calibration: a 10⁸-row aggregate. Its wall time moves
    only with the host's speed and load, never with the code under test."""
    t0 = time.perf_counter()
    spark.range(0, 10**8, 1, 2 * nproc()).selectExpr("sum(id % 7)").collect()
    return time.perf_counter() - t0
