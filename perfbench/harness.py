"""Shared plumbing for the benchmark workloads.

A workload module exposes ``prepare(ctx)`` (seeded input generation,
returns the inputs), ``warm(ctx, inputs)`` (the warm-up pass, whose cost
goes into ``setup_s``; returns the workload's state),
``measure(ctx, state)`` (the closed-loop timed region) and
``check(ctx, state)`` (the output checks, after the timed region). This
module owns what every workload shares: the host-sized Spark session,
the work directory inside the checkout, latency summaries and the
driver JVM's peak memory.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
from dataclasses import dataclass, field
from pathlib import Path

#: every file the benchmark writes lives under this directory of the
#: checkout (listed in .gitignore)
WORK_DIR_NAME = ".perfbench_run"
#: the driver heap is a quarter of the memory the host has available,
#: in whole GiB between these bounds: the package default (24g)
#: overcommits a 15 GB host, and a fixed cap keeps peak_rss_mb
#: comparable across runs while other tenants' use moves MemAvailable
HEAP_MIN_GB = 1
HEAP_MAX_GB = 4
#: a tail percentile is reported only where at least this many samples
#: lie beyond it
TAIL_BEYOND = 10


def repo_root() -> Path:
    return Path(__file__).resolve().parents[1]


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_heap_gb() -> int:
    avail_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
                break
    return max(HEAP_MIN_GB, min(HEAP_MAX_GB, avail_kb // (4 * 2**20)))


@dataclass
class Context:
    """What a workload sees: the session, its seed and budget, the
    tracer and a private scratch directory."""

    spark: object
    seed: int
    seconds: float
    tracer: object
    work: Path
    #: end-to-end samples the workload fills in; ``ops`` counts the
    #: timed operations (an upload with its reads, a corpus operation)
    ops: int = 0
    op_latencies: list[float] = field(default_factory=list)
    items: float = 0.0
    busy_s: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    #: per-layer values the workload computes itself (counts, ratios);
    #: span-derived ones are added by the tracer
    layer: dict[str, float] = field(default_factory=dict)
    #: per-layer times the workload measures itself (report only)
    layer_times: dict[str, float] = field(default_factory=dict)
    #: human-readable facts for the run report (sizes, which percentile)
    report: dict = field(default_factory=dict)

    def fail(self, message: str) -> None:
        self.failures.append(message)

    def scratch(self, name: str) -> Path:
        d = self.work / name
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        return d


def start_session(work: Path, trace: bool):
    """Host-sized ``local[cpus]`` session whose files all stay in
    ``work``; with ``trace`` Spark's JSON event log goes there too."""
    for sub in ("tmp", "spark-local", "eventlog", "checkpoints", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Python workers import the package whatever directory the run starts in
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(repo_root()), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("KINGSFOIL_DRIVER_MEM", f"{host_heap_gb()}g")
    cpus = host_cpus()
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the package's code-cache size plus a temp dir inside the checkout
        "spark.driver.extraJavaOptions": (
            f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={work / 'tmp'}"
        ),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{work / 'eventlog'}"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    from kingsfoil_seed_data_ingestor_spark.session import get_spark, pin_comparable_conf

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    pin_comparable_conf(spark)
    spark.sparkContext.setCheckpointDir(str(work / "checkpoints"))
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM the session launched and wait for
    it: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def session_facts(spark) -> dict:
    return {
        "cpus": host_cpus(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "spark_version": spark.version,
    }


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """The process's peak resident set (VmHWM) in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(pid: str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _written(pid: int) -> int:
    with open(f"/proc/{pid}/io") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("wchar:"))


def tree_usage(root: int) -> tuple[float, int]:
    """``(CPU seconds, bytes written)`` of process ``root`` and every
    descendant (the JVM's Python workers), all threads included:
    user + system time, and every byte passed to ``write`` (files,
    Spark's shuffle and spill files, sockets)."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            f = _stat(pid)
        except OSError:
            continue  # exited while listing
        parent[int(pid)] = int(f[1])
        # own time plus that of exited children it has waited for, so a
        # Python worker that ends inside the window still counts
        ticks[int(pid)] = sum(int(x) for x in f[11:15])
    cpu = written = 0
    frontier = [root]
    while frontier:
        pid = frontier.pop()
        cpu += ticks.get(pid, 0)
        try:
            written += _written(pid)
        except OSError:
            pass  # exited since the listing
        frontier += [c for c, p in parent.items() if p == pid]
    return cpu / os.sysconf("SC_CLK_TCK"), written


def self_usage() -> tuple[float, int]:
    """The same for this (client) process."""
    return sum(os.times()[:2]), _written(os.getpid())


def timed_ops(seconds: float, nominal_op_s: float) -> int:
    """How many operations the timed region holds: ``seconds`` of work
    at the operation's nominal wall on an unloaded 4-core host. The
    count, not the clock, ends the region, so every run does the same
    work however loaded the host is."""
    return max(1, round(seconds / nominal_op_s))


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest sample with at least
    ``TAIL_BEYOND`` samples beyond it, or the maximum when there are
    too few samples for that (percentile then reads 100)."""
    xs = sorted(values)
    n = len(xs)
    if n > TAIL_BEYOND:
        return float(xs[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n, n
    return float(xs[-1]), 100.0, n

