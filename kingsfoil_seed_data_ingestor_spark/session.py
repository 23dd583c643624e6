"""SparkSession construction tuned for this engine.

Local mode is the test bed; the conf values are chosen so the same code
scales to a multi-executor cluster: AQE on (runtime re-plan, skew-join,
partition coalescing), shuffle partitions sized to the parallelism at
hand rather than the 200 default, Arrow enabled for the few pandas-UDF
operators, UTC session time zone so results are comparable across
engines (DuckDB oracle included), zstd for the shuffle, checkpoint and
parquet bytes the engine writes.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "kingsfoil-spark"


def default_driver_heap_gb(meminfo: str = "/proc/meminfo") -> int:
    """Half the host's ``MemTotal`` in whole GiB, clamped to 1..24.

    In local mode driver and executors share this one heap; half the
    host leaves room for the Python workers and the page cache, and
    24 GiB is ample for 32 concurrent task threads.
    """
    total_kb = 0
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return max(1, min(24, total_kb // (2 * 2**20)))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``SPARK_GRAFT_CPUS`` (driver harness convention) controls local
    parallelism; shuffle partitions default to that same number — on a
    real cluster you would set this to ~2-3x total executor cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("KINGSFOIL_DRIVER_MEM") or f"{default_driver_heap_gb()}g",
        )
        # long-lived sessions: ContextCleaner only reclaims shuffle files
        # and torn-down broadcasts when the driver GCs; with a large heap
        # that can take arbitrarily long, so ask for a periodic GC often
        # enough that state from finished queries never piles up
        .config("spark.cleaner.periodicGC.interval", "1min")
        # iterative operators (connected components) checkpoint per
        # iteration; without this, reliable-checkpoint files outlive
        # their RDDs for the whole session (static conf — sessions we
        # don't build fall back to the atexit cleanup in components.py)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # the generated-class cache holds only 100 entries by default
        # (static conf); a session serving the full query registry
        # (~56 queries × several codegen stages each) evicts
        # constantly, so every execution pays Janino recompilation of
        # plans it already compiled — measured as a uniform ~1.5×
        # inflation of EVERY query in a long bench session vs the same
        # query in a fresh session (e.g. dedup_simhash 2.4 s isolated
        # → 3.8 s in-suite). Size it to hold the whole workload; the
        # JIT code cache grows with it
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config(
            "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m"
        )
        # ObjectHashAggregate (collect_set / collect_list aggregates)
        # abandons its hash map for sort-based aggregation after only
        # 128 distinct groups per task — a pre-Tungsten-era safety
        # valve. Our typed-imperative aggregates keep bounded per-group
        # state (a document's shingle set, a block row), so the hash
        # path is safe at far higher group counts; the sort fallback
        # just adds a per-partition sort of every posting row
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
        # with ≤ 200 reduce partitions Spark's bypass-merge shuffle
        # writer opens one temp file per reduce partition and then
        # copies them all into the map output file, so every shuffle
        # byte is written twice: a 4-partition groupBy over
        # incompressible longs (local[4]) measured 2.00× its .data
        # bytes in the JVM's write counter (/proc/<pid>/io wchar),
        # 1.0× with this setting. Threshold 0 sends every SQL shuffle
        # to the serialized writer that wider shuffles already use,
        # which writes each map output once
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        # zstd for every byte the engine writes, in place of lz4 and
        # snappy. spark.io.compression.codec covers shuffle, broadcast,
        # spill and RDD-checkpoint streams: the (doc_id, text)
        # repartition of jaccard_pairs over 3000 documents of a 31-word
        # vocabulary writes 0.50× its lz4 bytes, the keep-first shuffle
        # of typed CMS rows 0.63×. The parquet codec covers the version
        # store's fact files (0.73× of snappy), the streaming LSH
        # index's L0 and run tables (0.96×: mostly hash longs) and every
        # other parquet sink. checkpoint.compress turns the codec on for
        # the components round checkpoints, which Spark writes
        # uncompressed by default. The codec is a session default, not
        # a per-write option: a session this function did not build
        # keeps its own codecs, and readers take the codec from each
        # file's footer, so stores written with snappy still read,
        # compact and merge
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.checkpoint.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_comparable_conf(spark: SparkSession) -> None:
    """Runtime confs that make results engine-comparable.

    Safe to call on a session we did not build (the driver harness
    builds its own): only mutates runtime-mutable SQL confs.

    ``nanosAsLong`` lets Spark read the testdata's nanosecond parquet
    timestamps (events.ts) as epoch-nanos BIGINT; the loader derives a
    microsecond timestamp from it, matching DuckDB's own ns→µs
    truncation at read time so both engines see identical values.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


@contextmanager
def py4j_round_trips(spark: SparkSession) -> Iterator[Callable[[], int]]:
    """Count the driver's py4j round trips to the JVM inside the block.

    Every ``Column`` method, ``DataFrame`` call and JVM attribute lookup
    PySpark makes goes through one ``send_command`` of the session's
    gateway connection, and the JVM answers each with a reply on the
    gateway socket. The block gets a callable returning the count so
    far. Commands other Python threads send in the meantime are counted
    too, so the count is an upper bound.
    """
    client = spark.sparkContext._gateway._gateway_client
    before = vars(client).get("send_command")
    send = client.send_command
    lock = threading.Lock()
    calls = 0

    def counted(*args, **kwargs):
        nonlocal calls
        with lock:
            calls += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        yield lambda: calls
    finally:
        if before is None:
            del client.send_command
        else:
            client.send_command = before
