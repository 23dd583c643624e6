"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line on stdout:

    {"metric": "total_query_wall_time", "value": warm_total, "unit":
     "sec", "queries": {...}, "sf": ..., "cold_total": ...,
     "streaming": {...}, "detail": "BENCH_FULL.json"}

Harness contract (round-6 fix): the driver that records BENCH_r{N}.json
keeps only the LAST 2000 characters of stdout and parses the JSON line
out of that tail. Round 5's line carried all 81 per-query timings and
overflowed the tail, so the driver recorded ``"parsed": null``. The
line printed here is therefore CHAR-BUDGETED — the slowest queries are
included until the serialized line would exceed the budget, and the
full per-query (cold, warm) table is written to ``BENCH_FULL.json``
next to this script (committed with the round). Everything else the
bench prints goes to stderr so the stdout tail contains exactly one
line.

Timing methodology (two columns, round-6 change per VERDICT r5 #3):

* ``cold``  — the query's FIRST execution in this JVM: includes its
  whole-stage-codegen compile and HotSpot warm-up for its generated
  classes.  Comparable to the round-1..4 single-pass numbers.
* ``warm``  — best of TWO subsequent timed passes, after a cache-clear
  and an explicit JVM GC before each clock start (single-pass totals
  swung ±35 % with GC/page-cache state; per-query min across passes is
  the steady-state throughput a long-lived cluster runs at).

Round-7 layout change (PERF_NOTES §r7): the two columns now run in TWO
PHASES — every query's cold pass first, then every query's warm
passes. The interleaved layout taxed each warm pass with the previous
queries' background C2 compilation bursts (~+1 % per 10 registry
queries, the r6 driver's uniform "inflation"); phase separation makes
the warm total registry-size-independent.

``value`` (the headline) stays the WARM total so it is comparable to
BENCH_r05; ``cold_total`` is reported beside it so round-over-round
deltas can be read like-for-like (see PERF_NOTES.md §r6).

Execution drain: ``write.format("noop")`` — every row is produced and
discarded executor-side, nothing funnels to the driver.

A streaming micro-bench (VERDICT r5 #8) runs after the batch table:
the events table is split into 8 parquet files and streamed with
``maxFilesPerTrigger=2`` (4 micro-batches) through (a) the tumbling
window aggregate and (b) the stateful ``applyInPandasWithState``
corpus dedup, each timed end-to-end with an AvailableNow trigger.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kingsfoil_seed_data_ingestor_spark import plans  # noqa: F401
from kingsfoil_seed_data_ingestor_spark.plans.core import QUERIES
from kingsfoil_seed_data_ingestor_spark.session import get_spark, pin_comparable_conf

#: serialized stdout line must fit the driver's 2000-char tail with room
#: for a trailing newline and any final stray stderr interleave
LINE_BUDGET = 1800


def cpu_probe() -> float:
    """Single-core host-speed witness: a fixed pure-Python integer
    loop, timed. The absolute wall-times in this bench are only
    comparable across rounds when the underlying host is — and the VM
    the driver runs each round on can differ (observed in round 7: a
    mid-round VM restart shifted EVERY query, and the isolated
    ``tools/timeq.py`` numbers, uniformly ~1.4×, with zero steal time
    and an idle machine — i.e. a slower host, not a slower engine).
    Recording this probe beside the totals lets a cross-round reader
    divide out host speed before concluding anything about the code."""
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i & 7
    assert x > 0
    return round(time.perf_counter() - t0, 4)


def _spin(_):
    x = 0
    for i in range(10_000_000):
        x += i & 7
    return x


def cpu_probe_mc(workers: int = 8) -> float:
    """Multi-core twin of ``cpu_probe``: the same fixed loop in
    ``workers`` concurrent PROCESSES (the GIL rules out threads),
    timed end to end. Diagnoses the failure mode the single-core probe
    misses: on a shared host, per-core speed can hold steady while
    aggregate multi-core throughput degrades (noisy neighbors) — which
    is what a 32-thread local Spark suite actually experiences. Seen
    in round 7: suite totals drifted 87→111 s across an afternoon with
    the single-core probe flat at ~0.41-0.43 s.

    ADVICE r7 #2: forking a multithreaded parent (live py4j/JVM
    session) can deadlock children and the 8 forked copies of an
    RSS-heavy driver perturb the measurement itself — so ``main()``
    only calls this OUTSIDE the Spark session window (before
    ``get_spark()`` and after ``spark.stop()``), where fork is a
    single-threaded, small-RSS parent and remains the cheap, exec-free
    choice (spawn would bill each worker a full re-import of this
    module, pyspark included)."""
    import multiprocessing as mp

    t0 = time.perf_counter()
    ctx = mp.get_context("fork")
    with ctx.Pool(workers) as pool:
        pool.map(_spin, range(workers))
    return round(time.perf_counter() - t0, 4)


def _spin_tasks(it):
    # smaller fixed spin than _spin: ~0.15 s/core idle — enough signal
    # above scheduler noise, cheap enough to sample many times
    x = 0
    for i in range(4_000_000):
        x += i & 7
    yield x


def cpu_probe_spark(spark, tasks: int = 32) -> float:
    """EXECUTOR-SIDE multicore probe (VERDICT r8 #3): ``tasks``
    concurrent Spark tasks each running a fixed Python spin inside
    ``mapPartitions``, timed end to end. This measures the aggregate
    multicore throughput the 32-thread suite actually competes for —
    INSIDE the session window, at any timeline point — without fork
    (ADVICE r7 #2 stays satisfied: the parallelism is Spark's own
    executor threads + reused Python workers, no multiprocessing of a
    live-JVM parent). The r8 driver run recorded the most-parallel
    query at 2× its true cost while the single-core probe timeline
    stayed FLAT — only the session-exterior mc-probe (0.57 vs 0.39 s)
    revealed multicore contention, unattributable per-query. Sampling
    this beside ``cpu_probe`` at each timeline mark closes that gap:
    host-wide parallel slowdowns now show up AT the phase boundary
    where they hit."""
    t0 = time.perf_counter()
    n = (
        spark.sparkContext.parallelize(range(tasks), tasks)
        .mapPartitions(_spin_tasks)
        .count()
    )
    assert n == tasks
    return round(time.perf_counter() - t0, 4)


def drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _reset(spark) -> None:
    """Clear persisted intermediates and force a GC so a query is not
    billed for a stop-the-world collection of its predecessors' garbage
    (observed: a 0.8 s query reading 11.8 s under accumulated heap
    pressure of the ~170 executions before it)."""
    spark.catalog.clearCache()
    spark._jvm.System.gc()


def jvm_diagnostics(spark) -> dict:
    """JVM-resource snapshot for the bench log (PERF_NOTES §r7): the
    suite-level drift investigation needs hard occupancy numbers for
    the shared compile-side resources that grow with registry size —
    JIT code-cache pools (ReservedCodeCacheSize=512m, session.py),
    metaspace (class count grows with generated classes), cumulative
    HotSpot JIT time, Spark codegen (Janino) compile count/time, and
    GC totals. All read via JMX beans on the local JVM; cheap."""
    out: dict = {}
    try:
        mf = spark._jvm.java.lang.management.ManagementFactory
        pools = mf.getMemoryPoolMXBeans()
        for i in range(pools.size()):
            p = pools.get(i)
            name = p.getName()
            if "CodeHeap" in name or "Metaspace" in name or "Code Cache" in name:
                u = p.getUsage()
                out[name] = {
                    "used_mb": round(u.getUsed() / 2**20, 1),
                    "max_mb": round(u.getMax() / 2**20, 1),
                }
        out["jit_compile_ms"] = mf.getCompilationMXBean().getTotalCompilationTime()
        gcs = mf.getGarbageCollectorMXBeans()
        gc_ms = gc_n = 0
        for i in range(gcs.size()):
            g = gcs.get(i)
            gc_ms += g.getCollectionTime()
            gc_n += g.getCollectionCount()
        out["gc_ms"] = gc_ms
        out["gc_count"] = gc_n
        out["loaded_classes"] = mf.getClassLoadingMXBean().getLoadedClassCount()
    except Exception as exc:  # diagnostics never fail the bench
        out["error"] = str(exc)
    try:
        cg = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        out["codegen_compiles"] = cg.METRIC_COMPILATION_TIME().getCount()
    except Exception:
        pass
    try:
        # Janino generated-class cache occupancy (private Guava cache on
        # the CodeGenerator companion object, read reflectively): the
        # suite-drift investigation needs to see eviction pressure vs
        # spark.sql.codegen.cache.maxEntries
        jvm = spark._jvm
        clazz = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
        )
        mod = clazz.getField("MODULE$").get(None)
        fld = clazz.getDeclaredField("cache")
        fld.setAccessible(True)
        # the field is Spark's NonFateSharingLoadingCache wrapper; its
        # loadingCache() accessor exposes the shaded Guava cache with size()
        out["codegen_cache_entries"] = fld.get(mod).loadingCache().size()
    except Exception:
        pass
    return out


#: warm > cold × this ratio is treated as an invariant violation (cold
#: includes the query's whole-stage-codegen compile, so steady-state warm
#: above it means the warm pass was externally perturbed, not the engine)
WARM_COLD_RATIO = 1.2
#: ...but only when the absolute excess is non-trivial: sub-150 ms
#: queries flip the ratio on scheduler noise alone and a retry storm on
#: them would cost more than it defends
WARM_COLD_ABS_FLOOR = 0.15
#: bounded extra warm passes per violating query (keep the min)
WARM_RETRY_PASSES = 2
#: record a cpu_probe sample every N queries inside the warm phase so
#: per-query host speed is attributable after the fact (VERDICT r7 #1b)
PROBE_EVERY = 30
#: cold-outlier defense (VERDICT r8 #3): a cold pass more than this
#: ratio above the COMMITTED previous-round cold for the same query
#: (same sf) is re-measured once — a transient host stall has to
#:  persist across two separated passes to enter the record
COLD_RETRY_RATIO = 3.0
COLD_RETRY_ABS_FLOOR = 1.0  # seconds — don't retry-storm fast queries


def bench_batch(
    spark,
    sf_dir: str,
    queries=None,
    two_phase: bool = True,
    probe_timeline: list | None = None,
    cold_ref: dict | None = None,
) -> tuple[dict[str, float], dict[str, float], dict[str, dict[str, int]]]:
    """Cold pass + best-of-2 warm per query.

    ``two_phase`` (round-7 default, PERF_NOTES §r7): ALL cold passes run
    first, then all warm passes. The r6 driver bench showed a uniform
    ~1.1-1.3× warm inflation on r5-common queries that grew with the
    registry; A/B isolation (tools/bench_ab.py) reproduced it locally —
    the same 32 queries cost 31.5-33.0 s alone but 35.5 s inside the
    96-query run, while a session PRE-AGED by the other 64 queries
    timed them at 32.1 s. So the cost is not accumulated session state
    but INTERLEAVING: each query's first-ever execution leaves a burst
    of background HotSpot C2 compilation of its freshly generated
    classes, and in the interleaved layout the NEXT queries' timed warm
    passes absorb that CPU competition — a per-query tax that scales
    with registry size. Phase-separating cold from warm moves every
    fresh-code burst out of the warm window: warm totals then measure
    the steady-state throughput of a fully-compiled session and stay
    comparable round-over-round regardless of how many queries the
    registry gains. Cold numbers keep the old semantics exactly
    (first execution, compile included).

    Round-8 hardening (VERDICT r7 #1): the r7 driver run recorded seven
    queries with warm times 3-16× ABOVE their own cold times — a
    physically impossible steady state (cold includes codegen compile)
    caused by mid-run host slowdown landing in the warm-phase tail.
    Isolated re-runs reproduced the r6 numbers exactly, so the engine
    was fine but the recorded numbers were garbage and nothing in the
    harness defended them. Two defenses now:

    * warm > cold × ``WARM_COLD_RATIO`` (and excess > the absolute
      floor) triggers up to ``WARM_RETRY_PASSES`` extra warm passes,
      keeping the min — a transient host stall has to persist across
      FOUR separated passes to survive into the record. Retry counts
      are returned so BENCH_FULL.json shows which rows were defended.
    * a ``cpu_probe`` sample is appended to ``probe_timeline`` at each
      phase boundary and every ``PROBE_EVERY`` warm queries, so a
      cross-round reader can attribute any residual drift to host
      speed at the moment each query ran.
    """
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    retries: dict[str, int] = {}
    cold_retries: dict[str, int] = {}
    items = list((queries or QUERIES).items())
    timeline = probe_timeline if probe_timeline is not None else []

    def mark(label: str) -> None:
        # single-core AND executor-side multicore sample per point: the
        # pair separates "host cores slowed" from "host cores stolen"
        # (VERDICT r8 #3 — r8's per-query drift was mc-contention with
        # a flat single-core timeline)
        timeline.append(
            {
                "at": label,
                "cpu_probe": cpu_probe(),
                "cpu_probe_spark": cpu_probe_spark(spark),
            }
        )

    def timed_cold(name, q) -> float:
        _reset(spark)
        t0 = time.perf_counter()
        drain(q.spark(spark, sf_dir))
        return round(time.perf_counter() - t0, 4)

    def cold_pass(name, q) -> bool:
        try:
            t = timed_cold(name, q)
        except Exception as exc:  # surface, don't abort the whole bench
            print(f"[bench] {name} FAILED cold: {exc}", file=sys.stderr)
            cold[name] = warm[name] = -1.0
            return False
        # cold-outlier defense vs the committed previous-round cold.
        # The retry executes with this query's codegen already cached,
        # so a kept retry value is a LOWER bound of true cold — the
        # honest trade (cold_retries flags the row) vs recording a 3x
        # host-stall artifact as the engine's compile cost.
        ref = (cold_ref or {}).get(name, -1.0)
        if ref > 0 and t > ref * COLD_RETRY_RATIO and t - ref > COLD_RETRY_ABS_FLOOR:
            print(
                f"[bench] {name} cold {t} > {COLD_RETRY_RATIO}x committed "
                f"{ref}: re-measuring once",
                file=sys.stderr,
            )
            cold_retries[name] = 1
            try:
                t = min(t, timed_cold(name, q))
            except Exception as exc:  # keep the first measurement
                print(f"[bench] {name} cold retry failed: {exc}", file=sys.stderr)
        cold[name] = t
        return True

    def one_warm(name, q) -> None:
        _reset(spark)
        t0 = time.perf_counter()
        drain(q.spark(spark, sf_dir))
        t = round(time.perf_counter() - t0, 4)
        if name not in warm or t < warm[name]:
            warm[name] = t

    def warm_passes(name, q) -> None:
        for _ in range(2):
            one_warm(name, q)
        # invariant defense: steady-state warm can't exceed compile-
        # inclusive cold; if it does, the warm window was perturbed —
        # re-measure (bounded) and keep the min
        while (
            retries.get(name, 0) < WARM_RETRY_PASSES
            and cold[name] >= 0
            and warm[name] > cold[name] * WARM_COLD_RATIO
            and warm[name] - cold[name] > WARM_COLD_ABS_FLOOR
        ):
            retries[name] = retries.get(name, 0) + 1
            print(
                f"[bench] {name} warm {warm[name]} > cold {cold[name]} "
                f"x{WARM_COLD_RATIO}: retry {retries[name]}",
                file=sys.stderr,
            )
            one_warm(name, q)

    if two_phase:
        mark("cold_start")
        ok = [(name, q) for name, q in items if cold_pass(name, q)]
        mark("warm_start")
        for i, (name, q) in enumerate(ok):
            if i and i % PROBE_EVERY == 0:
                mark(f"warm_q{i}")
            warm_passes(name, q)
        mark("warm_end")
    else:
        for name, q in items:
            if cold_pass(name, q):
                warm_passes(name, q)
    return cold, warm, {"warm": retries, "cold": cold_retries}


def bench_streaming(spark, sf_dir: str) -> dict[str, float]:
    """Timed streaming micro-bench: N micro-batches through the window
    aggregate and the stateful dedup. Measures end-to-end wall time of
    an AvailableNow run (source listing + state store + sink)."""
    from kingsfoil_seed_data_ingestor_spark.streaming import dedup as SD
    from kingsfoil_seed_data_ingestor_spark.streaming import events as SE

    out: dict[str, float] = {}
    tmp = tempfile.mkdtemp(prefix="kingsfoil-streambench-")
    try:
        ev_dir = os.path.join(tmp, "events")
        doc_dir = os.path.join(tmp, "docs")
        spark.read.parquet(f"{sf_dir}/events.parquet").repartition(8).write.parquet(
            ev_dir
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs.repartition(8).write.parquet(doc_dir)

        t0 = time.perf_counter()
        stream = SE.read_event_stream(spark, ev_dir, max_files_per_trigger=2)
        SE.run_to_memory(
            SE.tumbling_window_counts(stream), "bench_stream_tumbling", "complete"
        )
        out["stream_events_tumbling"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        doc_stream = spark.readStream.schema(docs.schema).option(
            "maxFilesPerTrigger", 2
        ).parquet(doc_dir)
        SE.run_to_memory(
            SD.streaming_corpus_dedup(doc_stream), "bench_stream_dedup", "update"
        )
        out["stream_corpus_dedup"] = round(time.perf_counter() - t0, 4)

        # third micro-bench (round 7): stateful KMV sketch maintenance
        from kingsfoil_seed_data_ingestor_spark.streaming import sketch as SK

        t0 = time.perf_counter()
        ev_schema = spark.read.parquet(ev_dir).schema
        kmv_stream = spark.readStream.schema(ev_schema).option(
            "maxFilesPerTrigger", 2
        ).parquet(ev_dir)
        SE.run_to_memory(
            SK.streaming_distinct_users_kmv(kmv_stream),
            "bench_stream_kmv",
            "update",
        )
        out["stream_events_kmv"] = round(time.perf_counter() - t0, 4)

        # fourth micro-bench (round 8, VERDICT r7 #4): stream-stream
        # interval join with two-sided watermarks — the state-heaviest
        # streaming operator; its state bound is pytest-pinned in
        # test_correlate_events_join_state_bounded. The feed is TIME-
        # ORDERED (range-partitioned on ts, mtimes set to range order):
        # an interval join replays history in event-time order — on a
        # time-random feed the watermark overshoots after batch 1 and
        # silently drops most rows, which would bench a different (and
        # easier) computation. The other three entries keep the r5-r7
        # random feed for round-over-round comparability.
        ordered_dir = os.path.join(tmp, "events_by_time")
        spark.read.parquet(f"{sf_dir}/events.parquet").repartitionByRange(
            8, "ts"
        ).write.parquet(ordered_dir)
        # part-0000N is range N; make mtime order match so the file
        # source replays oldest-first
        parts = sorted(
            f for f in os.listdir(ordered_dir) if f.endswith(".parquet")
        )
        now = time.time()
        for i, f in enumerate(parts):
            os.utime(os.path.join(ordered_dir, f), (now + i, now + i))
        # a stream-stream join materializes one state store per shuffle
        # partition per side per batch; at micro-bench scale 32
        # partitions is pure fixed overhead (~4× the data-proportional
        # cost), so pin 8 for this entry only — the batch queries and
        # the other three streaming entries keep the session setting
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            t0 = time.perf_counter()
            join_stream = SE.read_event_stream(
                spark, ordered_dir, max_files_per_trigger=2
            )
            SE.run_to_memory(
                SE.correlate_events(join_stream), "bench_stream_join", "append"
            )
            out["stream_events_join"] = round(time.perf_counter() - t0, 4)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

        # fifth micro-bench (round 9): incremental MinHash-LSH near-dup
        # index — per batch: shingle+lanes over NEW docs only, banded
        # probe against the accumulated on-disk index, exact-Jaccard
        # verify, idempotent batch_id-scoped writes
        from kingsfoil_seed_data_ingestor_spark.streaming.lsh import (
            StreamingLSHIndex,
            stream_lsh_dedup,
        )

        t0 = time.perf_counter()
        lsh_stream = spark.readStream.schema(docs.schema).option(
            "maxFilesPerTrigger", 2
        ).parquet(doc_dir)
        lsh_index = StreamingLSHIndex(os.path.join(tmp, "lsh_store"))
        q = stream_lsh_dedup(
            lsh_stream, lsh_index, os.path.join(tmp, "lsh_ckpt"),
            query_name="bench_stream_lsh",
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("stream_lsh_dedup did not finish in 300 s")
        lsh_index.near_dup_pairs(spark).count()
        out["stream_lsh_dedup"] = round(time.perf_counter() - t0, 4)
    except Exception as exc:
        print(f"[bench] streaming micro-bench FAILED: {exc}", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        for nm in (
            "bench_stream_tumbling",
            "bench_stream_dedup",
            "bench_stream_kmv",
            "bench_stream_join",
        ):
            try:
                spark.catalog.dropTempView(nm)
            except Exception:
                pass
    return out


def compact_line(
    warm: dict[str, float],
    cold: dict[str, float],
    streaming: dict[str, float],
    sf,
    probe: float,
    probe_mc: float = -1.0,
    detail: str = "BENCH_FULL.json",
) -> str:
    """Build the stdout line under LINE_BUDGET chars: headline totals +
    as many of the slowest per-query warm timings as fit."""
    base = {
        "metric": "total_query_wall_time",
        "value": round(sum(t for t in warm.values() if t >= 0), 4),
        "unit": "sec",
        "sf": sf,
        "cold_total": round(sum(t for t in cold.values() if t >= 0), 4),
        "n_queries": len(warm),
        "cpu_probe": probe,
        "cpu_probe_mc": probe_mc,
        "streaming": streaming,
        "detail": detail,
        "queries": {},
        "queries_omitted": 0,
    }
    ranked = sorted(warm.items(), key=lambda kv: -kv[1])
    for i, (name, t) in enumerate(ranked):
        base["queries"][name] = t
        base["queries_omitted"] = len(ranked) - i - 1
        if len(json.dumps(base, separators=(",", ":"))) > LINE_BUDGET:
            del base["queries"][name]
            base["queries_omitted"] = len(ranked) - i
            break
    return json.dumps(base, separators=(",", ":"))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_str = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf_str) if sf_str.replace(".", "", 1).isdigit() else sf_str

    # keep the stdout tail clean: everything during the run goes to
    # stderr; only the final JSON line is printed on the real stdout
    real_stdout = sys.stdout
    sys.stdout = sys.stderr
    here = os.path.dirname(os.path.abspath(__file__))
    # previous round's committed colds (same sf only) for the
    # cold-outlier defense — read BEFORE this run overwrites the file
    cold_ref: dict = {}
    try:
        with open(os.path.join(here, "BENCH_FULL.json")) as fh:
            prev = json.load(fh)
        if prev.get("sf") == sf:
            cold_ref = {
                k: v["cold"]
                for k, v in prev.get("queries", {}).items()
                if v.get("cold", -1.0) > 0
            }
    except Exception:
        pass
    try:
        probe_pre = cpu_probe()
        # multi-core probe runs OUTSIDE the Spark session window only
        # (ADVICE r7 #2: fork of a live py4j/JVM parent is unsafe)
        probe_mc_pre = cpu_probe_mc()
        spark = get_spark(app_name="kingsfoil-bench")
        pin_comparable_conf(spark)
        probe_timeline: list = []
        cold, warm, retry_log = bench_batch(
            spark, sf_dir, probe_timeline=probe_timeline, cold_ref=cold_ref
        )
        jvm = jvm_diagnostics(spark)
        streaming = bench_streaming(spark, sf_dir)
        probe = round(min(probe_pre, cpu_probe()), 4)
        default_parallelism = spark.sparkContext.defaultParallelism
        spark.stop()
        probe_mc = round(min(probe_mc_pre, cpu_probe_mc()), 4)
    finally:
        sys.stdout = real_stdout

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    full = {
        "sf": sf,
        "cpus": int(cpus) if str(cpus).isdigit() else cpus,
        # the live session's value beside the env-derived ``cpus``: a
        # mismatch marks an artifact whose file name mislabels its run
        "default_parallelism": default_parallelism,
        "warm_total": round(sum(t for t in warm.values() if t >= 0), 4),
        "cold_total": round(sum(t for t in cold.values() if t >= 0), 4),
        "queries": {
            name: {"cold": cold.get(name, -1.0), "warm": warm[name]} for name in warm
        },
        "streaming": streaming,
        "cpu_probe_sec": probe,
        "cpu_probe_mc_sec": probe_mc,
        "probe_timeline": probe_timeline,
        "warm_retries": retry_log["warm"],
        "cold_retries": retry_log["cold"],
        "jvm": jvm,
    }
    # BENCH_FULL.json keeps its round-over-round last-run semantics (the
    # driver comparison reads it), but every run ALSO lands in a
    # per-(sf, cpus) detail file so a later sweep at another scale
    # factor or core count can never clobber this one's table
    # (optimization round 12, VERDICT r11 "What's wrong" #4) — the
    # stdout line's ``detail`` names the collision-free file.
    detail = f"BENCH_FULL_sf{sf}_c{cpus}.json"
    for fname in ("BENCH_FULL.json", detail):
        with open(os.path.join(here, fname), "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")

    print(compact_line(warm, cold, streaming, sf, probe, probe_mc, detail=detail))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
