"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The workload's inputs are generated
from ``--seed``; set-up (session start, input generation, a warm-up
pass) is timed as ``setup_s``; then one client runs the workload
closed-loop for ``--seconds``; then every output is checked. The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A wrong
output makes the exit code 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import harness  # noqa: E402
import layers  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOADS = {
    "cms_ingest": "wl_cms",
    "corpus_dedup": "wl_corpus",
}
E2E = {"setup_s": "s", "cpu_ms_per_item": "ms", "bytes_written_per_item": "bytes"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args) -> tuple[dict, dict]:
    """``(result line, run report)`` for one workload run."""
    wl = importlib.import_module(WORKLOADS[args.workload])
    root = harness.repo_root() / harness.WORK_DIR_NAME
    work = root / f"{args.workload}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    t_session = time.perf_counter()
    spark = harness.start_session(work, trace=bool(args.trace))
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t_session
        ctx = harness.Context(
            spark=spark,
            seed=args.seed,
            seconds=args.seconds,
            tracer=Tracer(spark, enabled=bool(args.trace)),
            work=work,
        )
        t0 = time.perf_counter()
        inputs = wl.prepare(ctx)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        state = wl.warm(ctx, inputs)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + gen_s + warm_s

        pid = harness.jvm_pid(spark)
        gc0 = harness.gc_ms(spark)
        usage0 = [a + b for a, b in zip(harness.tree_usage(pid), harness.self_usage())]
        steal0 = harness.host_steal_s()
        ctx.tracer.start_measuring()
        window = (time.time(), None)
        wl.measure(ctx, state)
        window = (window[0], time.time())
        usage = [a + b - c for a, b, c in zip(harness.tree_usage(pid), harness.self_usage(), usage0)]
        cpu, written = usage
        steal = harness.host_steal_s() - steal0
        gc_ms = harness.gc_ms(spark) - gc0
        rss = harness.peak_rss_mb(pid)
        wl.check(ctx, state)
        facts = harness.session_facts(spark)
    finally:
        harness.stop_session(spark)

    if not ctx.op_latencies or ctx.busy_s <= 0:
        ctx.fail("the measured window completed no operation")
    tail, pct, n = harness.tail(ctx.op_latencies or [0.0])
    e2e = {
        "setup_s": setup_s,
        "cpu_ms_per_item": 1000.0 * cpu / ctx.items if ctx.items else 0.0,
        "bytes_written_per_item": written / ctx.items if ctx.items else 0.0,
    }
    wall = {
        "items_per_s": ctx.items / ctx.busy_s if ctx.busy_s > 0 else 0.0,
        "op_p50_s": harness.median(ctx.op_latencies or [0.0]),
        "op_tail_s": tail,
        "op_tail_percentile": pct,
        "op_samples": n,
        "window_s": window[1] - window[0],
        "window_cpu_s": cpu,
        "window_written_bytes": written,
        "host_steal_s": steal,
        "peak_rss_mb": rss,
    }
    ctx.layer["session.peak_rss_mb"] = rss
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "session": facts,
        "setup": {"session_s": session_s, "gen_s": gen_s, "warm_s": warm_s},
        "wall": wall,
        "op_latencies_s": ctx.op_latencies,
        "e2e": e2e,
        "failures": ctx.failures,
        "layer_times": dict(ctx.layer_times),
        **ctx.report,
    }
    if args.trace:
        metrics, times = trace_metrics(ctx, work, window, gc_ms, facts["cpus"], args)
        metrics["trace.overhead_frac"] = trace_overhead(e2e["cpu_ms_per_item"], args)
        report["layer"] = metrics
        report["layer_times"].update(times)
        values = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in metrics.items()}
    else:
        values = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    report_path(args, args.trace).write_text(json.dumps(report, indent=1))
    failed = min(len(ctx.failures), max(ctx.attempted, 1))
    line = {
        "correct": not ctx.failures,
        "attempted": max(ctx.attempted, 1),
        "failed": failed,
        "metrics": values,
    }
    return line, report


def trace_metrics(ctx, work: Path, window, gc_ms: float, cpus: int, args) -> tuple[dict, dict]:
    """``(per-layer metrics, layer times)`` folded from the spans and
    the event log; every metric in ``layers.UNITS`` is present."""
    totals = ctx.tracer.fold_event_log(work / "eventlog", window)
    wall = window[1] - window[0]
    ops = max(ctx.ops, 1)
    metrics = dict.fromkeys(layers.UNITS, 0.0)
    metrics["session.core_util"] = totals["executor_run_s"] / (wall * cpus)
    metrics["session.gc_ms"] = gc_ms
    metrics["session.jobs_per_op"] = totals["jobs"] / ops
    metrics["session.tasks_per_op"] = totals["tasks"] / ops
    metrics["session.executor_s_per_op"] = totals["executor_run_s"] / ops
    metrics["session.shuffle_bytes_per_op"] = totals["shuffle_write_bytes"] / ops
    metrics["session.unattributed_jobs"] = float(totals["unattributed_jobs"])
    shares, times = layers.from_spans(ctx.tracer, wall)
    metrics.update(shares)
    metrics.update(ctx.layer)
    ctx.tracer.write(work, {"workload": args.workload, "totals": totals, "times": times})
    return metrics, times


def report_path(args, trace: int) -> Path:
    """Where the run report of this workload, seed and trace mode goes."""
    root = harness.repo_root() / harness.WORK_DIR_NAME
    return root / f"{args.workload}-seed{args.seed}-trace{trace}.json"


def trace_overhead(cpu_ms_per_item: float, args) -> float:
    """Traced window CPU per item over the untraced one, minus one.
    The untraced figure comes from this checkout's untraced run of the
    same workload, seed and ``--seconds``; without one, that run is
    made first."""
    path = report_path(args, 0)
    untraced = json.loads(path.read_text()) if path.exists() else None
    if untraced is None or untraced["seconds"] != args.seconds:
        subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        untraced = json.loads(path.read_text())
    return cpu_ms_per_item / untraced["e2e"]["cpu_ms_per_item"] - 1.0


def main(argv=None) -> int:
    args = parse_args(argv)
    line, report = run(args)
    keys = ("workload", "session", "setup", "wall", "layer_times")
    print(json.dumps({k: report[k] for k in keys if k in report}))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
