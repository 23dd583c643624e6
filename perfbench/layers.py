"""The per-layer metrics of the traced run.

``UNITS`` is the set the traced run prints, for every workload: Spark
execution counters per timed operation, each layer's share of the
timed window (the self time of its spans over the window's wall),
and the counts and ratios the workloads record at layer boundaries.
A layer a workload does not reach reads zero there. The layers'
absolute times (``TIMES``: the median duration of a span, in seconds)
go to the run report, next to the shares. README.md maps each metric
to the end-to-end metric it should move.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

#: spans whose self time is reported as a share of the timed window
SHARES = (
    "pipeline.hash",
    "sources.read_grid",
    "sources.detect_header",
    "validate.validate_grid",
    "ingest.build_plan",
    "ingest.stage_records",
    "ingest.stats",
    "versioning.meta",
    "versioning.commit",
    "versioning.first_read",
    "versioning.repeat_read",
    "text.quality",
    "text_dedup.exact",
    "text_dedup.jaccard_pairs",
    "components.closure",
    "text_dedup.minhash",
    "lsh.process_batch",
    "lsh.compact",
    "plans.tpch",
    "plans.events",
    "plans.reference",
    "multimodal",
    "similarity.ann",
)
#: report-only absolute times: metric -> span name (median duration);
#: ``versioning.meta`` sums the calls of one upload first
TIMES = {f"{name}_s": name for name in SHARES}
QUERY_SPANS = ("plans.tpch", "plans.events", "plans.reference", "multimodal", "similarity.ann")

UNITS = {
    "session.core_util": "ratio",
    "session.gc_ms": "ms",
    "session.peak_rss_mb": "MB",
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "session.executor_s_per_op": "s",
    "session.shuffle_bytes_per_op": "bytes",
    "session.unattributed_jobs": "count",
    "trace.overhead_frac": "ratio",
    **{f"{name}_share": "ratio" for name in SHARES},
    "ingest.useful_ratio": "ratio",
    "ingest.rows_inserted": "count",
    "ingest.rows_quarantined": "count",
    "ingest.rows_duplicate": "count",
    "ingest.rows_skipped": "count",
    "versioning.bytes_written": "bytes",
    "versioning.files_written": "count",
    "versioning.store_bytes_per_input_byte": "ratio",
    "components.jobs": "count",
    "text_dedup.pairs_out": "count",
    "text_dedup.shuffle_records_per_pair": "ratio",
    "lsh.compactions": "count",
    "lsh.jobs_per_batch": "count",
    "lsh.unattributed_jobs": "count",
    "lsh.bytes_written": "bytes",
    "lsh.write_amplification": "ratio",
    "lsh.probe_files_touched": "count",
    "lsh.index_bytes_per_input_byte": "ratio",
    "plans.jobs_per_query": "count",
    "plans.tasks_per_query": "count",
}


def _p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def from_spans(tracer, window_s: float) -> tuple[dict, dict]:
    """``(metrics, times)`` derived from the measured spans."""
    by = tracer.by_name()
    out = {
        f"{name}_share": sum(tracer.self_time(s) for s in by.get(name, [])) / window_s
        for name in SHARES
    }
    times = {m: _p50([s.duration for s in by.get(n, [])]) for m, n in TIMES.items()}
    per_upload = defaultdict(float)
    for s in by.get("versioning.meta", []):
        per_upload[s.op] += s.duration
    times["versioning.meta_s"] = _p50(list(per_upload.values()))
    closure = by.get("components.closure", [])
    if closure:
        out["components.jobs"] = _p50([s.counters["jobs"] for s in closure])
    pairs = by.get("text_dedup.jaccard_pairs", [])
    if pairs:
        n_pairs = sum(s.rows or 0 for s in pairs)
        out["text_dedup.pairs_out"] = _p50([s.rows or 0 for s in pairs])
        shuffled = sum(s.counters["shuffle_records"] for s in pairs)
        out["text_dedup.shuffle_records_per_pair"] = shuffled / max(n_pairs, 1)
    queries = [s for n in QUERY_SPANS for s in by.get(n, [])]
    if queries:
        out["plans.jobs_per_query"] = _p50([s.counters["jobs"] for s in queries])
        out["plans.tasks_per_query"] = _p50([s.counters["tasks"] for s in queries])
    batches = by.get("lsh.process_batch", [])
    if batches:
        # the foreachBatch hook runs on the stream's thread, so its jobs
        # and those of the compactions it triggers land on these spans
        lsh = batches + by.get("lsh.compact", [])
        out["lsh.jobs_per_batch"] = sum(s.counters["jobs"] for s in lsh) / len(batches)
        out["lsh.unattributed_jobs"] = float(sum(s.counters["unattributed_jobs"] for s in lsh))
        out["lsh.compactions"] = float(len(by.get("lsh.compact", [])))
    return out, times

