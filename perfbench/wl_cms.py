"""``cms_ingest``: the paper's core path, write-heavy with a read side.

Warm-up ingests PFS_GPCI (CSV) and HCPCS (XLSX, the driver-side parse
path) into a fresh ``VersionStore``, which runs both grid readers once
before the clock starts. The timed region then ingests the rest in
order: PFS_RVU 2024-Q1, the two NCCI_PTP parts (a multi-part append)
and PFS_RVU 2024-Q2 (which supersedes 2024-Q1), as many as
``--seconds`` holds at ``UPLOAD_S`` each. After each upload comes a
fixed mix of current-view reads: a first count of the view it changed,
a repeated count, keyed lookups of sampled rows and the fee-calc join
after an RVU upload.
"""

from __future__ import annotations

import os
import time
from functools import reduce
from operator import and_, or_

from pyspark.sql import functions as F

import gen_cms
import harness
from kingsfoil_seed_data_ingestor_spark.functions import transforms as X
from kingsfoil_seed_data_ingestor_spark.operators import pipeline
from kingsfoil_seed_data_ingestor_spark.operators.versioning import VersionStore
from kingsfoil_seed_data_ingestor_spark.registry import get_source

#: uploads ingested during warm-up; the rest are timed
WARM_UPLOADS = 2
#: sampled keys looked up after each upload
LOOKUPS = 3
#: nominal wall of one timed upload and its reads on an unloaded
#: 4-core host; ``--seconds`` / this is the number of timed uploads
UPLOAD_S = 4.0
META_METHODS = ("create_version", "complete_version", "add_part", "mark_current", "log_event")
#: functions ``ingest_file`` calls, wrapped in spans in the traced run
PIPELINE_CALLS = {
    "sha256_file": "pipeline.hash",
    "read_grid": "sources.read_grid",
    "detect_header": "sources.detect_header",
    "validate_grid": "validate.validate_grid",
}


def prepare(ctx):
    return gen_cms.generate(ctx.work / "cms_inputs", ctx.seed)


class State:
    def __init__(self, ctx, uploads):
        self.uploads = uploads
        self.store = VersionStore(ctx.spark, str(ctx.scratch("cms_store")))
        self.results: list[tuple] = []  # (upload, result dict)
        self.reads: list[tuple] = []  # (kind, view, expected, got)
        self.views: dict[tuple, int] = {}  # (source, variant) -> expected rows
        self._instrument(ctx)

    def _instrument(self, ctx) -> None:
        """In the traced run, wrap the calls ``ingest_file`` makes into
        the other layers (from outside the package; the wrappers replace
        module attributes for the rest of this process)."""
        tr = ctx.tracer
        if not tr.enabled:
            return
        for fn, name in PIPELINE_CALLS.items():
            setattr(pipeline, fn, tr.wrap(name, getattr(pipeline, fn)))
        build = pipeline.build_ingest_plan

        def traced_build(*args, **kwargs):
            with tr.span("ingest.build_plan"):
                plan = build(*args, **kwargs)
            plan.stats = tr.wrap("ingest.stats", plan.stats)
            return plan

        pipeline.build_ingest_plan = traced_build
        for m in META_METHODS:
            setattr(self.store, m, tr.wrap("versioning.meta", getattr(self.store, m)))
        self.store.commit_staged = tr.wrap("versioning.commit", self.store.commit_staged)
        self.store.stage_records = tr.wrap("ingest.stage_records", self.store.stage_records)


def _ingest(ctx, state, u, op):
    with ctx.tracer.span("pipeline.ingest_file", op=op):
        r = pipeline.ingest_file(
            ctx.spark, state.store, u.source_code, str(u.path), u.version_label,
            variant=u.variant,
        )
    state.results.append((u, r))
    state.views[(u.source_code, u.variant)] = u.view_rows


def _view(state, source_code, variant):
    return state.store.current_view(get_source(source_code), variant)


def _match(cols, keys):
    """Rows whose ``cols`` equal one of the ``keys`` tuples."""
    return reduce(or_, [reduce(and_, [F.col(c) == v for c, v in zip(cols, k)]) for k in keys])


def read_mix(ctx, state, u, op) -> None:
    """The fixed reads after upload ``u``. Each read is stored with the
    generator's expectation for it, checked after the timed region."""
    view = (u.source_code, u.variant)
    ops = [
        ("versioning.first_read", "count", view, None),
        ("versioning.repeat_read", "count", view, None),
    ]
    for key in list(u.typed)[:LOOKUPS]:
        ops.append(("versioning.repeat_read", "lookup", view, (key, u.typed[key])))
    if u.source_code == "PFS_RVU" and ("PFS_GPCI", None) in state.views:
        ops.append(("versioning.repeat_read", "fee", view, expected_fees(state, u)))
    for span, kind, view, arg in ops:
        t0 = time.perf_counter()
        with ctx.tracer.span(span, op=op):
            df = _view(state, *view)
            if kind == "count":
                got = df.count()
            elif kind == "lookup":
                got = [r.asDict() for r in df.filter(_match(gen_cms.KEYS[view[0]], [arg[0]])).collect()]
            else:
                got = _fee_rows(state, df, arg)
        ctx.op_latencies.append(time.perf_counter() - t0)
        ctx.attempted += 1
        expected = state.views[view] if kind == "count" else arg
        state.reads.append((kind, view, expected, got))


def _gpci_sample(state):
    gpci = next(u for u, _ in state.results if u.source_code == "PFS_GPCI")
    return next(iter(gpci.typed.items()))


def _fee_rows(state, rvu, expected):
    """Fee-calc join of the sampled RVU rows with one locality's GPCI."""
    gkey, _ = _gpci_sample(state)
    gpci = _view(state, "PFS_GPCI", None).filter(F.col("mac_locality") == gkey[0])
    fee = X.fee_formula(
        F.col("work_rvu"), F.col("work_gpci"), F.col("non_fac_pe_rvu"), F.col("pe_gpci"),
        F.col("mp_rvu"), F.col("mp_gpci"), F.col("conversion_factor"),
    )
    rows = (
        rvu.filter(_match(("hcpcs_code", "modifier"), list(expected)))
        .crossJoin(gpci)
        .select("hcpcs_code", "modifier", fee.alias("fee"))
        .collect()
    )
    return {(r["hcpcs_code"], r["modifier"]): r["fee"] for r in rows}


def warm(ctx, uploads):
    state = State(ctx, uploads)
    for i, u in enumerate(uploads[:WARM_UPLOADS]):
        _ingest(ctx, state, u, op=-1 - i)
        read_mix(ctx, state, u, op=-1 - i)
    ctx.op_latencies.clear()
    ctx.attempted = 0
    return state


def measure(ctx, state):
    timed = state.uploads[WARM_UPLOADS:][: harness.timed_ops(ctx.seconds, UPLOAD_S)]
    for op, u in enumerate(timed):
        t0 = time.perf_counter()
        _ingest(ctx, state, u, op)
        dt = time.perf_counter() - t0
        ctx.busy_s += dt
        ctx.items += u.data_rows
        ctx.ops += 1
        ctx.attempted += 1
        ctx.report.setdefault("upload_s", []).append(dt)
        read_mix(ctx, state, u, op)
    ctx.report["uploads_timed"] = len(timed)
    ctx.report["reads_timed"] = len(ctx.op_latencies)


def _store_layer(ctx, state):
    files = nbytes = 0
    for dirpath, _, names in os.walk(state.store.root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    all_in = sum(os.path.getsize(u.path) for u, _ in state.results)
    ctx.layer["versioning.bytes_written"] = float(nbytes)
    ctx.layer["versioning.files_written"] = float(files)
    ctx.layer["versioning.store_bytes_per_input_byte"] = nbytes / all_in
    timed = [r for u, r in state.results[WARM_UPLOADS:]]
    grid = sum(u.data_rows for u, _ in state.results[WARM_UPLOADS:])
    for key, name in (("records_inserted", "inserted"), ("records_quarantined", "quarantined"),
                      ("duplicates_skipped", "duplicate"), ("rows_skipped", "skipped")):
        ctx.layer[f"ingest.rows_{name}"] = float(sum(r.get(key, 0) for r in timed))
    ctx.layer["ingest.useful_ratio"] = ctx.layer["ingest.rows_inserted"] / grid if grid else 0.0
    if ctx.report.get("upload_s"):
        ctx.layer_times["pipeline.upload_p50_s"] = harness.median(ctx.report["upload_s"])


def check(ctx, state):
    """Generator counts per upload, view row counts, sampled typed
    cells and fee-calc values."""
    for u, r in state.results:
        problem = upload_problem(u, r)
        if problem:
            ctx.fail(problem)
    for kind, view, expected, got in state.reads:
        problem = check_read(kind, view, expected, got)
        if problem:
            ctx.fail(problem)
    _store_layer(ctx, state)


def upload_problem(u, result: dict) -> str | None:
    """An ``ingest_file`` result against the generator's counts."""
    got = {
        "inserted": result.get("records_inserted"),
        "quarantined": result.get("records_quarantined"),
        "duplicates": result.get("duplicates_skipped"),
        "skipped": result.get("rows_skipped"),
    }
    if got != u.expected:
        return f"{u.path.name}: counts {got} != expected {u.expected}"
    return None


def check_read(kind, view, expected, got) -> str | None:
    """One read against the generator's expectation: a problem or None."""
    if kind == "count":
        if got != expected:
            return f"count of {view}: {got} != {expected}"
    elif kind == "lookup":
        key, want = expected
        if len(got) != 1:
            return f"lookup {key} in {view}: {len(got)} rows"
        for col, v in want.items():
            if got[0].get(col) != v:
                return f"lookup {key} in {view}: {col}={got[0].get(col)!r} != {v!r}"
    else:
        if set(got) != set(expected):
            return f"fee calc keys {sorted(got)} != {sorted(expected)}"
        for k, v in expected.items():
            if (v is None) != (got[k] is None) or (v is not None and abs(got[k] - v) > 0.011):
                return f"fee calc {k}: {got[k]} != {v}"
    return None


def expected_fees(state, u) -> dict:
    gkey, g = _gpci_sample(state)
    out = {}
    for key, row in u.typed.items():
        parts = [row["work_rvu"], g["work_gpci"], row["non_fac_pe_rvu"], g["pe_gpci"],
                 row["mp_rvu"], g["mp_gpci"], row["conversion_factor"]]
        if any(p is None for p in parts):
            out[key] = None
        else:
            w, wg, pe, peg, mp, mpg, cf = parts
            out[key] = round((w * wg + pe * peg + mp * mpg) * cf, 2)
    return out
