"""The query-registry part of ``corpus_dedup``: small interactive reads.

A fixed subset of the registered queries, one from each family (the
TPC-H shapes, ``events_*``, ``multimodal_*`` and ``embed_*``) and two
reference-parity reads of ``plans/relational.py``, runs over
seeded tables shaped like the sf0.01 test set. A pass runs every query
of the subset once, in an order drawn from the seed, collecting its
result to the client. At this size fixed per-query cost (planning, job
scheduling, codegen) dominates, and the near-dup machinery is never
reached. Every result is compared with the query's DuckDB oracle after
the timed region.
"""

from __future__ import annotations

import random
import time

import gen_tables
from kingsfoil_seed_data_ingestor_spark import plans  # noqa: F401 — fills the registry
from kingsfoil_seed_data_ingestor_spark.plans.core import QUERIES
from kingsfoil_seed_data_ingestor_spark.plans.verify import compare_frames, duck_connection

#: the subset, chosen for a pass of about two seconds on a 4-core host
NAMES = [
    "q1_pricing_summary",
    "events_cube_hourly",
    "point_lookup", "fee_calc",
    "multimodal_bytes_meta",
    "embed_ann_ivf_medoid",
]


def family(name: str) -> str:
    """The span a query's time goes to."""
    if name.startswith("q") and name[1].isdigit():
        return "plans.tpch"
    if name.startswith("events_"):
        return "plans.events"
    if name.startswith("multimodal_"):
        return "multimodal"
    if name.startswith("embed_"):
        return "similarity.ann"
    return "plans.reference"


def prepare(ctx):
    return gen_tables.write(ctx.work / "query_tables", ctx.seed)


class State:
    def __init__(self, ctx, sf_dir):
        self.sf_dir = str(sf_dir)
        self.order = random.Random(ctx.seed).sample(NAMES, len(NAMES))
        self.results: dict[str, list] = {n: [] for n in NAMES}
        self.latencies: list[float] = []


def one_pass(ctx, state, op) -> None:
    for name in state.order:
        t0 = time.perf_counter()
        with ctx.tracer.span(family(name), op=op):
            pdf = QUERIES[name].spark(ctx.spark, state.sf_dir).toPandas()
        state.latencies.append(time.perf_counter() - t0)
        state.results[name].append(pdf)


def check(ctx, state):
    """Every result of every pass equals the DuckDB oracle's."""
    con = duck_connection(state.sf_dir)
    for name in NAMES:
        oracle = con.execute(QUERIES[name].oracle).fetchdf()
        for n, pdf in enumerate(state.results[name]):
            for problem in compare_frames(pdf, oracle):
                ctx.fail(f"{name} (run {n}): {problem}")
    con.close()
