"""``corpus_dedup``: the LLM-corpus layers, batch and incremental,
with the query registry's interactive reads alongside.

One operation is three parts, run in this order by one client:

* a batch pass over the seeded corpus: quality score and filter,
  ``exact_dedup`` (keep the smallest id of each content group),
  ``jaccard_pairs`` at 0.5, ``connected_components`` over those pairs,
  then ``minhash_near_dups`` at 0.8. Each stage's output is persisted
  and materialized once, as a batch job would, and released at the end
  of the pass. The self-join in ``jaccard_pairs`` grows quadratically
  with the corpus, so it and the component closure lead the pass;
* ``STREAM_BATCHES`` micro-batch of a second seeded corpus through
  ``stream_lsh_dedup`` (``stream_feed``), one file per trigger; the
  timed batch compacts the index;
* one pass of the registry subset in ``query_mix``.

The warm-up runs one operation.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

import checks
import gen_docs
import harness
import query_mix
import stream_feed
from kingsfoil_seed_data_ingestor_spark.functions import text as TX
from kingsfoil_seed_data_ingestor_spark.operators.components import connected_components
from kingsfoil_seed_data_ingestor_spark.operators.text_dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_near_dups,
)

DOCS = 3000
QUALITY_MIN = 0.25
JACCARD_T = 0.5
MINHASH_T = 0.8
#: micro-batches per timed operation; the warm-up feeds one
STREAM_BATCHES = 1
#: nominal wall of one operation on an unloaded 4-core host;
#: ``--seconds`` / this is the number of timed operations
OP_S = 16.0


def _ops(ctx) -> int:
    return harness.timed_ops(ctx.seconds, OP_S)


def prepare(ctx):
    table = gen_docs.documents(DOCS, ctx.seed)
    texts, planted = gen_docs.planted(DOCS, ctx.seed)
    stream = stream_feed.prepare(ctx, 1 + STREAM_BATCHES * _ops(ctx))
    return (table, texts, planted), stream, query_mix.prepare(ctx)


class State:
    def __init__(self, ctx, inputs):
        (table, texts, planted), stream, tables = inputs
        self.docs = ctx.spark.createDataFrame(table.to_pandas()).persist()
        self.docs.count()
        self.texts = dict(enumerate(texts))
        self.planted = planted
        self.passes: list[dict] = []
        self.stream = stream_feed.State(ctx, stream)
        self.queries = query_mix.State(ctx, tables)


def one_pass(ctx, state, op) -> dict:
    tr, out, held = ctx.tracer, {}, []

    def keep(df):
        df = df.persist()
        held.append(df)
        return df

    try:
        with tr.span("text.quality", op=op) as s:
            good = keep(
                state.docs.withColumn("q", TX.quality_score(F.col("text")))
                .filter(F.col("q") >= QUALITY_MIN)
                .drop("q")
            )
            out["n_quality"] = good.count()
        with tr.span("text_dedup.exact", op=op):
            keepers = exact_dedup(good).select(F.col("keeper_id").alias("doc_id"))
            alive = keep(good.join(keepers, "doc_id", "left_semi"))
            out["alive"] = {r[0] for r in alive.select("doc_id").collect()}
        with tr.span("text_dedup.jaccard_pairs", op=op) as s:
            pairs_df = keep(jaccard_pairs(alive, threshold=JACCARD_T))
            out["pairs"] = [tuple(r) for r in pairs_df.collect()]
            if s:
                s.rows = len(out["pairs"])
        with tr.span("components.closure", op=op) as s:
            comps = connected_components(pairs_df).collect()
            out["components"] = {r["doc_id"]: r["component_id"] for r in comps}
            if s:
                s.rows = len(comps)
        with tr.span("text_dedup.minhash", op=op) as s:
            out["minhash"] = [tuple(r) for r in minhash_near_dups(alive, threshold=MINHASH_T).collect()]
            if s:
                s.rows = len(out["minhash"])
    finally:
        for df in held:
            df.unpersist()
    return out


def warm(ctx, inputs):
    state = State(ctx, inputs)
    state.passes.append(one_pass(ctx, state, op=-1))
    stream_feed.feed_one(ctx, state.stream, op=-1)
    query_mix.one_pass(ctx, state.queries, op=-1)
    return state


def measure(ctx, state):
    parts = {"pass_s": [], "batch_s": [], "query_s": []}
    ops = _ops(ctx)
    for op in range(ops):
        t0 = time.perf_counter()
        state.passes.append(one_pass(ctx, state, op))
        parts["pass_s"].append(time.perf_counter() - t0)
        for _ in range(STREAM_BATCHES):
            batch = stream_feed.feed_one(ctx, state.stream, op)
            parts["batch_s"].append(batch["durationMs"]["triggerExecution"] / 1000.0)
        n = len(state.queries.latencies)
        query_mix.one_pass(ctx, state.queries, op)
        parts["query_s"] += state.queries.latencies[n:]
        dt = time.perf_counter() - t0
        ctx.op_latencies.append(dt)
        ctx.busy_s += dt
        ctx.items += DOCS + STREAM_BATCHES * stream_feed.DOCS_PER_FILE
        ctx.ops += 1
        ctx.attempted += 1 + STREAM_BATCHES + len(query_mix.NAMES)
    last = state.passes[-1]
    ctx.report["corpus"] = {
        "docs": DOCS,
        "after_quality": last["n_quality"],
        "after_exact": len(last["alive"]),
        "jaccard_pairs": len(last["pairs"]),
        "minhash_pairs": len(last["minhash"]),
        "ops_timed": ops,
    }
    for name, xs in parts.items():
        ctx.layer_times[f"corpus.{name[:-2]}_p50_s"] = harness.median(xs)


def check(ctx, state):
    """Every batch pass (warm-up included): precision and planted-pair
    recall of both pair sets, component labels, and the same result each
    pass; then the stream's pairs and the registry results."""
    first = state.passes[0]
    for n, p in enumerate(state.passes):
        problems = pass_problems(state, p)
        for key in ("alive", "pairs", "components", "minhash"):
            a, b = p[key], first[key]
            if (sorted(a) if isinstance(a, list) else a) != (sorted(b) if isinstance(b, list) else b):
                problems.append(f"{key} differs from the first pass")
        for msg in problems:
            ctx.fail(f"pass {n}: {msg}")
    stream_feed.check(ctx, state.stream)
    query_mix.check(ctx, state.queries)


def pass_problems(state, p) -> list[str]:
    alive = p["alive"]
    problems = [] if alive <= set(state.texts) else ["unknown document ids kept"]
    norm = {}
    for d in alive:
        key = " ".join(state.texts[d].lower().split())
        if key in norm:
            problems.append(f"documents {norm[key]} and {d} are exact copies, both kept")
        norm[key] = d
    problems += checks.pair_problems(state.texts, p["pairs"], state.planted, alive, JACCARD_T)
    problems += checks.component_problems(p["pairs"], p["components"])
    problems += checks.pair_problems(state.texts, p["minhash"], state.planted, alive, MINHASH_T)
    return problems
