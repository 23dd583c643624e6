"""The streaming half of ``corpus_dedup``: the near-dup layer used
incrementally, with writes.

A seeded corpus is split into parquet files of ``DOCS_PER_FILE``
documents. For each file the client drops it into the stream's source
directory and runs ``stream_lsh_dedup`` on the same checkpoint; its
``AvailableNow`` trigger drains the file as one micro-batch into a
``StreamingLSHIndex`` and stops (the index's documented
drained-then-extended mode), and only then is the next file dropped
(closed loop, one client). The index compacts once more than
``COMPACT_EVERY`` batches have landed since its last compaction, so
with one warm-up batch the first timed batch compacts: the index's
background work runs inside every timed window.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

import checks
import gen_docs
from kingsfoil_seed_data_ingestor_spark.streaming.lsh import (
    StreamingLSHIndex,
    stream_lsh_dedup,
)

DOCS_PER_FILE = 200
COMPACT_EVERY = 1
THRESHOLD = 0.8


def prepare(ctx, files: int):
    """``files`` seeded parquet files in the work directory, with the
    texts and planted pairs of the corpus they split."""
    n = DOCS_PER_FILE * files
    table = gen_docs.documents(n, ctx.seed).select(["doc_id", "text"])
    texts, planted = gen_docs.planted(n, ctx.seed)
    feed = ctx.scratch("stream_files")
    for f in range(files):
        pq.write_table(table.slice(f * DOCS_PER_FILE, DOCS_PER_FILE), feed / f"part-{f:03d}.parquet")
    return texts, planted, feed


class State:
    def __init__(self, ctx, inputs):
        texts, planted, feed = inputs
        self.texts = dict(enumerate(texts))
        self.planted = planted
        self.feed = sorted(feed.iterdir())
        self.source = ctx.scratch("stream_source")
        self.index = StreamingLSHIndex(
            str(ctx.scratch("stream_index")), threshold=THRESHOLD, compact_every=COMPACT_EVERY
        )
        self.next_file = 0
        self.input_bytes = 0
        tr = ctx.tracer
        # the stream thread keeps its own job group (the query's run id)
        self.index.process_batch = tr.wrap("lsh.process_batch", self.index.process_batch, group=False)
        self.index.compact = tr.wrap("lsh.compact", self.index.compact, group=False)
        self.checkpoint = str(ctx.work / "stream_checkpoint")
        self.stream = (
            ctx.spark.readStream.schema(ctx.spark.read.parquet(str(self.feed[0])).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(self.source))
        )


def feed_one(ctx, state, op) -> dict:
    """Drop the next file and drain it; returns the micro-batch's
    progress entry."""
    if state.next_file >= len(state.feed):
        raise RuntimeError("stream feed exhausted")
    f = state.feed[state.next_file]
    with ctx.tracer.span("lsh.feed", op=op):
        os.link(f, state.source / f.name)
        q = stream_lsh_dedup(state.stream, state.index, state.checkpoint)
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    batches = [json.loads(p.json) for p in q.recentProgress]
    batches = [p for p in batches if p.get("numInputRows", 0)]
    if len(batches) != 1:
        raise RuntimeError(f"expected one micro-batch for {f.name}, got {len(batches)}")
    state.input_bytes += f.stat().st_size
    state.next_file += 1
    return batches[0]


def _dir_bytes(path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path)
        for n in names
        if not n.startswith((".", "_"))
    )


def check(ctx, state):
    """Pairs: exactly once, exact-Jaccard precision, planted recall;
    the index registered every fed document once."""
    fed = set(range(state.next_file * DOCS_PER_FILE))
    seen = [r[0] for r in state.index.seen_ids(ctx.spark).collect()]
    if len(seen) != len(set(seen)) or set(seen) != fed:
        ctx.fail(f"index registered {len(seen)} ids ({len(set(seen))} distinct), fed {len(fed)}")
    pairs = [tuple(r) for r in state.index.near_dup_pairs(ctx.spark).collect()]
    for msg in checks.pair_problems(state.texts, pairs, state.planted, fed, THRESHOLD):
        ctx.fail(f"stream: {msg}")
    log = state.index.write_log()
    ctx.report["stream"] = {
        "docs_fed": len(fed),
        "pairs": len(pairs),
        "compactions": sum(e.get("event") == "compact" for e in log),
    }
    _index_layer(ctx, state, log)


def _index_layer(ctx, state, log):
    l0 = sum(e.get("l0_bytes", 0) for e in log)
    written = l0 + sum(e.get("fold_bytes", 0) + e.get("merge_bytes", 0) for e in log)
    ctx.layer["lsh.bytes_written"] = float(written)
    ctx.layer["lsh.write_amplification"] = written / l0 if l0 else 0.0
    ctx.layer["lsh.index_bytes_per_input_byte"] = _dir_bytes(state.index.store_dir) / state.input_bytes
    if ctx.tracer.enabled:
        probe = ctx.spark.read.parquet(str(state.feed[state.next_file - 1]))
        ctx.layer["lsh.probe_files_touched"] = float(
            state.index.probe_files_touched(ctx.spark, probe)
        )
