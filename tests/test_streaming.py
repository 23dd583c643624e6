"""Structured Streaming: file source → watermarked transforms → memory
sink, checked against batch execution of the SAME transforms."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.plans.tables import load
from kingsfoil_seed_data_ingestor_spark.streaming import (
    dedup_events,
    read_event_stream,
    run_to_memory,
    session_window_stats,
    sliding_window_counts,
    tumbling_window_counts,
    user_running_totals,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    return load(spark, SF_DIR, "events")


@pytest.fixture(scope="module")
def stream_events(spark):
    # stream straight off the driver testdata parquet (ns timestamps)
    return read_event_stream(spark, SF_DIR, glob="events.parquet")


def as_sets(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_stream_reads_real_events_parquet(spark, stream_events, batch_events):
    out = run_to_memory(
        stream_events.groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ),
        "smoke_counts",
    )
    got, want = out.first(), batch_events.agg(
        F.count(F.lit(1)).alias("n"), F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    assert (got.n, got.lo, got.hi) == (want.n, want.lo, want.hi)


def test_stream_batch_loader_parity_both_ts_layouts(spark, tmp_path, batch_events):
    # µs-native layout (the current testdata): loaders must agree on ts
    stream = read_event_stream(spark, SF_DIR, glob="events.parquet")
    out = run_to_memory(stream.groupBy().agg(F.min("ts").alias("lo")), "parity_us")
    assert out.first().lo == batch_events.agg(F.min("ts")).first()[0]

    # ns layout (earlier testdata generations): rewrite a copy with
    # nanosecond physical type; both loaders must take the bigint branch
    # and derive the identical µs timestamp
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    idx = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(
        idx, "ts", tbl.column("ts").cast(pa.timestamp("ns"))
    )
    ns_dir = tmp_path / "ns_events"
    ns_dir.mkdir()
    pq.write_table(
        tbl, str(ns_dir / "events.parquet"), store_schema=False,
        coerce_timestamps=None, use_deprecated_int96_timestamps=False,
    )
    batch_ns = load(spark, str(ns_dir), "events")
    assert "ts_ns" in batch_ns.columns, "bigint branch not taken by batch loader"
    assert dict(batch_ns.dtypes)["ts"] == "timestamp"
    stream_ns = read_event_stream(spark, str(ns_dir), glob="events.parquet")
    out_ns = run_to_memory(
        stream_ns.groupBy().agg(F.min("ts").alias("lo")), "parity_ns"
    )
    assert out_ns.first().lo == batch_ns.agg(F.min("ts")).first()[0]
    assert out_ns.first().lo == batch_events.agg(F.min("ts")).first()[0]


def test_tumbling_window_stream_equals_batch(stream_events, batch_events):
    streamed = run_to_memory(
        tumbling_window_counts(stream_events), "tumbling", output_mode="complete"
    )
    batch = tumbling_window_counts(batch_events)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert as_sets(streamed, cols) == as_sets(batch, cols)


def test_sliding_window_stream_equals_batch(stream_events, batch_events):
    streamed = run_to_memory(
        sliding_window_counts(stream_events), "sliding", output_mode="complete"
    )
    cols = ["window_start", "n_events", "total_value"]
    assert as_sets(streamed, cols) == as_sets(sliding_window_counts(batch_events), cols)
    # every event is in exactly 2 overlapping windows
    n_events = batch_events.count()
    assert streamed.agg(F.sum("n_events")).first()[0] == 2 * n_events


def test_session_window_stream_equals_batch(stream_events, batch_events):
    streamed = run_to_memory(
        session_window_stats(stream_events), "sessions", output_mode="complete"
    )
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    assert as_sets(streamed, cols) == as_sets(session_window_stats(batch_events), cols)


def test_dedup_within_watermark(spark, tmp_path, batch_events):
    # duplicate the whole feed: two identical files in one source dir
    src = tmp_path / "dup_feed"
    src.mkdir()
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    raw.write.parquet(str(src / "a.parquet"))
    raw.write.parquet(str(src / "b.parquet"))
    stream = read_event_stream(spark, str(src), recursive=True)
    out = run_to_memory(
        dedup_events(stream).groupBy().agg(F.count(F.lit(1)).alias("n")),
        "dedup_counts",
        output_mode="complete",
    )
    assert out.first().n == batch_events.count()


def test_user_running_totals_stateful(spark, tmp_path, batch_events):
    # two files -> two micro-batches; state must carry across them
    src = tmp_path / "two_batches"
    src.mkdir()
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    first = raw.filter(F.col("event_id") % 2 == 0)
    second = raw.filter(F.col("event_id") % 2 == 1)
    first.write.parquet(str(src / "batch1.parquet"))
    second.write.parquet(str(src / "batch2.parquet"))
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1, recursive=True)
    streamed = run_to_memory(
        user_running_totals(stream), "running", output_mode="update"
    )
    # memory sink in update mode appends each update; the LAST row per
    # user is the final state
    final = (
        streamed.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("n_events"))
            ),
        )
        .filter("rn = 1")
        .drop("rn")
    )
    expect = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    got = {r.user_id: (r.n_events, round(r.total_value, 2)) for r in final.collect()}
    want = {r.user_id: (r.n_events, round(r.total_value, 2)) for r in expect.collect()}
    assert got.keys() == want.keys()
    assert all(got[u][0] == want[u][0] for u in want)


def test_streaming_corpus_dedup_matches_batch(spark, tmp_path):
    from kingsfoil_seed_data_ingestor_spark.streaming import (
        first_seen_filter,
        streaming_corpus_dedup,
    )

    src = tmp_path / "doc_feed"
    src.mkdir()
    docs = load(spark, SF_DIR, "documents")
    # batch 2 re-uploads five existing contents under fresh ids — the
    # stateful fold must recognize them against batch-1 state
    dups = docs.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    docs.write.parquet(str(src / "b1.parquet"))
    dups.write.parquet(str(src / "b2.parquet"))
    schema = spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    streamed = run_to_memory(
        streaming_corpus_dedup(stream), "corpus_dedup", output_mode="update"
    )
    # update mode appends per-batch rows; the max-n_copies row per
    # fingerprint is the final state
    final = (
        streamed.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("fingerprint").orderBy(F.desc("n_copies"))
            ),
        )
        .filter("rn = 1")
        .drop("rn")
    )
    # batch twin over the union must agree exactly (fold is commutative)
    expect = streaming_corpus_dedup(docs.unionByName(dups))
    got = {r.fingerprint: (r.keeper_id, r.n_copies) for r in final.collect()}
    want = {r.fingerprint: (r.keeper_id, r.n_copies) for r in expect.collect()}
    assert got == want
    # every re-uploaded content maps back to its original keeper
    re_up = {r.fingerprint for r in streaming_corpus_dedup(dups).collect()}
    assert all(want[fp][0] < 100_000 and want[fp][1] >= 2 for fp in re_up)
    # keeper application: survivors of the union = batch-1 keepers only
    kept = first_seen_filter(final, docs.unionByName(dups))
    assert kept.count() == len(want)
    assert kept.filter(F.col("doc_id") >= 100_000).count() == 0


# ----------------------------------------------------------------------
# streaming ingest of a drop directory
# ----------------------------------------------------------------------


def test_stream_ingest_drop_directory(spark, tmp_path):
    from kingsfoil_seed_data_ingestor_spark.operators.versioning import VersionStore
    from kingsfoil_seed_data_ingestor_spark.streaming import stream_ingest_directory
    from tests.test_ingest import PFS_RVU_CSV

    store = VersionStore(spark, str(tmp_path / "warehouse"))
    drop = tmp_path / "drop"
    drop.mkdir()
    ckpt = str(tmp_path / "ckpt")
    results: dict[str, dict] = {}

    (drop / "pfs_rvu__2024-Q1.csv").write_text(PFS_RVU_CSV)
    (drop / "pfs_rvu__2024-Q2.csv").write_text(PFS_RVU_CSV.replace("1,234.56", "2.00"))

    q = stream_ingest_directory(
        spark, store, "PFS_RVU", str(drop), ckpt,
        on_result=lambda p, r: results.update({p: r}),
    )
    q.awaitTermination(120)
    assert len(results) == 2
    assert all(r["success"] for r in results.values())
    assert store.find_version("PFS_RVU", "2024-Q1", None)["status"] == "completed"
    assert store.find_version("PFS_RVU", "2024-Q2", None)["status"] == "completed"

    # second drain from the SAME checkpoint: only the new file runs;
    # a byte-identical re-drop is rejected by the hash gate (V6)
    results.clear()
    (drop / "pfs_rvu__2024-Q3.csv").write_text(PFS_RVU_CSV.replace("1,234.56", "3.00"))
    (drop / "pfs_rvu__2024-Q4.csv").write_text(PFS_RVU_CSV)  # same bytes as Q1
    q2 = stream_ingest_directory(
        spark, store, "PFS_RVU", str(drop), ckpt,
        on_result=lambda p, r: results.update({p: r}),
    )
    q2.awaitTermination(120)
    assert len(results) == 2  # checkpoint skipped the two already-seen files
    ok = {p: r for p, r in results.items() if r["success"]}
    rejected = {p: r for p, r in results.items() if not r["success"]}
    assert len(ok) == 1 and "2024-Q3" in next(iter(ok))
    assert len(rejected) == 1 and "already uploaded" in rejected[next(iter(rejected))]["errors"][0]


def test_enrich_events_stream_equals_batch(spark, tmp_path, batch_events):
    from kingsfoil_seed_data_ingestor_spark.streaming import enrich_events

    # static dimension derived from the same corpus: user tier
    dim_path = str(tmp_path / "user_dim")
    (
        batch_events.select("user_id").distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
        .write.parquet(dim_path)
    )
    dim = spark.read.parquet(dim_path)

    stream = read_event_stream(spark, SF_DIR, glob="events.parquet")
    streamed = run_to_memory(
        enrich_events(stream, dim)
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("id_sum")),
        "enriched",
        output_mode="complete",
    )
    batch = (
        enrich_events(batch_events, dim)
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("id_sum"))
    )
    cols = ["tier", "n", "id_sum"]
    assert as_sets(streamed, cols) == as_sets(batch, cols)
    # left join: every event survives enrichment
    assert streamed.agg(F.sum("n")).first()[0] == batch_events.count()


def test_correlate_events_stream_equals_batch(spark, stream_events, batch_events):
    from kingsfoil_seed_data_ingestor_spark.streaming import correlate_events

    # stream-stream interval join (click -> purchase within 1h, same
    # user, watermarks both sides) must produce the batch join's pairs;
    # append mode: interval-join rows finalize once the watermark passes
    streamed = run_to_memory(
        correlate_events(stream_events), "correlated", output_mode="append"
    )
    batch = correlate_events(batch_events)
    cols = ["user_id", "first_id", "then_id", "first_ts", "then_ts"]
    assert batch.count() > 0  # the corpus genuinely correlates
    assert as_sets(streamed, cols) == as_sets(batch, cols)


def test_read_event_stream_on_empty_directory(spark, tmp_path):
    # canonical file-stream deployment: the stream is defined BEFORE
    # any data arrives; the schema probe must not explode on an empty
    # source, and files dropped later flow through
    src = tmp_path / "future_feed"
    src.mkdir()
    stream = read_event_stream(spark, str(src))  # must not raise
    out = run_to_memory(
        stream.groupBy().agg(F.count(F.lit(1)).alias("n")), "empty_feed"
    )
    # zero micro-batches -> the sink holds either nothing or a 0-count row
    first = out.first()
    assert first is None or first.n == 0

    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    raw.write.parquet(str(src / "late.parquet"))
    stream2 = read_event_stream(spark, str(src), recursive=True)
    out2 = run_to_memory(
        stream2.groupBy().agg(F.count(F.lit(1)).alias("n")), "late_feed"
    )
    assert out2.first().n == raw.count()


# ----------------------------------------------------------------------
# streaming span dedup (custom stateful operator, span granularity)
# ----------------------------------------------------------------------


def test_streaming_span_dedup_matches_batch(spark, tmp_path):
    from kingsfoil_seed_data_ingestor_spark.streaming import streaming_span_dedup

    src = tmp_path / "doc_feed"
    src.mkdir()
    docs = load(spark, SF_DIR, "documents").limit(60)
    # batch 2 re-uploads three docs under fresh ids: every span of those
    # docs is a later occurrence the fold must attribute to batch-1
    dups = docs.filter(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    docs.write.parquet(str(src / "b1.parquet"))
    dups.write.parquet(str(src / "b2.parquet"))
    schema = spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    streamed = run_to_memory(
        streaming_span_dedup(stream), "span_dedup", output_mode="update"
    )
    final = (
        streamed.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("h").orderBy(F.desc("n_seen"))),
        )
        .filter("rn = 1")
        .drop("rn")
    )
    # batch twin over the union must agree exactly (fold is commutative)
    expect = streaming_span_dedup(docs.unionByName(dups))
    got = {r.h: (r.keeper_doc, r.keeper_idx, r.n_seen) for r in final.collect()}
    want = {r.h: (r.keeper_doc, r.keeper_idx, r.n_seen) for r in expect.collect()}
    assert got == want
    # re-uploaded spans keep their batch-1 keeper
    re_up = {r.h for r in streaming_span_dedup(dups).collect()}
    assert all(want[h][0] < 100_000 for h in re_up)


def test_streaming_span_dedup_batch_twin_matches_plan(spark):
    """The stateful operator's batch twin and the registered
    dedup_spans plan must tell the same story: a span instance is a
    duplicate iff it is not the keeper occurrence."""
    from kingsfoil_seed_data_ingestor_spark.operators.text_dedup import span_table
    from kingsfoil_seed_data_ingestor_spark.plans.corpus import dedup_spans
    from kingsfoil_seed_data_ingestor_spark.streaming import streaming_span_dedup

    docs = load(spark, SF_DIR, "documents")
    twin = streaming_span_dedup(docs)
    spans = span_table(docs)
    # duplicates per doc according to the twin's keeper registry
    dup_rows = (
        spans.join(twin, "h")
        .filter(
            (F.col("doc_id") != F.col("keeper_doc"))
            | (F.col("idx") != F.col("keeper_idx"))
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    plan = dedup_spans(spark, SF_DIR).select("doc_id", "n_dup_spans").filter(
        F.col("n_dup_spans") > 0
    )
    got = {(r.doc_id, r.n_dup_spans) for r in dup_rows.collect()}
    want = {(r.doc_id, r.n_dup_spans) for r in plan.collect()}
    assert got == want


def test_streaming_hll_matches_batch_query_exactly(spark, tmp_path):
    """HLL registers merge by element-wise max (commutative,
    associative, idempotent), so the stateful streaming fold over any
    micro-batch split must land on EXACTLY the batch query's estimate
    over the union — including the md5 construction, the integer
    register sum, and the rounding."""
    from kingsfoil_seed_data_ingestor_spark.plans.events import (
        events_distinct_users_hll,
    )
    from kingsfoil_seed_data_ingestor_spark.streaming.sketch import (
        streaming_distinct_users_hll,
    )

    src = tmp_path / "ev_feed"
    src.mkdir()
    ev = load(spark, SF_DIR, "events").select("event_type", "user_id")
    # uneven split with overlap: both files carry some of the same users
    ev.filter(F.col("user_id") % 3 != 0).write.parquet(str(src / "b1.parquet"))
    ev.filter(F.col("user_id") % 3 != 1).write.parquet(str(src / "b2.parquet"))
    schema = spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    streamed = run_to_memory(
        streaming_distinct_users_hll(stream), "hll_stream", output_mode="update"
    )
    final = {
        r.event_type: (r.est_users, r.m_used)
        for r in streamed.filter(F.col("n_batches") == 2).collect()
    }
    assert final  # both batches processed

    # batch-query twin over the SAME union of rows (write then reuse
    # the registered query's loader contract: only event_type/user_id
    # are read by the sketch)
    union = spark.read.option("recursiveFileLookup", "true").parquet(str(src))
    bt = tmp_path / "bt"
    bt.mkdir()
    union.write.parquet(str(bt / "events.parquet"))
    want = {
        r.event_type: r.est_users
        for r in events_distinct_users_hll(spark, str(bt)).collect()
    }
    assert final.keys() == want.keys()
    for et in want:
        assert final[et][0] == want[et], (et, final[et], want[et])

    # the batch twin of the streaming operator agrees too
    twin = {
        r.event_type: r.est_users
        for r in streaming_distinct_users_hll(union).collect()
    }
    assert twin == want


def test_streaming_kmv_matches_batch_and_oracle(spark, tmp_path):
    """KMV state (k smallest distinct hashes) merges by
    union-then-retake-k — commutative, associative, idempotent — so
    the stateful streaming fold over any micro-batch split must equal
    the batch twin over the union EXACTLY; the batch twin itself is
    recomputed in DuckDB so the estimate is cross-engine pinned too."""
    import duckdb

    from kingsfoil_seed_data_ingestor_spark.streaming.sketch import (
        KMV_SK_K,
        KMV_SK_NORM,
        streaming_distinct_users_kmv,
    )

    src = tmp_path / "ev_feed_kmv"
    src.mkdir()
    ev = load(spark, SF_DIR, "events").select("event_type", "user_id")
    ev.filter(F.col("user_id") % 3 != 0).write.parquet(str(src / "b1.parquet"))
    ev.filter(F.col("user_id") % 3 != 1).write.parquet(str(src / "b2.parquet"))
    schema = spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    streamed = run_to_memory(
        streaming_distinct_users_kmv(stream), "kmv_stream", output_mode="update"
    )
    final = {
        r.event_type: (r.est_users, r.k_used, r.kth_hash)
        for r in streamed.filter(F.col("n_batches") == 2).collect()
    }
    assert final

    union = spark.read.option("recursiveFileLookup", "true").parquet(str(src))
    twin = {
        r.event_type: (r.est_users, r.k_used, r.kth_hash)
        for r in streaming_distinct_users_kmv(union).collect()
    }
    assert final == twin

    # cross-engine: recompute the batch twin in DuckDB
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW ev AS SELECT * FROM parquet_scan('{src}/*/*.parquet')"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(f"""
            WITH h AS (
                SELECT DISTINCT event_type,
                       CAST(concat('0x', substr(md5(CAST(CAST(user_id AS BIGINT) AS VARCHAR)), 1, 15))
                            AS BIGINT) AS hv
                FROM ev
            ),
            u AS (
                SELECT event_type, hv,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
                FROM h
            ),
            agg AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k_used,
                       MAX(hv) AS kth
                FROM u WHERE rn <= {KMV_SK_K} GROUP BY event_type
            )
            SELECT event_type,
                   CASE WHEN k_used < {KMV_SK_K} THEN k_used * 1.0
                        ELSE round((k_used - 1) / (kth / {KMV_SK_NORM!r}), 6)
                   END AS est_users,
                   k_used, kth
            FROM agg
        """).fetchall()
    }
    con.close()
    assert twin == want


def test_streaming_quantile_sketch_matches_batch_query(spark, tmp_path):
    """The bottom-k quantile sample merges by union-then-retake-k (the
    KMV merge law), so the stateful streaming fold over any micro-batch
    split must reproduce the oracle-hash-checked batch query's
    (p, est_len, k_sample) EXACTLY — pinned against both the twin's
    batch branch and the registered query itself."""
    from kingsfoil_seed_data_ingestor_spark.plans.llm import (
        text_length_quantile_sketch,
    )
    from kingsfoil_seed_data_ingestor_spark.streaming.sketch import (
        streaming_length_quantiles,
    )

    src = tmp_path / "doc_feed_qsk"
    src.mkdir()
    docs = load(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(str(src / "b1.parquet"))
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(str(src / "b2.parquet"))
    schema = (
        spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    streamed = run_to_memory(
        streaming_length_quantiles(stream), "qsk_stream", output_mode="update"
    )
    final = {
        r.p: (r.est_len, r.k_sample)
        for r in streamed.filter(F.col("n_batches") == 2).collect()
    }
    assert final

    # twin's batch branch over the union of the two files
    union = spark.read.option("recursiveFileLookup", "true").parquet(str(src))
    twin = {
        r.p: (r.est_len, r.k_sample)
        for r in streaming_length_quantiles(union).collect()
    }
    assert final == twin

    # and the registered (oracle-hash-checked) query over the same table
    reg = {
        r.p: (r.est_len, r.k_sample)
        for r in text_length_quantile_sketch(spark, SF_DIR).collect()
    }
    assert final == reg


def test_streaming_cms_counters_match_batch_build(spark, tmp_path):
    """CMS counters are sums — per-batch folding is the sketch's own
    merge law, so the streaming state after any micro-batch split must
    equal the batch build over the union EXACTLY (set equality on the
    sparse counter table, the same rows the oracle-hash-checked batch
    query aggregates)."""
    from kingsfoil_seed_data_ingestor_spark.streaming.sketch import (
        streaming_user_freq_cms,
    )

    src = tmp_path / "ev_feed_cms"
    src.mkdir()
    ev = load(spark, SF_DIR, "events").select("user_id")
    ev.filter(F.col("user_id") % 2 == 0).write.parquet(str(src / "b1.parquet"))
    ev.filter(F.col("user_id") % 2 == 1).write.parquet(str(src / "b2.parquet"))
    schema = (
        spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    streamed = run_to_memory(
        streaming_user_freq_cms(stream), "cms_stream", output_mode="update"
    )
    final = {
        (r.d, r.bucket): r.cnt
        for r in streamed.filter(F.col("n_batches") == 2).collect()
    }
    assert final

    union = spark.read.option("recursiveFileLookup", "true").parquet(str(src))
    batch = {
        (r.d, r.bucket): r.cnt for r in streaming_user_freq_cms(union).collect()
    }
    assert final == batch
    assert sum(final.values()) == 4 * union.count()


def test_streaming_sessionize_gap_matches_batch(spark, tmp_path):
    """Closed sessions from the stateful fold over a TIME-split stream
    must equal the oracle-hash-checked batch sessionization minus each
    user's chronologically-last (still-open) session; the twin's batch
    branch must equal the registered query exactly."""
    from kingsfoil_seed_data_ingestor_spark.plans.corpus import (
        events_sessionize_gap,
    )
    from kingsfoil_seed_data_ingestor_spark.streaming.events import sessionize_gap

    src = tmp_path / "ev_feed_sess"
    src.mkdir()
    ev = load(spark, SF_DIR, "events").select("user_id", "ts", "event_id")
    cut = "2024-01-16 00:00:00"
    ev.filter(F.col("ts") < cut).write.parquet(str(src / "b1.parquet"))
    ev.filter(F.col("ts") >= cut).write.parquet(str(src / "b2.parquet"))
    schema = (
        spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    streamed = run_to_memory(
        sessionize_gap(stream), "sess_stream", output_mode="update"
    )
    got = {
        (r.user_id, r.session_start_us, r.n_events, r.duration_us)
        for r in streamed.collect()
    }

    batch = [
        (r.user_id, r.session_start_us, r.n_events, r.duration_us)
        for r in events_sessionize_gap(spark, SF_DIR).collect()
    ]
    last_start = {}
    for u, s, n, d in batch:
        if u not in last_start or s > last_start[u]:
            last_start[u] = s
    want = {(u, s, n, d) for u, s, n, d in batch if s != last_start[u]}
    assert got == want
    assert len(batch) - len(want) == len(last_start)  # one open session/user

    # the twin's batch branch IS the registered query
    union = spark.read.option("recursiveFileLookup", "true").parquet(str(src))
    twin = {
        (r.user_id, r.session_start_us, r.n_events, r.duration_us)
        for r in sessionize_gap(union).collect()
    }
    assert twin == set(batch)


# ----------------------------------------------------------------------
# round 8: stream-stream join state bound + watermark late-data fixture
# ----------------------------------------------------------------------


def _run_with_progress(stream, name, output_mode):
    """Like run_to_memory but returns (result_df, progress_list) so
    tests can assert on state-store metrics per micro-batch."""
    import json as _json

    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [_json.loads(p.json) for p in q.recentProgress]
    return stream.sparkSession.table(name), progress


def _parse_wm_us(iso: str) -> int:
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(iso.replace("Z", "+00:00"))
    return int(dt.astimezone(timezone.utc).timestamp() * 1_000_000)


def test_correlate_events_join_state_bounded(spark, tmp_path):
    """Stream-stream interval join state witness (VERDICT r7 #4): the
    two-sided watermark + bounded event-time distance lets Spark size
    the join state, so across micro-batches the state store must hold
    ≤ |clicks with ts ≥ W - within| + |purchases with ts ≥ W| rows
    (everything older can no longer match and must be evicted), and at
    30 days of feed vs a 1.5 h retention horizon the peak state must be
    a small fraction of the 412 joinable rows. Without the interval
    bound the join would buffer the full feed forever."""
    from kingsfoil_seed_data_ingestor_spark.streaming import correlate_events

    ev = (
        load(spark, SF_DIR, "events")
        .select("user_id", "event_id", "event_type", "ts", "value")
        .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ → LTZ (UTC)
    )
    # 4 time-quartile files → 4 micro-batches with an advancing watermark
    src = tmp_path / "ev_feed_join"
    src.mkdir()
    cuts = ["2024-01-08", "2024-01-16", "2024-01-24"]
    parts = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter((F.col("ts") >= cuts[1]) & (F.col("ts") < cuts[2])),
        ev.filter(F.col("ts") >= cuts[2]),
    ]
    import os as _os
    import time as _time

    for i, p in enumerate(parts):
        d = src / f"b{i}.parquet"
        p.coalesce(1).write.parquet(str(d))
        now = _time.time()
        for f in d.rglob("*"):
            _os.utime(f, (now + i, now + i))  # deterministic batch order

    schema = spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        # round-tripped parquet comes back TIMESTAMP_NTZ; watermarks
        # require TIMESTAMP (session tz is pinned UTC so the cast is
        # value-preserving)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    within_us = 3_600 * 1_000_000  # "1 hour"
    out, progress = _run_with_progress(
        correlate_events(stream), "join_state_bound", "append"
    )

    # the join itself matches its batch twin (sanity on top of the
    # existing parity test)
    batch = correlate_events(ev)
    assert out.count() == batch.count()

    clicks = sorted(
        r.us for r in ev.filter(F.col("event_type") == "click")
        .select(F.unix_micros("ts").alias("us")).collect()
    )
    purchases = sorted(
        r.us for r in ev.filter(F.col("event_type") == "purchase")
        .select(F.unix_micros("ts").alias("us")).collect()
    )
    import bisect

    peak = 0
    checked = 0
    for p in progress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        total_state = sum(op.get("numRowsTotal", 0) for op in ops)
        peak = max(peak, total_state)
        wm = p.get("eventTime", {}).get("watermark")
        if not wm:
            continue
        w_us = _parse_wm_us(wm)
        if w_us <= 0:  # epoch placeholder before the first advance
            continue
        bound = (
            len(clicks) - bisect.bisect_left(clicks, w_us - within_us)
        ) + (len(purchases) - bisect.bisect_left(purchases, w_us))
        # rows arriving IN this batch sit alongside the survivors until
        # the next batch's eviction; the feed is time-ordered so they're
        # inside the bound already — allow a small slack for boundary
        # rounding of the watermark string (ms precision)
        assert total_state <= bound + 2, (
            f"state {total_state} exceeds watermark-window bound {bound} "
            f"at watermark {wm}"
        )
        checked += 1
    assert checked >= 2, f"too few watermarked batches to witness: {checked}"
    # eviction must actually happen: 30 days of feed vs 1.5 h horizon
    assert 0 < peak < (len(clicks) + len(purchases)) / 2, peak


def test_bounded_disorder_feed_completeness(spark, tmp_path):
    """Bounded-disorder arrival semantics (VERDICT r8 #5): real
    pipelines are neither time-ordered (the r8 micro-bench's honest
    simplification, PERF_NOTES §r8) nor time-random (where a watermark
    silently drops most rows) — they arrive with a KNOWN max disorder.
    The fixture is a dense synthetic click/purchase feed (4 000 events
    43.2 s apart, 20 users, every click followed by a same-user
    purchase inside the 1 h join window → 3 980 expected pairs) whose
    ARRIVAL order displaces each event by a deterministic md5-derived
    ±6 h; max lateness vs the max event time already seen is therefore
    ≤ 12 h — the documented disorder bound. With watermark slack ≥ that
    bound the stream-stream interval join must be COMPLETE (zero rows
    dropped by the watermark, output identical to the batch twin) and
    the state-size witness must still hold across micro-batches;
    tightening the slack BELOW the bound must visibly drop rows and
    lose pairs — the gate that fails if anyone 'optimizes' the slack
    under the disorder. Fixed data + hash displacement: fully
    deterministic (measured: 725 min slack → 3980/3980, 0 dropped;
    125 min → 3662 pairs, 166 dropped)."""
    import bisect
    import os as _os
    import time as _time

    from kingsfoil_seed_data_ingestor_spark.streaming import correlate_events

    ev = spark.range(4000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 20).alias("user_id"),
        F.when((F.col("id") / 20).cast("long") % 2 == 0, "click")
        .otherwise("purchase")
        .alias("event_type"),
        F.timestamp_micros(
            F.lit(1704067200000000) + F.col("id") * F.lit(43_200_000)
        ).alias("ts"),
        (F.col("id") % 50 * 1.0).alias("value"),
    )
    disorder_s = 6 * 3600
    arrival = (
        F.unix_micros("ts")
        + (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
            ).cast("long")
            % (2 * disorder_s + 1)
            - disorder_s
        )
        * 1_000_000
    )
    perturbed = ev.withColumn("_arrival", arrival)
    # 8 arrival-ordered files → 8 micro-batches (each ~6 h of feed);
    # every boundary exposes up to 12 h of disorder to the watermark
    cuts = perturbed.approxQuantile("_arrival", [i / 8 for i in range(1, 8)], 0.0)
    src = tmp_path / "ev_feed_disorder"
    src.mkdir()
    lo = float("-inf")
    for i, hi in enumerate(list(cuts) + [float("inf")]):
        part = perturbed.filter(
            (F.col("_arrival") >= lo) & (F.col("_arrival") < hi)
        ).drop("_arrival")
        d = src / f"b{i}.parquet"
        part.coalesce(1).write.parquet(str(d))
        now = _time.time()
        for f in d.rglob("*"):
            _os.utime(f, (now + i, now + i))
        lo = hi

    schema = spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema

    def run(name: str, slack: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        out, progress = _run_with_progress(
            correlate_events(stream, watermark=slack), name, "append"
        )
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for op in (p.get("stateOperators") or [])
        )
        return out, progress, dropped

    batch_n = correlate_events(ev).count()
    assert batch_n == 3980

    # slack ≥ the 12 h disorder bound (+ margin): complete
    out, progress, dropped = run("disorder_wide", "725 minutes")
    assert dropped == 0, f"watermark dropped {dropped} rows despite slack ≥ bound"
    assert out.count() == batch_n, "stream output incomplete vs batch twin"

    # the state witness holds under disorder too (same eviction bound
    # as the ordered-feed test, slack for in-flight batch rows)
    within_us = 3_600 * 1_000_000
    clicks = sorted(
        r.us
        for r in ev.filter(F.col("event_type") == "click")
        .select(F.unix_micros("ts").alias("us"))
        .collect()
    )
    purchases = sorted(
        r.us
        for r in ev.filter(F.col("event_type") == "purchase")
        .select(F.unix_micros("ts").alias("us"))
        .collect()
    )
    checked = 0
    peak = 0
    for p in progress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        total_state = sum(op.get("numRowsTotal", 0) for op in ops)
        peak = max(peak, total_state)
        wm = p.get("eventTime", {}).get("watermark")
        if not wm:
            continue
        w_us = _parse_wm_us(wm)
        if w_us <= 0:
            continue
        bound = (
            len(clicks) - bisect.bisect_left(clicks, w_us - within_us)
        ) + (len(purchases) - bisect.bisect_left(purchases, w_us))
        assert total_state <= bound + 8, (total_state, bound, wm)
        checked += 1
    assert checked >= 3, f"too few watermarked batches to witness: {checked}"
    # eviction actually ran: 48 h of feed vs a ~13 h retention horizon
    assert 0 < peak < len(clicks) + len(purchases), peak

    # negative control: slack BELOW the disorder bound must drop rows
    # and lose pairs — the completeness above is the watermark slack
    # covering the bound, not the feed being secretly ordered
    out_tight, _, dropped_tight = run("disorder_tight", "125 minutes")
    assert dropped_tight > 0, (
        "tight watermark dropped nothing — the fixture's disorder bound "
        "is not being exercised"
    )
    assert out_tight.count() < batch_n


def test_watermark_drops_late_rows_exactly_at_boundary(spark, tmp_path):
    """Late-data semantics pinned under data (VERDICT r7 #5), with a
    10-minute tumbling window, 15-minute watermark, append mode.

    The append-mode guarantee this pins: a window is EMITTED EXACTLY
    ONCE — when the watermark passes its end — and a row arriving after
    its window was finalized is DROPPED (witnessed by the state
    operator's ``numRowsDroppedByWatermark``), never re-opening or
    double-emitting the window. Two planted probes bracket the
    boundary inside one micro-batch:

    * ``LATE`` (00:07, arriving two batches after its window [00:00,
      00:10) was finalized) → dropped, counter = 1, the window stays
      at its emitted count of 2;
    * ``JIT`` (01:09:59.999999, arriving 1 µs before the end of a
      window the SAME batch's watermark is about to finalize) →
      merged, so [01:00,01:10) emits with count 2 including it.
    """
    import os as _os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kingsfoil_seed_data_ingestor_spark.streaming import (
        tumbling_window_counts,
    )

    def ts(minute: float) -> pd.Timestamp:
        return pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=minute)

    def write_batch(path, rows):
        pdf = pd.DataFrame(
            rows, columns=["user_id", "event_id", "event_type", "ts", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), path,
            coerce_timestamps="us",
        )

    src = tmp_path / "late_feed"
    src.mkdir()
    # batch 0: [00:00,10) ×2, [00:10,20) ×1, [01:00,·) ×1; max ts 01:00
    # → watermark becomes 00:45, so batch 1 finalizes [00:00) and [00:10)
    write_batch(
        src / "b0.parquet",
        [
            (1, 1, "click", ts(1), 1.0),
            (2, 2, "click", ts(5), 1.0),
            (3, 3, "click", ts(12), 1.0),
            (4, 4, "click", ts(60), 1.0),
        ],
    )
    # batch 1 (wm 00:45): emits [00:00,2] and [00:10,1]; max ts 01:30
    # → watermark becomes 01:15
    write_batch(src / "b1.parquet", [(5, 5, "click", ts(90), 1.0)])
    # batch 2 (wm 01:15): LATE 00:07 targets the ALREADY-FINALIZED
    # [00:00,00:10) → dropped; JIT 01:09:59.999999 lands 1 µs inside
    # [01:00,01:10), which THIS batch's watermark finalizes → merged,
    # emitted as n=2; 01:20 opens a window past the watermark → kept
    # open until batch 3; 02:00 advances the watermark to 01:45
    write_batch(
        src / "b2.parquet",
        [
            (6, 6, "click", ts(7), 1.0),
            (7, 7, "click", ts(69) + pd.Timedelta(microseconds=59_999_999), 1.0),
            (8, 8, "click", ts(80), 1.0),
            (9, 9, "click", ts(120), 1.0),
        ],
    )
    now = _time.time()
    for i in range(3):
        _os.utime(src / f"b{i}.parquet", (now + i, now + i))

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ → LTZ (UTC)
    )
    out, progress = _run_with_progress(
        tumbling_window_counts(stream, window="10 minutes", watermark="15 minutes"),
        "late_boundary",
        "append",
    )
    rows = out.collect()
    got = sorted((r.window_start.isoformat(), r.n_events) for r in rows)
    want = [
        ("2024-01-01T00:00:00", 2),  # NOT 3, NOT re-emitted: LATE dropped
        ("2024-01-01T00:10:00", 1),
        ("2024-01-01T01:00:00", 2),  # JIT merged 1 µs before finalization
        ("2024-01-01T01:20:00", 1),  # finalized by the 01:45 watermark
        ("2024-01-01T01:30:00", 1),
    ]
    assert got == want, got
    # exactly-once per window: no window_start appears twice in append
    assert len({w for w, _ in got}) == len(got)

    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in (p.get("stateOperators") or [])
    )
    assert dropped == 1, f"expected exactly the LATE row dropped, got {dropped}"
    # the watermark trajectory itself is deterministic: 00:45 → 01:15 →
    # 01:45 (max event time minus the 15-minute delay, per batch)
    wms = [
        p["eventTime"]["watermark"]
        for p in progress
        if p.get("eventTime", {}).get("watermark", "").startswith("2024")
    ]
    assert wms == [
        "2024-01-01T00:45:00.000Z",
        "2024-01-01T01:15:00.000Z",
        "2024-01-01T01:45:00.000Z",
    ], wms


def test_session_window_state_bounded_by_watermark(spark, tmp_path):
    """Session-window aggregation state witness (companion to the
    stream-stream join bound): with a 30-minute watermark over a
    30-day time-ordered feed, open-session state must hold only users
    whose sessions can still grow — i.e. sessions with activity newer
    than (watermark − gap). The state bound: rows ≤ sessions whose
    last event ts ≥ watermark − gap − slack, far below the total
    session count."""
    import os as _os
    import time as _time

    from kingsfoil_seed_data_ingestor_spark.streaming import (
        session_window_stats,
    )

    ev = (
        load(spark, SF_DIR, "events")
        .select("user_id", "ts", "value")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    src = tmp_path / "ev_feed_sessw"
    src.mkdir()
    cuts = ["2024-01-08", "2024-01-16", "2024-01-24"]
    parts = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter((F.col("ts") >= cuts[1]) & (F.col("ts") < cuts[2])),
        ev.filter(F.col("ts") >= cuts[2]),
    ]
    for i, p in enumerate(parts):
        d = src / f"b{i}.parquet"
        p.coalesce(1).write.parquet(str(d))
        now = _time.time()
        for f in d.rglob("*"):
            _os.utime(f, (now + i, now + i))

    schema = spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out, progress = _run_with_progress(
        session_window_stats(stream, gap="10 minutes", watermark="30 minutes"),
        "sessw_state_bound",
        "append",
    )
    total_sessions = session_window_stats(
        ev, gap="10 minutes", watermark="30 minutes"
    ).count()
    assert total_sessions > 100

    # (user, last event µs) per batch-derivable bound: sessions still
    # open under watermark W are those with an event ≥ W - gap
    evts = sorted(
        r.us for r in ev.select(F.unix_micros("ts").alias("us")).collect()
    )
    import bisect

    gap_us = 10 * 60 * 1_000_000
    checked = 0
    peak = 0
    for p in progress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        state_rows = sum(op.get("numRowsTotal", 0) for op in ops)
        peak = max(peak, state_rows)
        wm = p.get("eventTime", {}).get("watermark")
        if not wm or not wm.startswith("2024"):
            continue
        w_us = _parse_wm_us(wm)
        # every state row belongs to a session reachable from SOME
        # event newer than W - gap; bound by that event count
        bound = len(evts) - bisect.bisect_left(evts, w_us - gap_us)
        assert state_rows <= bound + 2, (state_rows, bound, wm)
        checked += 1
    assert checked >= 2, checked
    # eviction is real: 30 days of sessions never accumulate in state
    assert 0 < peak < total_sessions / 2, (peak, total_sessions)


# ----------------------------------------------------------------------
# round 9: incremental MinHash-LSH near-dup index (streaming/lsh.py)
# ----------------------------------------------------------------------


def test_streaming_lsh_matches_batch(spark, tmp_path):
    """The incremental LSH index over 3 micro-batches must emit exactly
    the pair set batch ``minhash_near_dups`` finds on the union — the
    'never recompute history, never miss a cross-batch pair' contract.
    Clones are planted so pairs straddle every batch combination."""
    from kingsfoil_seed_data_ingestor_spark.operators import text_dedup as DD
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import (
        StreamingLSHIndex,
        stream_lsh_dedup,
    )

    src = tmp_path / "lsh_feed"
    src.mkdir()
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    clones = docs.withColumn("doc_id", F.col("doc_id") + 1000)
    all_docs = docs.unionByName(clones)
    # batch 0: even originals; batch 1: odd originals; batch 2: clones —
    # every clone pair crosses a batch boundary, originals split 0/1
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(str(src / "b0.parquet"))
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(str(src / "b1.parquet"))
    clones.write.parquet(str(src / "b2.parquet"))
    schema = spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    index = StreamingLSHIndex(str(tmp_path / "lsh_store"), threshold=0.8)
    q = stream_lsh_dedup(stream, index, str(tmp_path / "lsh_ckpt"))
    q.awaitTermination(300)

    got_df = index.near_dup_pairs(spark)
    got = {(r.i, r.j, r.jaccard) for r in got_df.collect()}
    want = {
        (r.i, r.j, r.jaccard)
        for r in DD.minhash_near_dups(all_docs, threshold=0.8).collect()
    }
    assert got == want
    # the planted clones guarantee a non-vacuous check with pairs in
    # every batch-combination (clone pairs all cross into batch 2)
    n_docs = docs.count()
    assert len(got) >= n_docs
    # exactly-once: each pair was emitted by one batch only
    assert got_df.count() == len(got)
    assert index.seen_ids(spark).count() == 2 * n_docs

    # novelty filter parity: greedy-by-arrival over the batch pair set.
    # Arrival key = (batch, doc_id); a doc is dup iff it pairs with any
    # doc of smaller key (regardless of that doc's own dup status —
    # exactly the index's rule, so chains agree too).
    batch_of = {}
    for r in docs.collect():
        batch_of[r.doc_id] = 0 if r.doc_id % 2 == 0 else 1
        batch_of[r.doc_id + 1000] = 2
    dup = set()
    for i, j, _ in want:
        ki, kj = (batch_of[i], i), (batch_of[j], j)
        dup.add(j if kj > ki else i)
    want_novel = set(batch_of) - dup
    got_novel = {r.doc_id for r in index.novel_ids(spark).collect()}
    assert got_novel == want_novel
    # every clone (batch 2) duplicates its batch-0/1 original
    assert all(c not in got_novel for c in batch_of if c >= 1000)


def test_streaming_lsh_replay_idempotent_and_param_pin(spark, tmp_path):
    """foreachBatch delivers at-least-once: replaying a batch id must
    overwrite identical rows, not double-append; and an index refuses
    probes under different banding parameters (banded rows are only
    comparable when banded identically)."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 25)
    b1 = docs.filter(F.col("doc_id") >= 25).withColumn(
        "doc_id", F.col("doc_id") - 25
    ).withColumn("doc_id", F.col("doc_id") + 2000)
    index = StreamingLSHIndex(str(tmp_path / "store"), threshold=0.8)
    index.process_batch(b0, 0)
    index.process_batch(b1, 1)
    before = sorted(
        (r.i, r.j, r.jaccard) for r in index.near_dup_pairs(spark).collect()
    )
    index.process_batch(b1, 1)  # replay
    after = sorted(
        (r.i, r.j, r.jaccard) for r in index.near_dup_pairs(spark).collect()
    )
    assert after == before
    assert index.seen_ids(spark).count() == docs.count()

    with pytest.raises(ValueError, match="refusing to probe"):
        StreamingLSHIndex(str(tmp_path / "store"), threshold=0.8, bands=16)


def test_streaming_lsh_lifecycle_guards(spark, tmp_path):
    """Round-9 review fixes: (a) an index refuses a batch id behind its
    high-water mark — the stream-restarted-with-fresh-checkpoint case
    that would silently overwrite historical batches; (b) a document
    re-delivered with an already-seen id in a LATER batch is dropped
    before processing, so its pairs are not re-emitted under a second
    batch; (c) readers on a zero-batch store return empty frames, not
    path errors."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex

    # (c) zero-batch store: readers are empty, never AnalysisException
    empty_index = StreamingLSHIndex(str(tmp_path / "empty_store"))
    assert empty_index.near_dup_pairs(spark).count() == 0
    assert empty_index.novel_ids(spark).count() == 0
    assert empty_index.seen_ids(spark).count() == 0

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 25)
    index = StreamingLSHIndex(str(tmp_path / "store"))
    index.process_batch(b0, 0)
    index.process_batch(docs.filter(F.col("doc_id") >= 25), 1)

    # (a) a batch id behind the high-water mark is refused loudly
    with pytest.raises(ValueError, match="checkpoint restarted behind"):
        index.process_batch(b0, 0)

    # (b) re-delivery of already-seen ids in a NEW batch: the docs are
    # dropped before indexing — no duplicate pair emission, no growth
    pairs_before = sorted(
        (r.i, r.j) for r in index.near_dup_pairs(spark).collect()
    )
    seen_before = index.seen_ids(spark).count()
    novel_before = {r.doc_id for r in index.novel_ids(spark).collect()}
    index.process_batch(b0, 2)  # same ids, later batch
    pairs_after = sorted(
        (r.i, r.j) for r in index.near_dup_pairs(spark).collect()
    )
    assert pairs_after == pairs_before, "re-delivery re-emitted pairs"
    assert index.seen_ids(spark).count() == seen_before
    # the re-delivered batch contributes NOTHING novel (every id was
    # judged at first arrival) and disturbs no earlier verdict
    assert {r.doc_id for r in index.novel_ids(spark).collect()} == novel_before


def test_streaming_lsh_sink_jobs_keep_stream_job_group(spark, tmp_path):
    """Every job a ``stream_lsh_dedup`` micro-batch submits — the
    per-batch sinks written from a driver thread pool included — runs
    under the stream's job group (its run id), which is what
    ``StreamingQuery.stop()`` cancels. The status tracker lists jobs
    without a group under ``None``; none may appear during the run."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import (
        StreamingLSHIndex,
        stream_lsh_dedup,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    src = tmp_path / "feed"
    src.mkdir()
    docs.write.parquet(str(src / "d0.parquet"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    index = StreamingLSHIndex(str(tmp_path / "store"), threshold=0.8)
    tracker = spark.sparkContext.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup())
    q = stream_lsh_dedup(stream, index, str(tmp_path / "ckpt"))
    assert q.awaitTermination(300)

    stray = set(tracker.getJobIdsForGroup()) - ungrouped_before
    assert not stray, f"{len(stray)} stream jobs ran outside the job group"
    assert tracker.getJobIdsForGroup(str(q.runId))
    assert index.near_dup_pairs(spark).count() > 0


# ----------------------------------------------------------------------
# round 10: LSM store for the LSH index — compaction + probe pruning
# ----------------------------------------------------------------------


def _split_batches(docs, k):
    """Deterministic k-way split of a doc frame by id modulus."""
    return [docs.filter(F.col("doc_id") % k == i) for i in range(k)]


def _snap_lsh(spark, ix):
    """(pairs, novel ids, seen ids) of an LSH index, each sorted."""
    return (
        sorted((r.i, r.j, r.jaccard) for r in ix.near_dup_pairs(spark).collect()),
        sorted(r.doc_id for r in ix.novel_ids(spark).collect()),
        sorted(r.doc_id for r in ix.seen_ids(spark).collect()),
    )


def test_streaming_lsh_compaction_preserves_results(spark, tmp_path):
    """VERDICT r9 #3: folding L0 batch dirs into a compacted run must
    be invisible to every reader — pairs, novelty verdicts, and the
    arrival registry all match an uncompacted control index fed the
    identical batches, across auto-fired and explicit compactions, with
    further batches arriving after the fold."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 120
    )
    clones = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 5000
    )
    batches = _split_batches(docs, 5) + [clones]

    lsm = StreamingLSHIndex(
        str(tmp_path / "lsm"), threshold=0.8, compact_every=2
    )
    flat = StreamingLSHIndex(
        str(tmp_path / "flat"), threshold=0.8, compact_every=0
    )
    for b, df in enumerate(batches):
        lsm.process_batch(df, b)
        flat.process_batch(df, b)
    # the cadence must actually have fired (otherwise this tests nothing)
    assert lsm._compaction() is not None
    assert flat._compaction() is None

    assert _snap_lsh(spark, lsm) == _snap_lsh(spark, flat)
    pairs, novel, seen = _snap_lsh(spark, lsm)
    assert len(pairs) >= clones.count()  # non-vacuous: planted clones pair
    assert len(seen) == docs.count() + clones.count()

    # explicit compaction after the stream is drained: readers unchanged
    assert lsm.compact(spark) is True
    assert _snap_lsh(spark, lsm) == (pairs, novel, seen)
    # idempotent: nothing new to fold
    assert lsm.compact(spark) is False

    # a replay of the HIGHEST batch after compaction is still idempotent
    # (the highest is deliberately never folded, so its L0 dir remains
    # overwritable)
    lsm.process_batch(batches[-1], len(batches) - 1)
    assert _snap_lsh(spark, lsm) == (pairs, novel, seen)


def test_streaming_lsh_probe_files_flat(spark, tmp_path):
    """The probe-cost gate (VERDICT r9 #3 'done' criterion): with
    compaction on, the number of parquet files a batch's banded probe
    touches stays FLAT as batches accumulate — bounded by the live
    runs' size-bounded files plus the ≤ compact_every L0 dirs — while
    the uncompacted control's probe keeps touching every file ever
    written (linear in batch count)."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 240
    )
    batches = _split_batches(docs, 12)
    probe = docs.filter(F.col("doc_id") % 12 == 0).limit(4)

    lsm = StreamingLSHIndex(
        str(tmp_path / "lsm"), threshold=0.8, compact_every=2
    )
    flat = StreamingLSHIndex(
        str(tmp_path / "flat"), threshold=0.8, compact_every=0
    )
    lsm_curve, flat_curve = [], []
    for b, df in enumerate(batches):
        lsm.process_batch(df, b)
        flat.process_batch(df, b)
        if b in (3, 11):
            lsm_curve.append(lsm.probe_files_touched(spark, probe))
            flat_curve.append(flat.probe_files_touched(spark, probe))

    # control: the flat layout's probe grows with the index (3x the
    # batches => ~3x the files; demand at least 2x to stay noise-proof)
    assert flat_curve[1] >= 2 * flat_curve[0], (flat_curve, lsm_curve)
    # gate: the LSM layout's probe is near-flat — bounded by the
    # O(log batches) tiered-run count (one banded file per run at this
    # size) + the L0 tail, REGARDLESS of how many batches were indexed
    # (r11: size-tiered compaction keeps several runs live instead of
    # one, trading a logarithmic probe fan-out for bounded write
    # amplification)
    assert lsm_curve[1] <= lsm_curve[0] + 8, (lsm_curve, flat_curve)
    # and strictly better than the control at the same index size
    assert lsm_curve[1] < flat_curve[1], (lsm_curve, flat_curve)


def _store_entries(root) -> int:
    """Directories plus parquet data files under ``root``."""
    n = 0
    for _dir, dirs, files in os.walk(root):
        n += len(dirs) + sum(f.startswith("part-") for f in files)
    return n


#: Spark jobs of a 20-document micro-batch that probes one compacted
#: run (no compaction of its own), measured on a 4-core host. The
#: chunk-grid layout ran 24: it collected the batch's bucket chunks and
#: the candidates' doc-hash chunks to prune runs by, and broadcast the
#: candidates twice from two separate computations.
LSH_PROBE_BATCH_JOBS = 16


def test_streaming_lsh_run_layout_and_probe_jobs(spark, tmp_path):
    """A batch writes three L0 tables (``banded``, ``docs``, ``pairs``)
    and a compacted run holds two (``banded``, ``docs``), each plain
    parquet sized by its bytes: after a compacting ``process_batch`` on
    a small fixture no ``pb=``/``pd=`` chunk directory exists, each run
    table is one data file, and the batch creates at most 19
    directories plus data files under the store (the chunk-grid layout
    created 91 here, the five-sink layout 31). The write log counts the
    data files of every write. A later batch that probes the run,
    without compacting, runs at most ``LSH_PROBE_BATCH_JOBS`` Spark
    jobs."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 80
    )
    batches = _split_batches(docs, 4)
    store = tmp_path / "store"
    ix = StreamingLSHIndex(str(store), threshold=0.8, compact_every=2)
    ix.process_batch(batches[0], 0)
    ix.process_batch(batches[1], 1)
    before = _store_entries(store)
    ix.process_batch(batches[2], 2)  # 2 - (-1) > compact_every: folds 0..1
    created = _store_entries(store) - before
    comp = ix._compaction()
    assert comp is not None and comp["upto"] == 1 and len(comp["runs"]) == 1
    assert created <= 19, created

    chunk_dirs = [
        d for d, _, _ in os.walk(store)
        if os.path.basename(d).startswith(("pb=", "pd="))
    ]
    assert not chunk_dirs, chunk_dirs
    tables = {t for t in os.listdir(store) if (store / t).is_dir()}
    assert tables == {"banded", "docs", "pairs", "runs"}, tables
    for table in ("banded", "docs", "pairs"):
        assert (store / table / "batch_id=2").is_dir(), table
    run_dir = ix._run_dir(comp["runs"][0]["name"])
    assert set(os.listdir(run_dir)) == {"banded", "docs"}, os.listdir(run_dir)
    for table in ("banded", "docs"):
        files = [
            f for f in os.listdir(os.path.join(run_dir, table))
            if f.startswith("part-")
        ]
        assert len(files) == 1, (table, files)

    log = ix.write_log()
    assert [e["files"] for e in log if e["event"] == "compact"] == [2], log
    assert all(e["files"] >= 9 for e in log if e["event"] == "batch"), log

    sc = spark.sparkContext
    sc.setJobGroup("lsh-probe-batch", "lsh-probe-batch")
    try:
        ix.process_batch(batches[3], 3)  # 3 - 1 == compact_every: no fold
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("lsh-probe-batch")
    assert ix._compaction()["upto"] == 1
    assert 0 < len(jobs) <= LSH_PROBE_BATCH_JOBS, sorted(jobs)
    assert ix.seen_ids(spark).count() == docs.count()


def test_streaming_lsh_refuses_an_index_of_another_layout(spark, tmp_path):
    """The store layout is pinned in ``_params.json`` with the banding
    parameters: an index whose pin lacks the layout entry (written
    before ``docs`` replaced the ``ids``/``posts``/``novel`` tables) is
    refused on open instead of being misread, and so is one pinned
    under any other layout name."""
    import json

    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 20
    )
    store = tmp_path / "store"
    StreamingLSHIndex(str(store), threshold=0.8).process_batch(docs, 0)
    params = json.loads((store / "_params.json").read_text())
    assert "layout" in params, params
    StreamingLSHIndex(str(store), threshold=0.8)  # the same layout opens

    old = {k: v for k, v in params.items() if k != "layout"}
    (store / "_params.json").write_text(json.dumps(old))
    with pytest.raises(ValueError, match="refusing to probe"):
        StreamingLSHIndex(str(store), threshold=0.8)
    (store / "_params.json").write_text(json.dumps({**params, "layout": "other"}))
    with pytest.raises(ValueError, match="refusing to probe"):
        StreamingLSHIndex(str(store), threshold=0.8)


def test_streaming_lsh_reads_and_merges_snappy_runs(spark, tmp_path):
    """An index whose first batches and first run were written as
    snappy parquet (before the session default changed to zstd) keeps
    probing, folding and tier-merging: the snappy run is merged into a
    zstd one, and the pairs, novelty verdicts and registry equal a fresh
    index's over the same batches."""
    from pathlib import Path

    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex
    from tests.conftest import parquet_codecs

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 120
    )
    clones = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 5000
    )
    batches = _split_batches(docs, 5) + [clones]

    def run_files(ix, name):
        return list(Path(ix._run_dir(name)).rglob("*.parquet"))

    key = "spark.sql.parquet.compression.codec"
    default = spark.conf.get(key)
    ix = StreamingLSHIndex(
        str(tmp_path / "mixed"), threshold=0.8, compact_every=1, tier_fanout=2
    )
    spark.conf.set(key, "snappy")
    try:
        for b in range(3):
            ix.process_batch(batches[b], b)
    finally:
        spark.conf.set(key, default)
    first = [r["name"] for r in ix._compaction()["runs"]]
    assert first
    for name in first:
        assert parquet_codecs(*run_files(ix, name)) == {"SNAPPY"}, name
    for b in range(3, len(batches)):
        ix.process_batch(batches[b], b)
    fresh = StreamingLSHIndex(str(tmp_path / "fresh"), threshold=0.8, compact_every=0)
    for b, df in enumerate(batches):
        fresh.process_batch(df, b)

    names = [r["name"] for r in ix._compaction()["runs"]]
    assert not set(first) & set(names), (first, names)
    for name in names:
        assert parquet_codecs(*run_files(ix, name)) == {"ZSTD"}, name
    got = _snap_lsh(spark, ix)
    assert got == _snap_lsh(spark, fresh)
    assert len(got[0]) >= clones.count()  # non-vacuous: planted clones pair
    assert len(got[2]) == docs.count() + clones.count()


def test_streaming_lsh_fingerprint_guard(spark, tmp_path):
    """Round-10 review fix: a stream restarted against a FRESH
    checkpoint whose first batch id equals the stored high-water mark
    (the common one-batch case: highest=0, fresh checkpoint restarts at
    0) must be refused when it carries different documents — and still
    accepted when it is a genuine foreachBatch replay of the same
    delivery."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 25)
    other = docs.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50))

    index = StreamingLSHIndex(str(tmp_path / "store"), threshold=0.8)
    index.process_batch(b0, 0)
    pairs = sorted((r.i, r.j) for r in index.near_dup_pairs(spark).collect())

    # genuine replay: same batch id, same documents — idempotent
    index.process_batch(b0, 0)
    assert sorted(
        (r.i, r.j) for r in index.near_dup_pairs(spark).collect()
    ) == pairs

    # fresh-checkpoint collision: same batch id, DIFFERENT documents
    with pytest.raises(ValueError, match="different documents"):
        index.process_batch(other, 0)
    # ADVICE r10: the SAME ids with DIFFERENT text must also be refused
    # — the fingerprint now folds a content term, so an id-only match
    # can no longer smuggle changed documents past the guard
    tampered = b0.withColumn("text", F.concat(F.col("text"), F.lit(" tampered")))
    with pytest.raises(ValueError, match="different documents"):
        index.process_batch(tampered, 0)
    # history untouched by the refused batches
    assert index.seen_ids(spark).count() == b0.count()


def test_streaming_lsh_write_amplification_bounded(spark, tmp_path):
    """VERDICT r10 #2 'Done' gate: under size-tiered compaction the
    TOTAL rows rewritten by folds + tier merges over ≥24 batches stays
    a small multiple of the L0 rows ingested (each row is rewritten at
    most ~log_fanout(batches) times), at BOTH corpus sizes — where the
    pre-r11 fold-everything design rewrote ~batches/(2·compact_every)
    times the corpus (measured ≳4× on this schedule, growing without
    bound). Also pins that a fold reads only the NEW L0 range: the last
    fold's row count is bounded by the batches it folded, not the
    corpus."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex

    n_batches = 24
    ratios = {}
    for label, n_docs in (("small", 120), ("large", 240)):
        docs = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
            F.col("doc_id") < n_docs
        )
        batches = [
            docs.filter(F.col("doc_id") % n_batches == i) for i in range(n_batches)
        ]
        ix = StreamingLSHIndex(
            str(tmp_path / f"wa-{label}"),
            threshold=0.8,
            compact_every=3,
            tier_fanout=4,
        )
        for b, df in enumerate(batches):
            ix.process_batch(df, b)
        log = ix.write_log()
        l0_rows = sum(e["banded_rows"] for e in log if e["event"] == "batch")
        compacts = [e for e in log if e["event"] == "compact"]
        assert len(compacts) >= 5, "cadence must actually have fired"
        rewritten = sum(e["fold_rows"] + e["merge_rows"] for e in compacts)
        assert l0_rows > 0
        ratios[label] = rewritten / l0_rows
        # bounded amplification: ≤ 3× at this schedule (1× L1 creation
        # + ≤ ~1× of tier merging + slack), vs fold-everything's ≥ 4×
        assert ratios[label] <= 3.0, (label, ratios[label], compacts)
        # a fold reads only its new L0 range — last fold ≤ the rows of
        # the ≤ compact_every+1 batches it folded (with 2× slack), not
        # the corpus
        per_batch = l0_rows / n_batches
        assert compacts[-1]["fold_rows"] <= 2 * (ix.compact_every + 1) * per_batch, (
            compacts[-1],
            per_batch,
        )
        # the run set stays logarithmic, never one-per-fold
        assert compacts[-1]["n_runs"] <= 6, compacts[-1]
    # not growing with corpus: doubling the docs must not inflate the
    # amplification ratio beyond noise
    assert ratios["large"] <= ratios["small"] + 0.5, ratios


def test_streaming_lsh_vacuum_grace_retains_then_removes(spark, tmp_path):
    """ADVICE r10: compaction must NOT delete superseded runs / folded
    L0 dirs at the marker flip — a lazy DataFrame built before the fold
    still references those files. With a grace window the old files
    survive the fold (and the lazy read still executes); an explicit
    ``vacuum(0)`` then removes them."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 60
    )
    batches = _split_batches(docs, 4)
    ix = StreamingLSHIndex(
        str(tmp_path / "store"), threshold=0.8, compact_every=0,
        retain_grace_s=3600.0,
    )
    for b, df in enumerate(batches[:3]):
        ix.process_batch(df, b)
    # lazy readers built BEFORE the fold (capture the pre-fold file set)
    lazy_seen = ix.seen_ids(spark)
    lazy_pairs = ix.near_dup_pairs(spark)
    assert ix.compact(spark) is True
    ix.process_batch(batches[3], 3)
    # the pre-fold lazy frames still execute — no FileNotFound
    assert lazy_seen.count() == sum(b.count() for b in batches[:3])
    lazy_pairs.count()
    # the folded L0 dirs survived the flip (grace window)
    l0_banded = tmp_path / "store" / "banded"
    folded = [p for p in l0_banded.iterdir() if p.name.startswith("batch_id=")]
    assert len(folded) == 4  # 0..2 retained by grace + live batch 3
    # explicit zero-grace vacuum removes the superseded storage
    removed = ix.vacuum(0)
    assert removed >= 3
    folded_after = sorted(
        int(p.name.split("=")[1])
        for p in l0_banded.iterdir()
        if p.name.startswith("batch_id=")
    )
    # the fold covered batches ≤ upto = 1 (batch 2 was the highest at
    # fold time and stays replayable L0, batch 3 arrived after)
    assert folded_after == [2, 3]
    # and committed readers are untouched by the cleanup
    assert ix.seen_ids(spark).count() == docs.count()


def test_streaming_lsh_within_batch_duplicate_ids(spark, tmp_path):
    """ADVICE r10: a doc_id duplicated WITHIN one micro-batch must be
    indexed and retained exactly once — the keeper row chosen
    deterministically — so the corpus never holds duplicate rows for
    one id."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import (
        StreamingLSHIndex,
        stream_lsh_corpus,
    )

    base = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 20
    )
    dup_same = base.filter(F.col("doc_id") < 10)  # exact duplicate rows
    dup_other = base.filter(F.col("doc_id") >= 10).withColumn(
        "text", F.concat(F.col("text"), F.lit(" trailing-variant"))
    )  # same id, different text
    feed = base.unionByName(dup_same).unionByName(dup_other)

    src = tmp_path / "feed"
    src.mkdir()
    feed.write.parquet(str(src / "d0.parquet"))
    schema = spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    index = StreamingLSHIndex(str(tmp_path / "store"), threshold=0.8)
    q = stream_lsh_corpus(
        stream, index, str(tmp_path / "ckpt"), str(tmp_path / "corpus")
    )
    assert q.awaitTermination(300)

    assert index.seen_ids(spark).count() == base.count()
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    per_id = corpus.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    assert per_id == 0, "corpus holds duplicate rows for one id"
    # the retained text is the deterministic keeper (min (xxhash64(
    # text), text) per id — the rule the index and corpus share)
    kept = {r.doc_id: r.text for r in corpus.collect()}
    choice = (
        feed.withColumn("_h", F.xxhash64("text"))
        .groupBy("doc_id")
        .agg(F.min(F.struct("_h", "text")).alias("m"))
        .select("doc_id", F.col("m.text").alias("text"))
    )
    want = {r.doc_id: r.text for r in choice.collect()}
    for did, text in kept.items():
        assert text == want[did], did
    # corpus ids = the novelty verdicts (the filter IS novel_ids)
    novel = {r.doc_id for r in index.novel_ids(spark).collect()}
    assert set(kept) == novel


def test_streaming_lsh_corpus_restart_with_compaction_interleave(spark, tmp_path):
    """VERDICT r10 #7: kill/restart mid-feed with a compaction firing
    BETWEEN the restarts — the retained corpus (rows, not just ids),
    the pair set, and the novelty verdicts must be identical to an
    uninterrupted run over the same feed."""
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import (
        StreamingLSHIndex,
        stream_lsh_corpus,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 100
    )
    clones = docs.filter(F.col("doc_id") % 4 == 0).withColumn(
        "doc_id", F.col("doc_id") + 7000
    )
    drops = [
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        clones,
    ]

    def feed_dir(name):
        d = tmp_path / name
        d.mkdir()
        return d

    def run(src, store, ckpt, corpus, compact_every):
        schema = spark.read.option("recursiveFileLookup", "true").parquet(
            str(src)
        ).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        index = StreamingLSHIndex(
            str(store), threshold=0.8, compact_every=compact_every
        )
        q = stream_lsh_corpus(stream, index, str(ckpt), str(corpus))
        assert q.awaitTermination(300)
        return index

    # interrupted path: drain drop 0, explicit compaction while the
    # stream is DOWN, then resume the same checkpoint with the rest
    src_a = feed_dir("feed_a")
    drops[0].write.parquet(str(src_a / "d0.parquet"))
    ix_a = run(src_a, tmp_path / "store_a", tmp_path / "ckpt_a",
               tmp_path / "corpus_a", compact_every=0)
    assert ix_a.compact(spark) is False  # only batch 0 exists (still replayable)
    drops[1].write.parquet(str(src_a / "d1.parquet"))
    ix_a = run(src_a, tmp_path / "store_a", tmp_path / "ckpt_a",
               tmp_path / "corpus_a", compact_every=0)
    assert ix_a.compact(spark) is True  # compaction between restarts
    drops[2].write.parquet(str(src_a / "d2.parquet"))
    ix_a = run(src_a, tmp_path / "store_a", tmp_path / "ckpt_a",
               tmp_path / "corpus_a", compact_every=0)

    # uninterrupted control: all three drops, one run, no compaction
    src_b = feed_dir("feed_b")
    for i, d in enumerate(drops):
        d.write.parquet(str(src_b / f"d{i}.parquet"))
    ix_b = run(src_b, tmp_path / "store_b", tmp_path / "ckpt_b",
               tmp_path / "corpus_b", compact_every=0)

    def corpus_rows(p):
        return sorted(
            (r.doc_id, r.text) for r in spark.read.parquet(str(p)).collect()
        )

    assert corpus_rows(tmp_path / "corpus_a") == corpus_rows(tmp_path / "corpus_b")
    assert sorted(
        (r.i, r.j, r.jaccard) for r in ix_a.near_dup_pairs(spark).collect()
    ) == sorted((r.i, r.j, r.jaccard) for r in ix_b.near_dup_pairs(spark).collect())
    assert {r.doc_id for r in ix_a.novel_ids(spark).collect()} == {
        r.doc_id for r in ix_b.novel_ids(spark).collect()
    }
    # non-vacuous: pairs exist and the compaction really interleaved
    assert ix_a.near_dup_pairs(spark).count() >= clones.count()
    assert ix_a._compaction() is not None


def test_streaming_lsh_corpus_end_to_end(spark, tmp_path):
    """VERDICT r9 #4: drop-dir feed → LSH novelty filter → corpus, end
    to end. Clones are planted across every batch boundary; the stream
    is drained, EXTENDED with late drops, and resumed on the same
    checkpoint. The final corpus must hold exactly the greedy-by-
    arrival keeper set of the full feed (one representative per
    near-dup chain, smallest arrival key), with full document rows."""
    from kingsfoil_seed_data_ingestor_spark.operators import text_dedup as DD
    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import (
        StreamingLSHIndex,
        stream_lsh_corpus,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 150
    )
    clones_a = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 5000
    )
    clones_b = docs.filter(F.col("doc_id") % 5 == 1).withColumn(
        "doc_id", F.col("doc_id") + 9000
    )
    # arrival order: originals split across two drops, clones later —
    # every clone pair crosses a batch boundary; clones_b arrives in
    # the SECOND stream run (restart-resume)
    src = tmp_path / "feed"
    src.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(str(src / "d0.parquet"))
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(str(src / "d1.parquet"))
    clones_a.write.parquet(str(src / "d2.parquet"))

    schema = spark.read.option("recursiveFileLookup", "true").parquet(str(src)).schema

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        index = StreamingLSHIndex(str(tmp_path / "store"), threshold=0.8)
        q = stream_lsh_corpus(
            stream, index, str(tmp_path / "ckpt"), str(tmp_path / "corpus")
        )
        assert q.awaitTermination(300)
        return index

    run_stream()  # drains d0..d2
    # late drops arrive; the SAME checkpoint resumes with new batch ids
    clones_b.write.parquet(str(src / "d3.parquet"))
    index = run_stream()

    # oracle: greedy-by-arrival over the batch pair set of the full feed
    all_docs = docs.unionByName(clones_a).unionByName(clones_b)
    arrival = {}  # doc_id -> batch index in arrival order
    for r in docs.collect():
        arrival[r.doc_id] = 0 if r.doc_id % 2 == 0 else 1
    for r in clones_a.collect():
        arrival[r.doc_id] = 2
    for r in clones_b.collect():
        arrival[r.doc_id] = 3
    dup = set()
    for r in DD.minhash_near_dups(all_docs, threshold=0.8).collect():
        ki, kj = (arrival[r.i], r.i), (arrival[r.j], r.j)
        dup.add(r.j if kj > ki else r.i)
    want_keepers = set(arrival) - dup

    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    got_keepers = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert got_keepers == want_keepers
    # full rows retained, one per keeper, content intact
    assert corpus.count() == len(want_keepers)
    texts = dict(
        (r.doc_id, r.text) for r in all_docs.collect() if r.doc_id in want_keepers
    )
    sample = corpus.limit(20).collect()
    assert all(r.text == texts[r.doc_id] for r in sample)
    # clones never survive (their originals arrived first)
    assert all(k < 5000 for k in got_keepers)
    # index agrees with the corpus (the filter IS novel_ids)
    assert got_keepers == {r.doc_id for r in index.novel_ids(spark).collect()}
