"""Corpus-assembly + warehouse extension queries (round 5).

The operations a training-data pipeline runs after cleaning and dedup,
plus warehouse shapes that round out the §2 surface:

- ``dedup_spans``         — sub-document dedup: corpus-wide duplicate
  8-token-span removal (CCNet/paragraph dedup at span granularity).
- ``embed_quantize_int8`` — symmetric int8 embedding quantization with
  exact integer witnesses + reconstruction error.
- ``corpus_mix_plan``     — per-source token accounting → uniform-budget
  sampling rates (the data-mixing plan a pretraining run starts from).
- ``corpus_shard_plan``   — seeded md5-permutation shard assignment +
  order witnesses (materialized by ``operators/sharding.py``).
- ``corpus_build_pipeline`` — exact dedup → quality gate → greedy
  packing as ONE plan, per-source stage-survival audit.
- ``events_funnel``       — ordered view→click→purchase funnel with a
  12 h attribution window per stage.
- ``events_user_gaps``    — lag() inter-event gaps, exact epoch-µs.
- ``events_cube_hourly``  — CUBE grouping sets with GROUPING() flags.
- ``profile_column_stats`` — one-pass multi-distinct column profile.
- ``q3_shipping_priority`` / ``q18_large_orders`` — TPC-H Q3/Q18
  shapes (filtered-dim top-k; agg-before-join HAVING).

Each is hard-gated by the oracle-parity pytest
(tests/test_oracle_parity.py), which runs every registered oracle
cross-engine at sf0.001.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.functions import text as TX
from kingsfoil_seed_data_ingestor_spark.operators import skew as SK
from kingsfoil_seed_data_ingestor_spark.operators import text_dedup as DD
from kingsfoil_seed_data_ingestor_spark.plans.core import register
from kingsfoil_seed_data_ingestor_spark.plans.llm import (
    _SQL_EMBED_COS as LLM_SQL_EMBED_COS,
    _SQL_QUALITY,
    EMBED_DUP_THRESHOLD as LLM_EMBED_DUP_THRESHOLD,
    REFEREE_CAP_N as LLM_REFEREE_CAP_N,
    PACK_BUDGET,
    SQL_NORMALIZED,
    SQL_TOKENS,
    sql_closure,
    sql_cosine,
    sql_hits,
    sql_rhp_auto_bucket,
    sql_rhp_bucket,
)
from kingsfoil_seed_data_ingestor_spark.operators import similarity as SIM
from kingsfoil_seed_data_ingestor_spark.plans.relational import DEC, exact_double
from kingsfoil_seed_data_ingestor_spark.plans.tables import load

#: tokens per dedup span — see operators/text_dedup.SPAN (shared with
#: the streaming twin in streaming/spans.py)
SPAN = DD.SPAN


@register(
    "dedup_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    ch AS (
        SELECT doc_id, i AS idx,
               md5(array_to_string(toks[i*{SPAN}+1 : i*{SPAN}+{SPAN}], ' ')) AS h,
               least({SPAN}, len(toks) - i*{SPAN}) AS n_tok
        FROM t, unnest(range(CAST(ceil(len(toks)/{SPAN}.0) AS BIGINT))) AS u(i)
    ),
    ranked AS (
        SELECT doc_id, idx, n_tok,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
        FROM ch
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           CAST(SUM(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM ranked GROUP BY doc_id
    """,
    doc="Sub-document dedup at span granularity (CCNet-style duplicate-"
    "paragraph removal; the synthetic corpus has no newlines, so the "
    "'paragraph' is a fixed 8-token span): every doc splits into "
    "contiguous token spans, spans are fingerprinted corpus-wide, and "
    "only the FIRST occurrence (by doc_id, span position) of each "
    "distinct span survives. Output is the per-doc audit a pipeline "
    "dashboard reads: span count, duplicated-span count, tokens kept. "
    "Plan: one narrow exchange on the 128-bit span fingerprint (a "
    "partial-aggregated min(struct(doc_id, idx)) — NOT a rank window: "
    "a mega-hot fingerprint (universal boilerplate) would funnel a "
    "window's sort through one task, while the map-side-combined min "
    "reduces each hot key to one row per input partition before it "
    "ever shuffles), a join of occurrences back to their keeper (at "
    "bench scale AQE broadcasts the keeper table — PLANS.md shows "
    "BHJ=1 and a second pruned scan; at corpus scale the broadcast "
    "stops applying and both sides fall back to the SAME fingerprint "
    "hash-partitioning, so the join rides the existing exchange), "
    "and one exchange back on doc_id. No pairwise comparison anywhere; "
    "linear in corpus size at 100 TB. Same keeper rule as the "
    "streaming twin (streaming/spans.py), so the two stay "
    "plan-for-plan comparable.",
)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    spans = DD.span_table(docs, SPAN)
    keepers = spans.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("_first")
    )
    is_first = (F.col("doc_id") == F.col("_first.doc_id")) & (
        F.col("idx") == F.col("_first.idx")
    )
    flagged = spans.join(keepers, "h").withColumn("_keep", is_first)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1)).alias("n_dup_spans"),
        F.sum(F.when(F.col("_keep"), F.col("n_tok")).otherwise(0)).alias(
            "kept_tokens"
        ),
    )


@register(
    "embed_quantize_int8",
    oracle="""
    WITH t AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        FROM t
    ),
    q AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> floor(x / scale + 0.5)) AS qv
        FROM s WHERE scale > 0
    )
    SELECT vec_id,
           round(scale, 6) AS scale_r6,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS sum_qabs,
           CAST(len(list_filter(qv, x -> abs(x) >= 127)) AS BIGINT) AS n_sat,
           round(1e9 * list_sum(list_transform(range(len(v)),
                 i -> pow(v[i+1] - qv[i+1] * scale, 2))) / len(v), 3) AS mse_e9
    FROM q
    """,
    doc="Symmetric int8 quantization of the embedding column — the "
    "compression step before vectors ship to an ANN index (4× smaller, "
    "SIMD-friendly). Per vector: scale = max|v|/127, q = round-half-up"
    "(v/scale); output is the quantization audit — rounded scale, the "
    "EXACT integer sum of |q| (an order-independent witness the "
    "cross-engine hash can trust bit-for-bit), saturated-lane count, "
    "and reconstruction MSE. All arithmetic is native array expressions "
    "(transform/aggregate/filter) inside whole-stage codegen: zero "
    "Python, zero shuffle — a pure map over the vector table that "
    "scales embarrassingly to 100 TB. floor(x+0.5) is spelled "
    "explicitly in BOTH engines because their round() builtins disagree "
    "on half-way cases; IEEE ops in identical order make the doubles "
    "bit-identical.",
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    t = emb.select("vec_id", v.alias("v"))
    scale = F.array_max(F.transform(F.col("v"), F.abs)) / F.lit(127.0)
    s = t.select("vec_id", "v", scale.alias("scale")).filter(F.col("scale") > 0)
    qv = F.transform(F.col("v"), lambda x: F.floor(x / F.col("scale") + 0.5))
    q = s.select("vec_id", "v", "scale", qv.alias("qv"))
    sum_qabs = F.aggregate(
        F.transform(F.col("qv"), F.abs), F.lit(0.0), lambda a, x: a + x
    ).cast("long")
    n_sat = F.size(F.filter(F.col("qv"), lambda x: F.abs(x) >= 127)).cast("long")
    sq_err = F.aggregate(
        F.zip_with(
            F.col("v"), F.col("qv"), lambda x, qx: F.pow(x - qx * F.col("scale"), 2)
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return q.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_r6"),
        sum_qabs.alias("sum_qabs"),
        n_sat.alias("n_sat"),
        F.round(F.lit(1e9) * sq_err / F.size("v"), 3).alias("mse_e9"),
    )


@register(
    "corpus_mix_plan",
    oracle=f"""
    WITH t AS (SELECT source, len({SQL_TOKENS}) AS n_tok FROM documents),
    s AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM t GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_src
        FROM s
    )
    SELECT source, n_docs, n_tokens,
           round(n_tokens / (total * 1.0), 6) AS share,
           round(least(1.0, (total / (n_src * 1.0)) / n_tokens), 6) AS sample_rate,
           CAST(floor(least(1.0, (total / (n_src * 1.0)) / n_tokens) * n_tokens)
                AS BIGINT) AS planned_tokens
    FROM s, tot
    """,
    doc="Data-mixing plan: per-source token accounting plus the "
    "sampling rate that flattens the mix to a uniform per-source token "
    "budget (over-represented sources downsample; under-budget sources "
    "keep rate 1.0 — no upsampling). This is the arithmetic a "
    "pretraining run's sampler is configured from. Plan: one partial-"
    "aggregated shuffle on source (~20 groups), a single-row broadcast "
    "of the corpus totals, pure expression arithmetic after — at 100 TB "
    "the only data-sized cost is the first aggregate's scan; everything "
    "downstream is metadata-sized.",
)
def corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    s = docs.select("source", F.size(TX.tokens(F.col("text"))).alias("n_tok")).groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    tot = s.agg(
        F.sum("n_tokens").alias("total"), F.count(F.lit(1)).alias("n_src")
    )
    budget = F.col("total") / (F.col("n_src") * F.lit(1.0))
    rate = F.least(F.lit(1.0), budget / F.col("n_tokens"))
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / (F.col("total") * F.lit(1.0)), 6).alias("share"),
        F.round(rate, 6).alias("sample_rate"),
        F.floor(rate * F.col("n_tokens")).cast("long").alias("planned_tokens"),
    )


@register(
    "events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
          AND e.ts <= v.t_view + INTERVAL 12 HOUR
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_buy
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          AND e.ts <= c.t_click + INTERVAL 12 HOUR
        GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase
    """,
    doc="Ordered conversion funnel: users whose event history contains "
    "view → click → purchase with STRICTLY increasing timestamps, each "
    "stage within 12 hours of the previous stage's anchor (each stage "
    "anchored at the earliest qualifying event — not mere per-type "
    "existence, which would count a purchase that preceded the first "
    "view; the attribution window keeps the funnel discriminative, "
    "150→37→7 at sf0.01, instead of saturating). Classic product-"
    "analytics shape the events table exists for. Plan: three "
    "conditional-MIN aggregates, each a type-filtered scan (the "
    "event_type predicate pushes to parquet) shuffled on user_id; "
    "stage N+1 joins stage N's per-user anchor — all three joins "
    "share the user_id partitioning, so AQE reuses the exchange. At "
    "100 TB the per-stage state is one row per user, never per event.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    window = F.expr("INTERVAL 12 HOURS")
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + window)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + window)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    return nv.crossJoin(nc).crossJoin(np_)


@register(
    "corpus_build_pipeline",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, text, {SQL_TOKENS} AS toks,
               md5({SQL_NORMALIZED}) AS fp
        FROM documents
    ),
    k AS (
        SELECT t.*, MIN(doc_id) OVER (PARTITION BY fp) AS keeper FROM t
    ),
    m AS (
        SELECT doc_id, source, len(toks) AS n_tok,
               {sql_hits(TX.STOPWORDS["en"])} AS stop_hits,
               length(text) AS n_chars_,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                   AS punct_chars,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                   AS digit_chars,
               (doc_id = keeper) AS is_keeper
        FROM k
    ),
    q AS (
        SELECT doc_id, source, n_tok, is_keeper,
               greatest(least(({_SQL_QUALITY}), 1.0), 0.0) AS score
        FROM m
    ),
    stages AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_raw,
               CAST(COUNT(*) FILTER (is_keeper) AS BIGINT) AS n_unique,
               CAST(COUNT(*) FILTER (is_keeper AND score >= 0.5) AS BIGINT)
                   AS n_final
        FROM q GROUP BY source
    ),
    surv AS (
        SELECT doc_id, source, n_tok FROM q WHERE is_keeper AND score >= 0.5
    ),
    c AS (
        SELECT source, n_tok,
               SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM surv
    ),
    packed AS (
        SELECT source,
               CAST(SUM(n_tok) AS BIGINT) AS final_tokens,
               CAST(COUNT(DISTINCT CAST(FLOOR((cum - n_tok) / {PACK_BUDGET})
                   AS BIGINT)) AS BIGINT) AS n_bins
        FROM c GROUP BY source
    )
    SELECT stages.source, n_raw, n_unique, n_final,
           coalesce(final_tokens, 0) AS final_tokens,
           coalesce(n_bins, 0) AS n_bins
    FROM stages LEFT JOIN packed ON stages.source = packed.source
    """,
    doc="The end-to-end corpus build as ONE Catalyst plan — the "
    "composite this whole extension surface exists for: exact dedup "
    "(corpus-wide md5 keeper resolution) → quality filter (the scored "
    "funnel's ≥0.5 gate) → greedy sequence packing of the survivors, "
    "reported as per-source stage survival (n_raw ≥ n_unique ≥ "
    "n_final) plus final token mass and packed-bin count. Every stage "
    "reuses the exact formula its standalone query pins (fingerprint = "
    "dedup_exact's, score = text_quality_scores', bins = "
    "corpus_pack_sequences'), so the composite cannot drift from its "
    "parts. Plan: one corpus scan feeds keeper resolution (hot-key-"
    "safe groupBy + rejoin), the quality expressions ride the same "
    "projection, survivors run the scale-safe bucketed prefix sum "
    "(operators/skew.py) — never a per-source single-task window — "
    "and two small aggregates join on source at the end.",
)
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kingsfoil_seed_data_ingestor_spark.operators.caching import CacheScope

    scope = CacheScope()
    docs = load(spark, sf_dir, "documents")
    # persisted (optimization round 11): the projection below is the
    # expensive part of the whole pipeline — md5 fingerprint over
    # normalized text, tokenization, and the quality-score regexes,
    # all corpus-wide — and the un-persisted diamond (base feeds the
    # keeper aggregate AND the rejoin; staged feeds the stage counts
    # AND the survivor filter) re-evaluated it up to 4×. Both cached
    # tables are NARROW (ids + smallints, never text), so the
    # spillable cache holds ~40 B/row at any corpus size while saving
    # three corpus-wide text passes (measured sf0.1: 1.9 → 1.2 s
    # warm; formatted plan: 6 parquet scans → 1).
    base = scope.persist(
        docs.select(
            "doc_id",
            "source",
            TX.content_fingerprint(F.col("text")).alias("fp"),
            F.size(TX.tokens(F.col("text"))).alias("n_tok"),
            TX.quality_score(F.col("text")).alias("score"),
        )
    )
    keepers = base.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    # keeper resolution stays the hot-key-safe groupBy + rejoin (AQE
    # splits a skewed fp at the join; a min-over-fp window could not)
    staged = scope.persist(
        base.join(keepers, "fp").withColumn(
            "is_keeper", F.col("doc_id") == F.col("keeper")
        )
    )
    stages = staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(F.col("is_keeper"), 1).otherwise(0)).alias("n_unique"),
        F.sum(
            F.when(F.col("is_keeper") & (F.col("score") >= 0.5), 1).otherwise(0)
        ).alias("n_final"),
    )
    surv = staged.filter(F.col("is_keeper") & (F.col("score") >= 0.5)).select(
        "doc_id", "source", "n_tok"
    )
    cum = SK.bucketed_prefix_sum(
        surv, partition_by=["source"], order_col="doc_id", val_col="n_tok"
    )
    packed = (
        cum.withColumn(
            "bin_id",
            F.floor((F.col("cum") - F.col("n_tok")) / PACK_BUDGET).cast("long"),
        )
        .groupBy("source")
        .agg(
            F.sum("n_tok").alias("final_tokens"),
            F.count_distinct(F.col("bin_id")).alias("n_bins"),
        )
    )
    return scope.attach(
        stages.join(packed, "source", "left").select(
            "source",
            "n_raw",
            "n_unique",
            "n_final",
            F.coalesce("final_tokens", F.lit(0)).alias("final_tokens"),
            F.coalesce("n_bins", F.lit(0)).alias("n_bins"),
        )
    )


@register(
    "profile_column_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS d_partkey,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS d_suppkey,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS d_returnflag,
           CAST(COUNT(DISTINCT l_shipdate) AS BIGINT) AS d_shipdate,
           CAST(MIN(l_quantity) AS BIGINT) AS min_qty,
           CAST(MAX(l_quantity) AS BIGINT) AS max_qty,
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_returnflag
    FROM lineitem
    """,
    doc="One-pass multi-column profile of the fact table: exact "
    "distinct cardinalities for four columns plus min/max/null counts "
    "— the reference's A2/A5 profiling shape widened to the "
    "warehouse-canonical 'column stats' report a query optimizer or "
    "data catalog ingests. Multiple COUNT(DISTINCT)s compile to "
    "Spark's Expand operator: one scan fans each row into one stream "
    "per distinct-aggregate, partial-aggregated map-side — n "
    "distincts cost one shuffle of pre-deduplicated keys, not n scans. "
    "At 100 TB swap exact distincts for approx_count_distinct (HLL) "
    "per the same plan shape; kept exact here so the cross-engine "
    "hash stays bit-deterministic (sketch implementations differ).",
)
def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("l_partkey")).alias("d_partkey"),
        F.count_distinct(F.col("l_suppkey")).alias("d_suppkey"),
        F.count_distinct(F.col("l_returnflag")).alias("d_returnflag"),
        F.count_distinct(F.col("l_shipdate")).alias("d_shipdate"),
        F.min("l_quantity").cast("long").alias("min_qty"),
        F.max("l_quantity").cast("long").alias("max_qty"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)).alias(
            "null_returnflag"
        ),
    )


@register(
    "events_cube_hourly",
    oracle="""
    WITH e AS (SELECT event_type, hour(ts) AS hr, value FROM events)
    SELECT event_type, CAST(hr AS BIGINT) AS hr,
           CAST(GROUPING(event_type) AS INTEGER) AS g_type,
           CAST(GROUPING(hr) AS INTEGER) AS g_hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(24,6)) AS DOUBLE)
               AS sum_value
    FROM e GROUP BY CUBE(event_type, hr)
    """,
    doc="CUBE over (event_type, hour-of-day): all four grouping sets — "
    "per-cell, per-type, per-hour, grand total — in ONE pass with "
    "GROUPING() indicators disambiguating aggregation NULLs from data "
    "NULLs (the §2.7 completeness twin of rollup_doc_counts, which "
    "pins ROLLUP). Value sums go through exact decimal so the "
    "cross-engine hash never rests on float association order. Plan: "
    "Spark expands the cube map-side and aggregates all sets in one "
    "shuffle — 4× the partial-aggregate rows, not 4 scans; at 100 TB "
    "prefer explicit GROUPING SETS over high-arity cubes (2^n sets).",
)
def events_cube_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr"), F.col("value").cast(DEC).alias("v")
    )
    return (
        ev.cube("event_type", "hr")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("hr").cast("int").alias("g_hr"),
            F.count(F.lit(1)).alias("n"),
            exact_double(F.sum("v")).alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("hr").cast("long").alias("hr"),
            "g_type",
            "g_hr",
            "n",
            "sum_value",
        )
    )


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 300
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape (large-volume customers): aggregate the fact "
    "table FIRST (HAVING on the grouped sum), then join the surviving "
    "handful of orders to their dimensions — the agg-before-join "
    "ordering that turns a fact⋈fact problem into a tiny-probe join. "
    "l_quantity is integral-valued, so the BIGINT-cast sum is exact "
    "and the HAVING threshold cannot sit on a float boundary. Plan: "
    "one map-side-combined shuffle on orderkey; the filtered big-order "
    "table broadcasts into both dimension joins; top-20 runs as "
    "TakeOrdered. At 100 TB the same ordering holds — never join "
    "lineitem to orders before reducing it.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 300)
        .select("l_orderkey", F.col("_q").cast("long").alias("total_qty"))
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        F.broadcast(big)
        .join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * CAST(1 - l_discount AS DECIMAL(7,4))) AS DECIMAL(24,6))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 shape: the six-way join — lineitem ⋈ orders ⋈ "
    "customer ⋈ supplier ⋈ nation ⋈ region with the classic "
    "'customer and supplier in the SAME nation' local-volume "
    "constraint and a region + date slice. The canonical multi-join "
    "optimizer benchmark: join ORDER is everything. Plan: region "
    "filters nation (broadcast of a 5-row and 25-row table), the date "
    "filter pushes into the orders scan, and each dimension broadcasts "
    "into the fact spine so lineitem is touched by exactly one pass of "
    "broadcast-hash joins — zero sort-merge, one aggregate shuffle of "
    "25 nation groups. Revenue in exact decimal (q1's trick). At "
    "100 TB customer/supplier outgrow broadcast; the orderkey and "
    "suppkey joins fall back to shuffles the fact side already "
    "co-partitions, and nation/region stay broadcast.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = (
        load(spark, sf_dir, "nation")
        .join(
            load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    orders = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    price = F.col("l_extendedprice").cast(DEC)
    disc_f = (F.lit(1) - F.col("l_discount")).cast("decimal(7,4)")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("n_name")
        .agg(exact_double(F.sum(price * disc_f)).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * CAST(1 - l_discount AS DECIMAL(7,4))) AS DECIMAL(24,6))
                AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item reporting): the lost-revenue-"
    "per-customer ranking — returnflag-filtered fact ⋈ date-sliced "
    "orders ⋈ customer ⋈ nation, grouped by customer, top-20. "
    "Complements Q3/Q5/Q18: here the GROUP BY key is high-cardinality "
    "(every customer), so the aggregate genuinely shuffles rather than "
    "collapsing map-side, and the top-20 still runs as TakeOrdered on "
    "the aggregated rows. Both filters push to their scans; dims "
    "broadcast; revenue in exact decimal.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    price = F.col("l_extendedprice").cast(DEC)
    disc_f = (F.lit(1) - F.col("l_discount")).cast("decimal(7,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            exact_double(F.sum(price * disc_f)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "events_user_gaps",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM g GROUP BY user_id
    """,
    doc="Per-user inter-event gaps via lag(): the §2.5 window surface "
    "beyond ranking/frames — offset functions over an event-time "
    "order. Ties on ts break on event_id so the lag sequence is "
    "deterministic in BOTH engines (same-timestamp events would "
    "otherwise order arbitrarily and the gap sums would diverge); all "
    "outputs are exact epoch-microsecond integers, no float in sight. "
    "Plan: one shuffle on user_id feeds both the window and the "
    "following aggregate (same partitioning, no second exchange). At "
    "100 TB per-user history is the unit of locality — skewed users "
    "are bounded by retention, not corpus size.",
)
def events_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    # events.ts loads as TIMESTAMP_NTZ; the session zone is pinned UTC
    # (session.py / pin_comparable_conf), so the NTZ→LTZ cast is a
    # relabel, not a shift, and epoch micros match DuckDB's epoch_us
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("gap_us").alias("sum_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@register(
    "corpus_mix_apply",
    oracle=f"""
    WITH t AS (
        SELECT source, len({SQL_TOKENS}) AS n_tok,
               CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS h32
        FROM documents
    ),
    s AS (
        SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM t GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_src
        FROM s
    ),
    r AS (
        SELECT source,
               least(1.0, (total / (n_src * 1.0)) / n_tokens) AS rate
        FROM s, tot
    ),
    kept AS (
        SELECT t.source, t.n_tok
        FROM t JOIN r ON t.source = r.source
        WHERE t.h32 < CAST(floor(r.rate * 4294967296.0) AS BIGINT)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source
    """,
    doc="The mix plan APPLIED: each source's uniform-budget rate "
    "(exactly corpus_mix_plan's arithmetic) drives the deterministic "
    "md5-threshold sampler — a doc survives iff the first 32 bits of "
    "its content hash fall under floor(rate·2³²). Unlike "
    "sample_stratified's fixed config rates, the rates here are "
    "DATA-DERIVED inside the query, so plan and application cannot "
    "disagree; the hash comparison is integer-exact in both engines "
    "(rate = 1.0 ⇒ threshold 2³² keeps everything, no edge case). "
    "Plan: one aggregate for the rate table (broadcast back — ~20 "
    "rows), one filtered re-scan, one reporting aggregate; the "
    "sampled SET is identical across runs and engines, which is what "
    "makes training mixes reproducible.",
)
def corpus_mix_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        F.size(TX.tokens(F.col("text"))).alias("n_tok"),
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long").alias("h32"),
    )
    s = t.groupBy("source").agg(F.sum("n_tok").alias("n_tokens"))
    tot = s.agg(F.sum("n_tokens").alias("total"), F.count(F.lit(1)).alias("n_src"))
    rate = F.least(
        F.lit(1.0), (F.col("total") / (F.col("n_src") * F.lit(1.0))) / F.col("n_tokens")
    )
    r = s.crossJoin(F.broadcast(tot)).select("source", rate.alias("rate"))
    kept = t.join(F.broadcast(r), "source").filter(
        F.col("h32") < F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long")
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tok").alias("tokens_kept"),
    )


def _sql_sem_exact_referee(cap: int) -> str:
    from kingsfoil_seed_data_ingestor_spark.plans.llm import _sql_referee_src

    return sql_closure(
        f"""
    WITH src AS MATERIALIZED (
        SELECT * FROM {_sql_referee_src(cap)}
    )
    SELECT i.vec_id AS i, j.vec_id AS j
    FROM src i JOIN src j ON i.vec_id < j.vec_id
    WHERE {LLM_SQL_EMBED_COS} >= {LLM_EMBED_DUP_THRESHOLD}
    """,
        "vec_id",
        "cluster_id",
    )


def _sem_exact_referee(spark: SparkSession, sf_dir: str, cap: int) -> DataFrame:
    from kingsfoil_seed_data_ingestor_spark.operators import components as CC
    from kingsfoil_seed_data_ingestor_spark.operators import similarity as SIM
    from kingsfoil_seed_data_ingestor_spark.operators.caching import CacheScope
    from kingsfoil_seed_data_ingestor_spark.plans.llm import (
        EMBED_DUP_THRESHOLD,
        referee_capped,
    )

    scope = CacheScope()
    pairs = SIM.near_dup_pairs_exact(
        referee_capped(load(spark, sf_dir, "embeddings"), cap),
        EMBED_DUP_THRESHOLD,
        scope=scope,
    ).select(F.col("kept_id").alias("i"), F.col("dup_id").alias("j"))
    out = CC.connected_components(pairs, src="i", dst="j", scope=scope).select(
        F.col("doc_id").alias("vec_id"), F.col("component_id").alias("cluster_id")
    )
    return scope.attach(out)


@register(
    "dedup_semantic_clusters",
    oracle=_sql_sem_exact_referee(LLM_REFEREE_CAP_N),
    doc="Semantic duplicate clusters: connected components over the "
    "EMBEDDING near-dup graph — text-side components "
    "(dedup_components) catch lexical copies; this catches "
    "paraphrase-level duplication that shares no shingles. Spark side "
    "composes two already-oracle-gated operators: the block-grid exact "
    "cosine pair table feeds the same min-label-propagation components "
    "operator, so only the composition is new. The oracle recomputes "
    "the closure over the brute-force cosine graph (recursive CTE, "
    "pair table MATERIALIZED). This is the EXACT REFEREE; the "
    "registered 100 TB path is dedup_semantic_clusters_auto, which "
    "swaps pair generation to N-aware banded candidates — same "
    "downstream closure, recall pinned against this variant in pytest. "
    "Input capped to the REFEREE_CAP_N lowest vec_ids identically in "
    "both engines (VERDICT r10 #4): O(1)-in-sf referee cost, no bite "
    "at driver SFs.",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sem_exact_referee(spark, sf_dir, LLM_REFEREE_CAP_N)


# ----------------------------------------------------------------------
# blocked (sub-quadratic) semantic clustering — round 6
# ----------------------------------------------------------------------
#
# The 100 TB composition the r5 verdict asked for: duplicate-graph edges
# from RHP-banded LSH candidates + exact cosine rescore (compute ~linear
# in N), never the all-pairs block GEMM. Why this query does NOT simply
# re-run `dedup_semantic_clusters` through `near_dup_pairs_rhp` at the
# same 0.42 threshold: sign-RHP collision probability per plane is
# 1-θ/π, and at cosine 0.42 (θ≈65°) that is 0.64 vs 0.50 for unrelated
# pairs — measured edge recall of the 16-plane/4-band family is 0.41 at
# sf0.001 / 0.50 at sf0.01, and NO banding of any size clears 0.9
# recall there without admitting an Ω(N²) candidate set (the standard
# S-curve 1-(1-p^r)^b is ~flat when p_near ≈ p_random). 0.42 was chosen
# for the *exact* referee because the synthetic corpus has no true
# near-dups (max pair cosine ≈ 0.51 at sf0.1); production semantic
# dedup clusters at cosine ≥ 0.85 where banding is sharp. So, following
# the planted-leak pattern of `text_decontaminate`, this query PLANTS
# the near-dup structure deterministically in-plan, identically in both
# engines: each vector gets two scaled twins (front half ×1.25, back
# half ×1.25 — float→double and ×1.25 are exact in IEEE754, so the
# augmented table is bit-identical cross-engine). Twin cosines land at
# ≈0.97-0.99, cross-document pairs stay ≤≈0.55, and the 32-plane/
# 4-band×8-bit family reads them apart: per-band collision ≈0.66 for
# twins vs 1/256 for unrelated pairs ⇒ pair recall ≈0.99 with ~1.5 % of
# random pairs as candidates. pytest pins edge recall ≥ 0.9 against the
# exact GEMM referee on the same augmented table and the cluster
# refinement invariant (tests/test_llm_ops.py).

SEM_BANDS, SEM_ROWS_PER_BAND, SEM_DIM = 4, 8, 64
SEM_N_PLANES = SEM_BANDS * SEM_ROWS_PER_BAND
SEM_THRESHOLD = 0.85
SEM_TWIN_A, SEM_TWIN_B = 10_000_000, 20_000_000
SEM_PLANES = SIM.rhp_sign_planes(SEM_N_PLANES, SEM_DIM)


_SQL_SEM_BASE = "list_transform(range(len(embedding)), i -> embedding[i+1]::DOUBLE)"
_SQL_SEM_TWIN_A = (
    "list_transform(range(len(embedding)), i -> CASE WHEN i < 32 "
    "THEN embedding[i+1]::DOUBLE * 1.25 ELSE embedding[i+1]::DOUBLE END)"
)
_SQL_SEM_TWIN_B = (
    "list_transform(range(len(embedding)), i -> CASE WHEN i >= 32 "
    "THEN embedding[i+1]::DOUBLE * 1.25 ELSE embedding[i+1]::DOUBLE END)"
)


def semantic_augmented(
    spark: SparkSession, sf_dir: str, cap: int | None = None
) -> DataFrame:
    """The planted-twin table: originals (cast to double) plus two
    deterministic scaled twins per vector, ids offset so min-label
    components label each cluster with its original vec_id. ``cap``
    restricts the BASE table to the lowest-id rows before augmentation
    (the referee-cap path, VERDICT r10 #4)."""
    emb = load(spark, sf_dir, "embeddings")
    if cap is not None:
        from kingsfoil_seed_data_ingestor_spark.plans.llm import referee_capped

        emb = referee_capped(emb, cap)
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    def twin(offset: int, cond: str) -> DataFrame:
        # executor-side guard: a corpus with vec_id >= SEM_TWIN_A would
        # silently collide twin ids with real vectors — identically in
        # both engines, so the oracle hash could never catch it; fail
        # the query loudly instead of corrupting planted-cluster labels
        guarded = F.expr(
            f"CASE WHEN vec_id >= {SEM_TWIN_A} THEN CAST(raise_error("
            f"'semantic_augmented: vec_id >= {SEM_TWIN_A} collides with "
            f"planted twin ids') AS BIGINT) ELSE vec_id END"
        )
        return emb.select(
            (guarded + F.lit(offset)).alias("vec_id"),
            F.expr(
                f"transform(embedding, (x, i) -> CASE WHEN {cond} "
                "THEN CAST(x AS DOUBLE) * 1.25D ELSE CAST(x AS DOUBLE) END)"
            ).alias("embedding"),
        )
    return base.unionByName(twin(SEM_TWIN_A, "i < 32")).unionByName(
        twin(SEM_TWIN_B, "i >= 32")
    )


def _sql_sem_blocked_referee(cap: int) -> str:
    from kingsfoil_seed_data_ingestor_spark.plans.llm import _sql_referee_src

    return sql_closure(
        f"""
    WITH src AS MATERIALIZED (
        SELECT * FROM {_sql_referee_src(cap)}
    ),
    aug AS MATERIALIZED (
        SELECT vec_id, {_SQL_SEM_BASE} AS embedding FROM src
        UNION ALL
        SELECT vec_id + {SEM_TWIN_A}, {_SQL_SEM_TWIN_A} FROM src
        UNION ALL
        SELECT vec_id + {SEM_TWIN_B}, {_SQL_SEM_TWIN_B} FROM src
    ),
    bits AS MATERIALIZED (
        SELECT vec_id, embedding,
               {", ".join(f"{sql_rhp_bucket(SEM_PLANES, b, SEM_ROWS_PER_BAND)} AS b{b}" for b in range(SEM_BANDS))}
        FROM aug
    )
    SELECT a.vec_id AS i, b.vec_id AS j
    FROM bits a JOIN bits b
      ON a.vec_id < b.vec_id
     AND ({" OR ".join(f"a.b{b} = b.b{b}" for b in range(SEM_BANDS))})
    WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {SEM_THRESHOLD}
    """,
        "vec_id",
        "cluster_id",
    )


def _sem_blocked_referee(spark: SparkSession, sf_dir: str, cap: int) -> DataFrame:
    from kingsfoil_seed_data_ingestor_spark.operators import components as CC
    from kingsfoil_seed_data_ingestor_spark.operators.caching import CacheScope

    scope = CacheScope()
    # persist the augmented table: the banding scan and the normed
    # rejoin scan would otherwise each recompute the per-element twin
    # transforms (interpreted HOF lambdas — see rhp_banded's note)
    aug = scope.persist(semantic_augmented(spark, sf_dir, cap=cap))
    pairs = SIM.near_dup_pairs_rhp(
        aug,
        SEM_THRESHOLD,
        n_planes=SEM_N_PLANES,
        bands=SEM_BANDS,
        dim=SEM_DIM,
        scope=scope,
    ).select(F.col("kept_id").alias("i"), F.col("dup_id").alias("j"))
    out = CC.connected_components(pairs, src="i", dst="j", scope=scope).select(
        F.col("doc_id").alias("vec_id"), F.col("component_id").alias("cluster_id")
    )
    return scope.attach(out)


@register(
    "dedup_semantic_clusters_blocked",
    # the round-8 scaling curves (SCALING_r8.json) measured this FIXED
    # 4-band×8-bit family's candidate mass at growth exponent 2.00.
    # dedup_semantic_clusters_auto is the production successor: same
    # augmentation/rescore/closure, band width derived from COUNT(*)
    # identically in both engines. This variant stays registered as the
    # fixed-band referee, with its input capped to the REFEREE_CAP_N
    # lowest vec_ids in both engines so referee cost is O(1) in sf.
    oracle=_sql_sem_blocked_referee(LLM_REFEREE_CAP_N),
    doc="Sub-quadratic semantic duplicate clustering — the 100 TB "
    "composition: RHP-banded LSH candidates (32 deterministic ±1 "
    "hyperplanes → 4 bands × 8 sign bits) + exact cosine rescore feed "
    "min-label-propagation connected components; the all-pairs block "
    "GEMM never runs. Near-dup structure is PLANTED deterministically "
    "in-plan (two ×1.25 half-scaled twins per vector, exact IEEE754 "
    "arithmetic in both engines) because the synthetic corpus has no "
    "true near-dups in the ≥0.85 regime where LSH banding is sharp — "
    "see the module comment for the S-curve math ruling out a "
    "sub-quadratic candidate generator at the exact referee's 0.42 "
    "tail threshold. The oracle applies the SAME augmentation, "
    "banding, rescore, and recursive closure brute-force, so candidate "
    "generation, verification, and clustering are all hash-pinned; "
    "pytest additionally pins edge recall ≥0.9 and cluster refinement "
    "vs the exact GEMM referee. Input capped to the REFEREE_CAP_N "
    "lowest vec_ids identically in both engines (VERDICT r10 #4): "
    "O(1)-in-sf referee cost, no bite at driver SFs.",
)
def dedup_semantic_clusters_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    # adaptive components (min-label prefix → star fallback) inside the
    # referee helper: the planted twin graph is near-clique, so the
    # prefix converges in its init hop; the star fallback guarantees
    # bounded rounds if a real corpus ever produces chained clusters
    # (see dedup_components_chain for the pure-star path under the
    # driver's oracle gate)
    return _sem_blocked_referee(spark, sf_dir, LLM_REFEREE_CAP_N)


# ----------------------------------------------------------------------
# N-aware (masked-band) semantic clustering — round 9
# ----------------------------------------------------------------------
#
# VERDICT r8 #1: the fixed 4×8 banding above measures candidate growth
# exponent 2.00 (3 252 → 3.57 M candidates for 600 → 20 k vectors,
# SCALING_r8.json) — fine at oracle SFs, disqualifying at 100 TB. The
# scale-safe rule is r = Θ(log N): holding random collision mass at
# `target` candidates per vector needs 2^r ≳ bands·N/target. This
# registered family applies that rule in a form BOTH engines can
# compute from the data itself at runtime:
#
# * a fixed plane POOL (8 bands × 24 bits = 192 deterministic md5-parity
#   ±1 hyperplanes) is baked into the plan AND the oracle SQL as
#   compile-time literals;
# * each band's bucket is the full 24-bit sign word MASKED to the low
#   r bits, where r = min r ∈ [4, 24] with 2^r·16 ≥ 8·N — pure integer
#   arithmetic over a COUNT(*) scalar (operators/similarity.
#   rhp_mask_bits on the Spark side, a `MIN(r) FROM range(...)` scalar
#   subquery in DuckDB), so there is no float/log2 boundary hazard and
#   the two engines derive the identical family at every SF.
#
# Candidate mass under the uniform-bucket model is then ≤ target·N at
# every size (measured: tests/test_scaling_slopes.py gates the
# registered family's candidate exponent ≤ 1.3 on the scaling corpus,
# and pytest pins planted-twin recall ≥ 0.9). Band COUNT stays fixed at
# 8 — recall on the planted ×1.25 twins (cosine ≈ 0.975-0.994) holds
# ≥ 0.95 through r = 20 (p_plane ≈ 0.96 ⇒ p_band = p^r ≈ 0.49 at r=20 ⇒
# 1-(1-p_band)^8 ≈ 0.995); the pool cap r ≤ 24 covers ~33 M vectors,
# beyond which production runs take near_dup_pairs_rhp_auto (unbounded
# b AND r, no oracle).

SEM_AUTO_BANDS, SEM_AUTO_MAX_R, SEM_AUTO_TARGET = 8, 24, 16
SEM_AUTO_PLANES = SIM.rhp_sign_planes(SEM_AUTO_BANDS * SEM_AUTO_MAX_R, SEM_DIM)

@register(
    "dedup_semantic_clusters_auto",
    oracle=sql_closure(
        f"""
    WITH aug AS MATERIALIZED (
        SELECT vec_id, {_SQL_SEM_BASE} AS embedding FROM embeddings
        UNION ALL
        SELECT vec_id + {SEM_TWIN_A}, {_SQL_SEM_TWIN_A} FROM embeddings
        UNION ALL
        SELECT vec_id + {SEM_TWIN_B}, {_SQL_SEM_TWIN_B} FROM embeddings
    ),
    params AS MATERIALIZED (
        SELECT CAST(COALESCE(MIN(r), {SEM_AUTO_MAX_R}) AS INT) AS r
        FROM range(4, {SEM_AUTO_MAX_R + 1}) t(r)
        WHERE (CAST(1 AS BIGINT) << r) * {SEM_AUTO_TARGET}
              >= {SEM_AUTO_BANDS} * 3 * (SELECT COUNT(*) FROM embeddings)
    ),
    bits AS MATERIALIZED (
        SELECT vec_id, embedding,
               {", ".join(f"{sql_rhp_auto_bucket(SEM_AUTO_PLANES, b, SEM_AUTO_MAX_R)} AS b{b}" for b in range(SEM_AUTO_BANDS))}
        FROM aug
    )
    SELECT a.vec_id AS i, b.vec_id AS j
    FROM bits a JOIN bits b
      ON a.vec_id < b.vec_id
     AND ({" OR ".join(f"a.b{b} = b.b{b}" for b in range(SEM_AUTO_BANDS))})
    WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {SEM_THRESHOLD}
    """,
        "vec_id",
        "cluster_id",
    ),
    doc="N-AWARE sub-quadratic semantic duplicate clustering — the "
    "registered 100 TB family (VERDICT r8 #1). Identical planted-twin "
    "augmentation, exact-cosine rescore, and min-label closure as "
    "dedup_semantic_clusters_blocked, but the LSH band width GROWS "
    "with the corpus: each of 8 bands hashes to a 24-bit sign word "
    "over a fixed 192-plane pool, masked to its low r bits with "
    "r = min{r in [4,24] : 2^r*16 >= 8*N} — integer arithmetic both "
    "engines evaluate from COUNT(*) at runtime, so the oracle verifies "
    "candidate generation, rescore, and clustering of the SAME family "
    "the engine would run at any size (r = 8/10/12 at sf0.001/0.01/"
    "0.1). Random collision mass stays ≤ 16·N candidates by "
    "construction; tests/test_scaling_slopes.py gates the measured "
    "candidate exponent ≤ 1.3 with planted-twin recall ≥ 0.9, vs the "
    "fixed family's measured 2.00 (SCALING_r8.json).",
)
def dedup_semantic_clusters_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kingsfoil_seed_data_ingestor_spark.operators import components as CC
    from kingsfoil_seed_data_ingestor_spark.operators.caching import CacheScope

    scope = CacheScope()
    aug = scope.persist(semantic_augmented(spark, sf_dir))
    # the sizing count reads the raw table's parquet metadata (aug is
    # exactly 3 rows per source row by construction) — no scan, and the
    # same 3·COUNT(*) scalar the oracle SQL computes
    n = 3 * load(spark, sf_dir, "embeddings").count()
    r = SIM.rhp_mask_bits(
        n, SEM_AUTO_BANDS, SEM_AUTO_TARGET, lo=4, hi=SEM_AUTO_MAX_R
    )
    pairs = SIM.near_dup_pairs_rhp(
        aug,
        SEM_THRESHOLD,
        n_planes=SEM_AUTO_BANDS * SEM_AUTO_MAX_R,
        bands=SEM_AUTO_BANDS,
        dim=SEM_DIM,
        scope=scope,
        bucket_mask=(1 << r) - 1,
    ).select(F.col("kept_id").alias("i"), F.col("dup_id").alias("j"))
    out = CC.connected_components(pairs, src="i", dst="j", scope=scope).select(
        F.col("doc_id").alias("vec_id"), F.col("component_id").alias("cluster_id")
    )
    return scope.attach(out)


@register(
    "events_hourly_anomaly",
    oracle="""
    WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, hr
    ),
    w AS (
        SELECT event_type, hr, n,
               CAST(SUM(n) OVER (
                   PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING
               ) AS BIGINT) AS trail_sum,
               CAST(COUNT(*) OVER (
                   PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING
               ) AS BIGINT) AS trail_n
        FROM h
    )
    SELECT event_type, hr, n, trail_sum,
           round(n - trail_sum / (trail_n * 1.0), 6) AS deviation
    FROM w
    WHERE trail_n = 24 AND abs(n - trail_sum / (trail_n * 1.0)) > 5
    """,
    doc="Hourly volume anomalies per event type: each (type, hour) "
    "bucket compared against its TRAILING 24-observed-bucket mean — "
    "the moving-frame window shape (ROWS BETWEEN k PRECEDING AND 1 "
    "PRECEDING) that monitoring pipelines run, and the one §2.5 frame "
    "spec the running-total query doesn't cover. The frame counts "
    "observed buckets, not wall-clock hours, so gaps shrink the "
    "baseline instead of silently zero-filling (trail_n = 24 gates "
    "fully-warmed windows only). deviation is exact-integer arithmetic "
    "over bucket counts, rounded once for the hash. Plan: one "
    "pre-aggregate to hourly buckets (the only data-sized shuffle), "
    "then the window runs over ~hours×types rows — metadata-sized at "
    "any corpus scale; per-type partitions are bounded by the "
    "retention horizon, never by event volume.",
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    h = ev.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy("hr").rowsBetween(-24, -1)
    t = h.select(
        "event_type",
        "hr",
        "n",
        F.sum("n").over(w).alias("trail_sum"),
        F.count(F.lit(1)).over(w).alias("trail_n"),
    )
    dev = F.col("n") - F.col("trail_sum") / (F.col("trail_n") * F.lit(1.0))
    return (
        t.filter((F.col("trail_n") == 24) & (F.abs(dev) > 5))
        .select(
            "event_type", "hr", "n", "trail_sum", F.round(dev, 6).alias("deviation")
        )
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH f AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    a AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT f.cohort,
           CAST((epoch_us(a.wk) - epoch_us(f.cohort)) / 604800000000
                AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY f.cohort, week_offset
    """,
    doc="Weekly retention cohorts: users keyed by first-seen week, "
    "counted per (cohort, week-offset) — the retention-matrix query "
    "every product dashboard runs. Offsets are exact integers "
    "(epoch-µs difference of week-truncated timestamps over a "
    "constant), never float date math. Plan: one per-user MIN "
    "aggregate + one distinct on (user, week) — both shuffle on "
    "user_id, so AQE reuses the exchange — then a cohort join that "
    "broadcasts at any realistic user/event ratio and a 2-key "
    "aggregate. At 100 TB per-user state is two timestamps; the "
    "matrix itself is O(weeks²) — metadata-sized.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    active = ev.distinct()
    offset = (
        (
            F.unix_micros(F.col("wk").cast("timestamp"))
            - F.unix_micros(F.col("cohort").cast("timestamp"))
        )
        / F.lit(604800000000)
    ).cast("long")
    return (
        active.join(first, "user_id")
        .select("cohort", offset.alias("week_offset"))
        .groupBy("cohort", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


#: shard-shuffle seed — version the permutation, not the code
SHARD_SEED = "shard-v1"
N_SHARDS = 8


@register(
    "corpus_shard_plan",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len({SQL_TOKENS}) AS n_tok,
               md5('{SHARD_SEED}:' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_tok, k,
               CAST(concat('0x', substr(k, 1, 15)) AS BIGINT) % {N_SHARDS}
                   AS shard
        FROM t
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           arg_min(doc_id, k) AS first_doc,
           arg_max(doc_id, k) AS last_doc
    FROM s GROUP BY shard
    """,
    doc="Seeded global shuffle into training shards — the step between "
    "a cleaned corpus and a training run: every doc gets a "
    "deterministic permutation key md5(seed:doc_id) (same idiom as the "
    "md5-threshold sampler: hex strings are fixed-width, so string "
    "order IS numeric order and both engines agree bit-for-bit), the "
    "key's first 15 hex digits (60 bits — uniform for ANY n_shards, "
    "not just powers of two ≤ 16) assign the shard, and the within-shard "
    "training order is the key order. Re-running with the same seed "
    "reproduces the permutation exactly; bumping the seed reshuffles — "
    "the property that makes data-order ablations possible. Output is "
    "the shard audit (doc/token balance + the first/last docs in "
    "training order, an order witness the cross-engine hash checks via "
    "arg_min/arg_max). At 100 TB the materialization is "
    "repartitionByRange(shard, key) + sortWithinPartitions(key) + "
    "per-shard parquet — a single range shuffle; this query is the "
    "plan/audit side and aggregates in one pass, no sort.",
)
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.lit(f"{SHARD_SEED}:"), F.col("doc_id").cast("string")))
    h60 = F.conv(F.substring(F.col("k"), 1, 15), 16, 10).cast("long")
    t = docs.select(
        "doc_id", F.size(TX.tokens(F.col("text"))).alias("n_tok"), k.alias("k")
    ).withColumn("shard", h60 % N_SHARDS)
    return t.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min_by("doc_id", "k").alias("first_doc"),
        F.max_by("doc_id", "k").alias("last_doc"),
    )


#: Q3 cutoff — mid-range of the synthetic 1995–2001 order dates
Q3_CUTOFF = "1998-06-01 00:00:00"


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * CAST(1 - l_discount AS DECIMAL(7,4))) AS DECIMAL(24,6))
                AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{Q3_CUTOFF}'
      AND l_shipdate > TIMESTAMP '{Q3_CUTOFF}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem, "
    "revenue per order, top-10 — the canonical 'big fact ⋈ filtered "
    "dims, rank the result' warehouse query. Revenue sums in exact "
    "decimal (q1's trick) so the cross-engine hash never rests on "
    "float association order; tie-break on l_orderkey makes the LIMIT "
    "deterministic. Plan: both date filters push to parquet scans, "
    "customer's segment filter prunes ~4/5 of the dim before the join, "
    "AQE broadcasts the filtered dims at bench scale (at 100 TB the "
    "orders join falls back to a shuffle join on the orderkey both "
    "sides already share), and the final top-10 runs as TakeOrdered — "
    "no global sort materializes.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = F.lit(Q3_CUTOFF).cast("timestamp")
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    price = F.col("l_extendedprice").cast(DEC)
    disc_f = (F.lit(1) - F.col("l_discount")).cast("decimal(7,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_double(F.sum(price * disc_f)).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ----------------------------------------------------------------------
# round 6: three more TPC-H-shaped warehouse queries (Q16/Q21/Q2
# analogues over the available columns — no partsupp table in the
# testdata, so Q2's supply-cost correlation derives from lineitem unit
# prices)
# ----------------------------------------------------------------------


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 3000)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    LIMIT 20
    """,
    doc="TPC-H Q16 shape: supplier diversity per (brand, size) with an "
    "excluded-supplier anti-join (NOT IN over a filtered dim — the "
    "'customer complaints' exclusion). Spark side uses left_anti "
    "against the broadcast excluded set (equivalent to NOT IN here: "
    "s_suppkey is non-null) and a COUNT(DISTINCT) grouped aggregate. "
    "Plan: part broadcasts into the fact scan, the distinct-count "
    "shuffles once on the group key; LIMIT order is total "
    "((brand,size) unique) so the top-20 is engine-independent. At "
    "100 TB the anti-join stays a broadcast (excluded suppliers are "
    "tiny) and the distinct count partial-aggregates map-side.",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#13").select(
        "p_partkey", "p_brand", "p_size"
    )
    excluded = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 3000)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(excluded), li.l_suppkey == excluded.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
        .limit(20)
    )


@register(
    "q21_late_sole_shipper",
    oracle="""
    WITH late AS (
        SELECT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): late "
    "lineitems (shipped >60 days after the order date) in "
    "multi-supplier orders where the supplier was the ONLY late one — "
    "the classic EXISTS + NOT EXISTS pair over a self-joined fact. "
    "Spark side: the late table derives once (fact⋈fact join pruned "
    "to 3 columns, the only data-sized shuffle), then a left_semi "
    "(exists: another supplier in the order) and a left_anti (not "
    "exists: another LATE supplier) with non-equi <>-conditions, then "
    "a broadcast supplier join and a tiny grouped count. At 100 TB "
    "the semi/anti joins shuffle on l_orderkey — co-partitioned with "
    "the late table's own key, so AQE reuses the exchange.",
)
def q21_late_sole_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.alias("l3")
    cand = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    sole = cand.alias("l1").join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
        FROM lineitem
    ),
    ranked AS (
        SELECT l_partkey, l_suppkey, unit_price,
               ROW_NUMBER() OVER (
                   PARTITION BY l_partkey ORDER BY unit_price, l_suppkey
               ) AS rn
        FROM offers
    )
    SELECT p_partkey, p_brand, p_type, s_name, round(unit_price, 6) AS best_unit_price
    FROM ranked
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE rn = 1 AND p_size <= 10
    ORDER BY best_unit_price DESC, p_partkey
    LIMIT 25
    """,
    doc="TPC-H Q2 shape (min-cost supplier per part), adapted: the "
    "testdata has no partsupp table, so the correlated 'minimum "
    "supply cost' subquery derives from observed lineitem unit prices "
    "(extendedprice/quantity — identical IEEE division in both "
    "engines). The correlated-scalar-subquery pattern decorrelates to "
    "a per-part ROW_NUMBER (ties broken by suppkey), exactly how "
    "Catalyst rewrites such subqueries. Plan: one window shuffle on "
    "partkey, then broadcast part+supplier joins; the size filter "
    "prunes after rank so the rank is stable against slicing. LIMIT "
    "order includes the unique p_partkey.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    # optimization round 11: the rank-1 row per part is an argmin, so a
    # struct-min hash aggregate replaces the row_number window — the
    # lexicographic struct minimum picks exactly the window's
    # (unit_price, l_suppkey)-first row, but partial-aggregates
    # map-side: the exchange carries one candidate per part per map
    # task instead of every lineitem row, and the per-partition sort
    # disappears (measured sf0.1: 1.09 → 0.86 s warm; the shuffled-row
    # reduction grows with rows-per-part, ~37× at sf1).
    best = (
        li.groupBy("l_partkey")
        .agg(F.min(F.struct("unit_price", "l_suppkey")).alias("_m"))
        .select(
            "l_partkey",
            F.col("_m.unit_price").alias("unit_price"),
            F.col("_m.l_suppkey").alias("l_suppkey"),
        )
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_size") <= 10).select(
        "p_partkey", "p_brand", "p_type"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_brand", "p_type", "s_name",
            F.round("unit_price", 6).alias("best_unit_price"),
        )
        .orderBy(F.desc("best_unit_price"), "p_partkey")
        .limit(25)
    )


# ----------------------------------------------------------------------
# round 7: four more TPC-H-shaped queries (Q4/Q12/Q14/Q19/Q22 analogues
# over the available columns — no l_commitdate/l_receiptdate/
# l_shipmode/p_container/c_phone in the testdata, so "late" derives
# from shipdate vs orderdate, Q12's modes from l_returnflag, and Q22's
# country codes from c_mktsegment)
# ----------------------------------------------------------------------

Q4_START = "1997-01-01 00:00:00"
Q4_END = "1997-04-01 00:00:00"


@register(
    "q4_order_priority",
    oracle=f"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{Q4_START}'
      AND o_orderdate < TIMESTAMP '{Q4_END}'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (order-priority checking): orders in one "
    "quarter having AT LEAST ONE late lineitem (shipped >30 days "
    "after the order date — the commit/receipt-date lateness adapted "
    "to available columns), counted per priority. The correlated "
    "EXISTS is a left-semi join whose condition mixes an equi key "
    "with a cross-table date comparison — Catalyst keeps l_orderkey "
    "as the shuffle key and evaluates the date predicate as the "
    "join residual. Plan: the quarter filter pushes to the orders "
    "scan (partition-prunable on a date-partitioned warehouse), the "
    "semi join dedups lineitem matches without materializing them, "
    "and the 5-group count is map-side partial.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(Q4_START).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(Q4_END).cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late_exists = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late_exists.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12_priority_by_returnflag",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1999-01-01'
      AND l_shipdate < TIMESTAMP '2000-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 15 DAY
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="TPC-H Q12 shape (shipping modes and order priority): lines "
    "shipped in one year, more than 15 days after ordering, pivoted "
    "into high-/low-priority counts per return flag (the testdata's "
    "stand-in for ship mode) via conditional aggregation — the "
    "classic CASE-inside-SUM pivot. Plan: the year range pushes to "
    "the lineitem scan as two comparisons, the fact⋈fact join "
    "shuffles on the shared orderkey with the date residual applied "
    "at the join, and both conditional sums fold into ONE map-side "
    "partial aggregate over 3 groups — a pivot costs no more than a "
    "plain count at 100 TB.",
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag", "l_shipdate")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 15 DAYS")
            ),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q14_promo_revenue",
    oracle="""
    WITH rev AS (
        SELECT
            CAST(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                          THEN CAST(l_extendedprice AS DECIMAL(18,4))
                               * CAST(1 - l_discount AS DECIMAL(7,4)) END)
                 AS DECIMAL(24,6)) AS DOUBLE) AS promo_revenue,
            CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(1 - l_discount AS DECIMAL(7,4)))
                 AS DECIMAL(24,6)) AS DOUBLE) AS total_revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1999-06-01'
          AND l_shipdate < TIMESTAMP '1999-07-01'
    )
    SELECT round(100.0 * promo_revenue / total_revenue, 6) AS promo_revenue_pct,
           promo_revenue, total_revenue
    FROM rev
    """,
    doc="TPC-H Q14 shape (promotion effect): the share of one month's "
    "revenue from promo-typed parts — a conditional sum against an "
    "unconditional one in the SAME aggregate (SUM over a CASE with no "
    "ELSE: nulls drop out, so the types match the plain sum exactly). "
    "Both sums run decimal-exact and convert to double once; the only "
    "float ops are one multiply+divide+round, identical in both "
    "engines, so even the PERCENTAGE hash-checks. Plan: the month "
    "pushes to the lineitem scan, part broadcasts (2 columns), and "
    "the whole query is one map-side-combinable scalar aggregate — "
    "no shuffle beyond the 1-row combine.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-06-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-07-01 00:00:00").cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    price = F.col("l_extendedprice").cast(DEC)
    disc_f = (F.lit(1) - F.col("l_discount")).cast("decimal(7,4)")
    rev = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            exact_double(
                F.sum(F.when(F.col("p_type").like("PROMO%"), price * disc_f))
            ).alias("promo_revenue"),
            exact_double(F.sum(price * disc_f)).alias("total_revenue"),
        )
    )
    return rev.select(
        F.round(
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 6
        ).alias("promo_revenue_pct"),
        "promo_revenue",
        "total_revenue",
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * CAST(1 - l_discount AS DECIMAL(7,4)))
                AS DECIMAL(24,6)) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (discounted revenue, disjunctive predicates): "
    "an OR of three brand/size/quantity conjunctions spanning both "
    "join sides — the canonical test of DISJUNCTIVE predicate "
    "handling. Catalyst cannot split the cross-table OR itself, but "
    "constraint derivation extracts the per-table implications — "
    "p_brand IN (...) AND p_size ≤ 15 for the part scan, l_quantity "
    "BETWEEN 1 AND 30 for the lineitem scan — and pushes THOSE to "
    "parquet, so each side is pre-pruned before the broadcast join "
    "evaluates the full disjunction as its residual. One scalar "
    "aggregate, decimal-exact revenue.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    size = F.col("p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & size.between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & size.between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & size.between(1, 15)
            & qty.between(20, 30)
        )
    )
    price = F.col("l_extendedprice").cast(DEC)
    disc_f = (F.lit(1) - F.col("l_discount")).cast("decimal(7,4)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_double(F.sum(price * disc_f)).alias("revenue"),
        )
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
    WITH thr AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(24,6))
                AS DOUBLE) AS total_acctbal
    FROM customer c CROSS JOIN thr
    WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n > s
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="TPC-H Q22 shape (global sales opportunity): customers whose "
    "balance exceeds the average POSITIVE balance and who placed no "
    "recent order (none since 2000 — the testdata has no order-less "
    "customers, so 'never ordered' adapts to 'dormant'), grouped by "
    "segment (the country-code stand-in). The scalar 'average' "
    "subquery is kept DIVISION-FREE: balance > avg ⟺ balance·n > sum "
    "in exact decimal, so the threshold compare can never diverge "
    "between engines by a quotient ulp. Plan: the 1-row threshold "
    "broadcasts into the customer scan, the anti join against "
    "date-filtered orders shuffles on custkey (broadcast at bench "
    "scale), and the 5-group sum is map-side partial.",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    thr = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(F.col("c_acctbal").cast(DEC)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    rich = cust.crossJoin(F.broadcast(thr)).filter(
        F.col("c_acctbal").cast(DEC) * F.col("n") > F.col("s")
    )
    return (
        rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            exact_double(F.sum(F.col("c_acctbal").cast(DEC))).alias(
                "total_acctbal"
            ),
        )
        .orderBy("c_mktsegment")
    )


#: sessionization inactivity gap: 12 h in epoch-microseconds (the
#: testdata's per-user inter-event spacing averages ~11 h, so this
#: yields multi-event sessions rather than one session per event)
SESSION_GAP_US = 12 * 3600 * 1_000_000


@register(
    "events_sessionize_gap",
    oracle=f"""
    WITH l AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_us
        FROM events
    ),
    m AS (
        SELECT user_id, event_id, ts, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_s
        FROM l
    ),
    s AS (
        SELECT user_id, us,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM m
    )
    SELECT user_id,
           CAST(MIN(us) AS BIGINT) AS session_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
    FROM s
    GROUP BY user_id, sid
    """,
    doc="Gap-based SESSIONIZATION — the classic lag + running-sum "
    "sessionizer (a new session starts after >12 h of inactivity), "
    "complementing the native session_window batch twin with the "
    "formulation that works in ANY engine and admits per-session ids. "
    "Determinism under ties: the lag/cumsum order is (ts, event_id) — "
    "unique — and tied timestamps can never start a session (gap 0), "
    "so session boundaries are engine-identical; everything is exact "
    "epoch-microsecond integer arithmetic. Plan: ONE shuffle on "
    "user_id serves the lag window, the session-id running sum, AND "
    "the (user_id, sid) session aggregate — three window/agg steps, "
    "one exchange, because every step keys on a prefix of the same "
    "partitioning. At 100 TB sessionization is the canonical "
    "pre-aggregation for behavioral features; per-user history "
    "bounds the window state.",
)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    m = ev.select(
        "user_id",
        "ts",
        "event_id",
        us.alias("us"),
        F.when(
            F.lag(us).over(w).isNull()
            | ((us - F.lag(us).over(w)) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    s = m.select(
        "user_id",
        "us",
        F.sum("new_s")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("sid"),
    )
    return s.groupBy("user_id", "sid").agg(
        F.min("us").cast("long").alias("session_start_us"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).cast("long").alias("duration_us"),
    ).drop("sid")


@register(
    "events_user_value_deciles",
    oracle="""
    WITH per AS (
        SELECT user_id,
               SUM(CAST(value AS DECIMAL(18,4))) AS total
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT user_id, total,
               NTILE(10) OVER (ORDER BY total DESC, user_id) AS decile,
               PERCENT_RANK() OVER (ORDER BY total DESC, user_id) AS pr
        FROM per
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(CAST(SUM(total) AS DECIMAL(24,6)) AS DOUBLE) AS decile_value,
           round(MIN(pr), 6) AS min_pct_rank,
           round(MAX(pr), 6) AS max_pct_rank
    FROM ranked
    GROUP BY decile
    ORDER BY decile
    """,
    doc="User-value DECILE table via NTILE + PERCENT_RANK — the §2.5 "
    "distribution-function surface beyond ranking/offset/frames. "
    "Determinism: the window order (total DESC, user_id) is total, so "
    "tile boundaries and percent ranks are engine-identical; totals "
    "aggregate in exact decimal, and percent_rank's (r-1)/(n-1) is "
    "one IEEE division on identical integers in both engines. Plan: "
    "per-user totals shuffle once on user_id; the single-partition "
    "global window is over USERS (already reduced ~67×), the standard "
    "shape for a scored-entity ranking — at true 100 TB entity counts "
    "the decile boundaries would come from the quantile sketch "
    "instead (text_length_quantile_sketch is that path).",
)
def events_user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "value")
    per = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast(DEC)).alias("total")
    )
    w = W.orderBy(F.desc("total"), "user_id")
    ranked = per.select(
        "user_id",
        "total",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pr"),
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            exact_double(F.sum("total")).alias("decile_value"),
            F.round(F.min("pr"), 6).alias("min_pct_rank"),
            F.round(F.max("pr"), 6).alias("max_pct_rank"),
        )
        .orderBy("decile")
    )


# ----------------------------------------------------------------------
# round 7 (cont.): the remaining classic TPC-H shapes — Q6/Q7/Q8/Q9/
# Q11/Q13/Q15/Q17/Q20 analogues.  The testdata has no partsupp table,
# no l_commitdate/l_receiptdate/l_shipmode, and synthetic nation names
# (NATION_0..24 under the real region names), so:
#   * Q7/Q8's nation pairs widen to REGION pairs / a region scope with
#     a single target nation (suppliers are sparse per nation at small
#     SF — regions keep every SF non-degenerate);
#   * Q9's supplycost term drops out (profit = discounted revenue);
#   * Q11's partsupp value becomes shipped lineitem value per part;
#   * Q20's availqty threshold becomes "supplier ships >1/4 of the
#     part's annual volume".
# Every threshold compare is either exact-decimal or a single IEEE op
# chain on identical doubles, so all nine hash-check cross-engine.
# ----------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * CAST(l_discount AS DECIMAL(7,4)))
                AS DECIMAL(24,6)) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01'
      AND l_shipdate < TIMESTAMP '2000-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (forecasting revenue change): one year of "
    "lineitem, a discount band and a quantity cap, SUM(price*disc). "
    "The purest pushdown showcase in the suite: every predicate is a "
    "single-column comparison, so ALL THREE reach the parquet scan as "
    "PushedFilters and row-group statistics skip non-matching chunks "
    "before decode — at 100 TB this query reads a fraction of one "
    "column pair. No join, no shuffle beyond the 1-row combine of a "
    "map-side-partial scalar aggregate.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select("l_extendedprice", "l_discount")
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        exact_double(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * F.col("l_discount").cast("decimal(7,4)")
            )
        ).alias("revenue"),
    )


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_region, cust_region, l_year,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(vol) AS DECIMAL(24,6)) AS DOUBLE) AS revenue
    FROM (
        SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(l_extendedprice AS DECIMAL(18,4))
                   * CAST(1 - l_discount AS DECIMAL(7,4)) AS vol
        FROM lineitem
        JOIN orders    ON o_orderkey = l_orderkey
        JOIN customer  ON c_custkey = o_custkey
        JOIN supplier  ON s_suppkey = l_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ((r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA')
            OR (r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'))
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1999-01-01'
    ) t
    GROUP BY supp_region, cust_region, l_year
    ORDER BY supp_region, cust_region, l_year
    """,
    doc="TPC-H Q7 shape (volume shipping): bilateral trade volume "
    "between two geographies by year — the OR of two direction "
    "conjunctions over attributes from OPPOSITE sides of the fact "
    "join (nation pairs widened to region pairs; see section note). "
    "Plan: both geography lookups reduce to tiny broadcast maps "
    "(supplier→region, customer→region) pre-filtered to the two "
    "regions, so the cross-side OR is evaluated as a residual on an "
    "already double-pruned fact stream; the two-year range pushes to "
    "the lineitem scan; the final rollup is 4 groups × 2 years, "
    "map-side partial. The fact⋈orders join is the only real "
    "shuffle — exactly what you want at 100 TB.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nr = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .join(
            F.broadcast(load(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "r_name")
        .filter(F.col("r_name").isin("EUROPE", "ASIA"))
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("r_name").alias("cust_region"))
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            "l_orderkey", "l_suppkey", "l_shipdate",
            "l_extendedprice", "l_discount",
        )
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    vol = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1) - F.col("l_discount")).cast("decimal(7,4)")
    )
    direction = (
        (F.col("supp_region") == "EUROPE") & (F.col("cust_region") == "ASIA")
    ) | ((F.col("supp_region") == "ASIA") & (F.col("cust_region") == "EUROPE"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(direction)
        .select(
            "supp_region", "cust_region",
            F.year("l_shipdate").cast("int").alias("l_year"),
            vol.alias("vol"),
        )
        .groupBy("supp_region", "cust_region", "l_year")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_double(F.sum("vol")).alias("revenue"),
        )
        .orderBy("supp_region", "cust_region", "l_year")
    )


Q8_TARGET_NATION = "NATION_3"  # in EUROPE; has suppliers at every SF


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           round(COALESCE(
               CAST(CAST(SUM(CASE WHEN supp_nation = '{Q8_TARGET_NATION}'
                                  THEN vol END) AS DECIMAL(24,6)) AS DOUBLE),
               0.0)
             / CAST(CAST(SUM(vol) AS DECIMAL(24,6)) AS DOUBLE), 6
           ) AS mkt_share,
           CAST(CAST(SUM(vol) AS DECIMAL(24,6)) AS DOUBLE) AS total_volume
    FROM (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               n2.n_name AS supp_nation,
               CAST(l_extendedprice AS DECIMAL(18,4))
                   * CAST(1 - l_discount AS DECIMAL(7,4)) AS vol
        FROM lineitem
        JOIN orders    ON o_orderkey = l_orderkey
        JOIN customer  ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        JOIN part      ON p_partkey = l_partkey
        JOIN supplier  ON s_suppkey = l_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r1.r_name = 'EUROPE' AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1999-01-01'
    ) t
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): within EUROPE-"
    "customer PROMO-part volume, the share supplied by one target "
    "nation, by order year — a conditional sum over an unconditional "
    "one in the same aggregate (the same no-ELSE CASE trick as Q14, "
    "so nulls drop out and the division is ONE IEEE op on exact-"
    "decimal-derived doubles; COALESCE pins the zero-supplier year "
    "to 0.0 identically in both engines). Plan: part (2 cols, "
    "type-filtered) and the geography maps broadcast; the customer-"
    "region filter prunes the orders side before the fact join; one "
    "2-group aggregate. Six joins, ONE fact-sized shuffle.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nr = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .join(
            F.broadcast(load(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "r_name")
    )
    cust = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("c_custkey")
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1) - F.col("l_discount")).cast("decimal(7,4)")
    )
    base = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            "supp_nation",
            vol.alias("vol"),
        )
    )
    target = F.col("supp_nation") == Q8_TARGET_NATION
    return (
        base.groupBy("o_year")
        .agg(
            F.round(
                F.coalesce(
                    exact_double(F.sum(F.when(target, F.col("vol")))),
                    F.lit(0.0),
                )
                / exact_double(F.sum("vol")),
                6,
            ).alias("mkt_share"),
            exact_double(F.sum("vol")).alias("total_volume"),
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    oracle="""
    SELECT n_name, o_year,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(vol) AS DECIMAL(24,6)) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(l_extendedprice AS DECIMAL(18,4))
                   * CAST(1 - l_discount AS DECIMAL(7,4)) AS vol
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN part     ON p_partkey = l_partkey
        WHERE p_name LIKE '%widget'
    ) t
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
    doc="TPC-H Q9 shape (product type profit): profit on one product "
    "family grouped by supplier nation and order year (no partsupp "
    "table in the testdata, so the supplycost term drops and profit "
    "is discounted revenue; see section note). The p_name suffix "
    "match is NOT prefix-pushable, so the part filter evaluates "
    "post-scan on a 2-column projection and the pruned key set "
    "broadcasts into the fact scan. Plan: one fact-sized shuffle "
    "(orders join), supplier/nation broadcast maps, ~175-group "
    "aggregate, map-side partial.",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget"))
        .select("p_partkey")
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1) - F.col("l_discount")).cast("decimal(7,4)")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "n_name",
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("vol"),
        )
        .groupBy("n_name", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_double(F.sum("vol")).alias("sum_profit"),
        )
        .orderBy("n_name", F.desc("o_year"))
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH pv AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS val
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY l_partkey
    ),
    thr AS (
        SELECT SUM(val) AS tot, CAST(COUNT(*) AS BIGINT) AS n FROM pv
    )
    SELECT l_partkey,
           CAST(CAST(val AS DECIMAL(24,6)) AS DOUBLE) AS part_value
    FROM pv CROSS JOIN thr
    WHERE (CAST(CAST(val AS DECIMAL(24,6)) AS DOUBLE) * n) * 10
          > CAST(CAST(tot AS DECIMAL(24,6)) AS DOUBLE) * 13
    ORDER BY part_value DESC, l_partkey
    """,
    doc="TPC-H Q11 shape (important stock identification): per-part "
    "shipped value from one region's suppliers, keeping parts whose "
    "value exceeds 1.3x the regional mean — partsupp's availqty*cost "
    "becomes shipped lineitem value (see section note), and the "
    "HAVING-against-a-scalar-subquery shape survives intact. The "
    "threshold compare is division-free in structure (val*n*10 > "
    "tot*13) and runs on exact-decimal-derived doubles with a fixed "
    "association order, so borderline parts resolve identically in "
    "both engines. Plan: the supplier-region probe broadcasts into "
    "the fact scan as a semi-join, per-part values shuffle once on "
    "partkey, and the 1-row threshold broadcasts back over the "
    "per-part aggregate — the second 'pass' touches per-part rows, "
    "not the fact table.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nr = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .join(
            F.broadcast(load(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "EUROPE")
        .select("n_nationkey")
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    pv = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(DEC)).alias("val"))
    )
    thr = pv.agg(
        F.sum("val").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    return (
        pv.crossJoin(F.broadcast(thr))
        .filter(
            (exact_double(F.col("val")) * F.col("n")) * F.lit(10)
            > exact_double(F.col("tot")) * F.lit(13)
        )
        .select("l_partkey", exact_double(F.col("val")).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape (customer distribution): a histogram of "
    "orders-per-customer where the order predicate lives INSIDE the "
    "outer-join condition — customers with zero qualifying orders "
    "must still appear with c_count=0, so the filter cannot be "
    "pushed below the join as a WHERE. COUNT(o_orderkey) counts "
    "non-null matches only, giving the exact left-outer + count "
    "semantics. Plan: one shuffle on custkey for the outer join "
    "(customer and orders co-partition), a per-customer count that "
    "AQE can partially push map-side, then a tiny second aggregate "
    "over ~40 distinct counts. The double aggregation reduces "
    "fact-scale data to entity scale before anything global.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                   * CAST(1 - l_discount AS DECIMAL(7,4))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-07-01'
          AND l_shipdate < TIMESTAMP '1999-10-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(CAST(total_rev AS DECIMAL(24,6)) AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 shape (top supplier): one quarter's revenue per "
    "supplier, returning the supplier(s) equal to the MAX — the "
    "view-plus-scalar-subquery shape. The equality is on EXACT "
    "decimal sums (order-independent), so 'ties with the max' is "
    "engine-independent; ORDER BY suppkey pins multi-winner output. "
    "Plan: the quarter pushes to the lineitem scan, per-supplier "
    "revenue shuffles once on suppkey, the 1-row max broadcasts "
    "back over the (already supplier-scale) aggregate, and the "
    "supplier dim broadcasts for the name lookup. The fact table "
    "is scanned ONCE — the view is reused for both the max and the "
    "winner probe.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-07-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-10-01 00:00:00").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1) - F.col("l_discount")).cast("decimal(7,4)")
            ).alias("total_rev")
        )
    )
    best = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            exact_double(F.col("total_rev")).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH agg AS (
        SELECT l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS cnt_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                AS DECIMAL(24,6)) AS DOUBLE) AS total_price,
           round(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                 AS DECIMAL(24,6)) AS DOUBLE) / 7.0, 6) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = lineitem.l_partkey
    JOIN agg  ON agg.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#13' AND p_size <= 25
      AND (CAST(l_quantity AS DOUBLE) * 5.0) * cnt_qty
          < CAST(CAST(sum_qty AS DECIMAL(24,6)) AS DOUBLE)
    """,
    doc="TPC-H Q17 shape (small-quantity-order revenue): revenue from "
    "lines whose quantity is below 20% of that part's OWN average — "
    "the correlated-aggregate-subquery shape, decorrelated into a "
    "per-part aggregate joined back on partkey (exactly what both "
    "Catalyst and DuckDB do to the original). The threshold is "
    "division-free: qty < 0.2*avg becomes qty*5*cnt < sum with the "
    "sum decimal-exact, so borderline lines resolve identically "
    "(quantities are integer-valued doubles, products exactly "
    "representable). p_size<=25 stands in for the container filter. "
    "Plan: the brand/size-filtered part key set broadcasts; the "
    "per-part averages shuffle on partkey and join the (pre-pruned) "
    "fact stream on the same key — one partitioning reused; scalar "
    "output. The /7.0 is one IEEE division on an exact double.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 25))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    agg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt_qty"),
    )
    small = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(agg, F.col("l_partkey") == F.col("a_partkey"))
        .filter(
            (F.col("l_quantity").cast("double") * F.lit(5.0)) * F.col("cnt_qty")
            < exact_double(F.col("sum_qty"))
        )
    )
    total = exact_double(F.sum(F.col("l_extendedprice").cast(DEC)))
    return small.agg(
        F.count(F.lit(1)).alias("n_lines"),
        total.alias("total_price"),
        F.round(total / F.lit(7.0), 6).alias("avg_yearly"),
    )


@register(
    "q20_part_promotion",
    oracle="""
    WITH y AS (
        SELECT l_suppkey, l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_shipdate < TIMESTAMP '2000-01-01'
        GROUP BY l_suppkey, l_partkey
    ),
    t AS (
        SELECT l_partkey, SUM(sq) AS tq FROM y GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
          SELECT y.l_suppkey
          FROM y
          JOIN t    ON y.l_partkey = t.l_partkey
          JOIN part ON p_partkey = y.l_partkey
          WHERE p_name LIKE 'large%' AND y.sq * 4 > t.tq
      )
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape (potential part promotion): suppliers in one "
    "region who shipped more than a quarter of some 'large *' part's "
    "annual volume (availqty-vs-half-demand becomes share-of-volume; "
    "see section note) — nested aggregate subqueries feeding a "
    "semi-join chain. The per-part total is RE-AGGREGATED from the "
    "per-(supplier,part) sums rather than rescanned (exact decimal "
    "addition is associative, so SUM(sq) == the direct per-part sum "
    "bit-for-bit), which halves the fact scans. The share compare "
    "sq*4 > tq is exact-decimal. Plan: one fact scan, one shuffle on "
    "(suppkey,partkey), a partkey re-shuffle at per-part scale, the "
    "name-filtered part keys broadcast, and two semi-joins — "
    "qualifying suppkeys into the region-filtered supplier dim.",
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    y = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
        )
        .select("l_suppkey", "l_partkey", "l_quantity")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("sq"))
    )
    t = y.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("sq").alias("tq")
    )
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("large%"))
        .select("p_partkey")
    )
    qualifying = (
        y.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(t, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("sq") * F.lit(4) > F.col("tq"))
        .select("l_suppkey")
    )
    nr = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .join(
            F.broadcast(load(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "EUROPE")
        .select("n_nationkey")
    )
    return (
        load(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )
