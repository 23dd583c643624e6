"""Event-time queries over ``events`` — batch twins of the streaming
operators (``streaming/events.py``), oracle-checked.

The same windowing logic runs as a Structured Streaming plan with
watermarks (tests drive it through a file source + AvailableNow); batch
execution here makes results DuckDB-comparable. Timestamps: the events
parquet is ns-precision — both engines truncate to µs at read (Spark
via ``nanosAsLong`` + integer div in the loader, DuckDB natively), so
event times agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.plans.core import register
from kingsfoil_seed_data_ingestor_spark.plans.tables import load

DEC = "decimal(18,4)"


@register(
    "events_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour event-time windows × event_type (streaming "
    "twin: tumbling_window_counts with a 15-min watermark). One shuffle "
    "on (window, type); decimal-exact value totals.",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value", "n_users")
    )


@register(
    "events_sliding_window",
    oracle="""
    WITH starts AS (
        SELECT value,
               unnest([
                   CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP),
                   CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) AS TIMESTAMP)
               ]) AS window_start
        FROM events
    )
    SELECT window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM starts GROUP BY 1
    """,
    doc="Sliding windows (1 h length, 30 min slide): every event lands "
    "in exactly 2 windows. Oracle assigns both starts arithmetically — "
    "the same set F.window(ts, '1 hour', '30 minutes') produces.",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "events_session_window",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING
        ) AS session_no
        FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_no
    """,
    doc="Per-user session windows (10-min inactivity gap) via "
    "F.session_window — dynamic-length event-time sessions, the "
    "streaming-native operator. Oracle is the classic gaps-and-islands "
    "rewrite; session end = last event + gap in both.",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Semi-structured props column (the reference's JSONB details, "
    "ingestor.py:275-283): JSON path extraction + typed cast inside the "
    "scan, grouped aggregate on the derived key.",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy("event_type", (k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
    )


@register(
    "events_topk_salted",
    oracle="""
    SELECT event_type, CAST(rank AS INT) AS rank, event_id, value
    FROM (
        SELECT event_type, event_id, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value DESC, event_id
               ) AS rank
        FROM events
    ) WHERE rank <= 5
    """,
    doc="Exact per-type top-5 events by value via SALTED two-phase "
    "ranking (operators/skew.py): a window over a skewed partition key "
    "cannot be split by AQE — one viral key funnels through one task — "
    "so phase 1 ranks within (key, salt(event_id)) across 16 parallel "
    "groups and phase 2 ranks the <= k*16 survivors. The oracle is the "
    "plain single-window top-k: salting must be invisible in the "
    "output, pinning exactness of the decomposition.",
)
def events_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kingsfoil_seed_data_ingestor_spark.operators.skew import salted_top_k

    ev = load(spark, sf_dir, "events")
    return salted_top_k(
        ev.select("event_type", "event_id", "value"),
        partition_by=["event_type"],
        order_by=[F.desc("value"), F.asc("event_id")],
        k=5,
        salt_from=["event_id"],
        n_salts=16,
    ).select("event_type", F.col("rank").cast("int").alias("rank"), "event_id", "value")


@register(
    "events_interval_join",
    oracle="""
    SELECT a.user_id, a.event_id AS first_id, b.event_id AS then_id,
           a.ts AS first_ts, b.ts AS then_ts, b.value AS then_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND a.ts <= b.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
    doc="Event correlation / attribution: click -> purchase by the same "
    "user within 1 hour — the batch twin of the stream-stream interval "
    "join (streaming/events.correlate_events, watermarks both sides "
    "bounding join state; parity pinned in test_streaming.py). The "
    "equi key (user_id) carries the shuffle; the interval predicate "
    "filters within the joined group, never a time-range explosion.",
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kingsfoil_seed_data_ingestor_spark.streaming.events import correlate_events

    return correlate_events(load(spark, sf_dir, "events"))


# ----------------------------------------------------------------------
# round 6: deterministic HyperLogLog sketch (custom, cross-engine)
# ----------------------------------------------------------------------

#: HLL registers (2^10) and bias constant alpha_m = 0.7213/(1+1.079/m)
HLL_M = 1024
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
#: hash = first 15 hex digits of md5 (60 bits); the low 10 route the
#: register, the remaining 50 carry the rank geometric (max rank 51)
HLL_RANK_MAX = 60 - 10 + 1
#: 2^(rank_max) as an exact double literal — the register sum is kept
#: as an INTEGER (sum of 1 << (51 - rank), <= 1024·2^50 < 2^63) so it
#: is shuffle-order-independent; the single int→double conversion and
#: this division are then identical in both engines (a naive
#: SUM(pow(2.0,-rank)) of doubles is order-dependent past 53 bits of
#: exponent span and could hash-mismatch)
HLL_SCALE = float(1 << HLL_RANK_MAX)


@register(
    "events_distinct_users_hll",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS hv
        FROM events
    ),
    b AS (SELECT event_type, hv % {HLL_M} AS bucket, hv // {HLL_M} AS w FROM h),
    r AS (
        SELECT event_type, bucket,
               MAX(CASE WHEN w = 0 THEN {HLL_RANK_MAX}
                   ELSE {HLL_RANK_MAX} - length(bin(w)) END) AS rank
        FROM b GROUP BY event_type, bucket
    ),
    agg AS (
        SELECT event_type,
               SUM(CAST(1 AS BIGINT) << ({HLL_RANK_MAX} - rank)) AS int_sum,
               COUNT(*) AS m_used
        FROM r GROUP BY event_type
    ),
    est AS (
        SELECT event_type,
               {HLL_ALPHA:.17e} * {HLL_M} * {HLL_M}
                   / (int_sum / {HLL_SCALE:.17e}
                      + ({HLL_M} - m_used) * 1.0) AS raw_est,
               {HLL_M} - m_used AS zeros
        FROM agg
    )
    SELECT e.event_type,
           round(CASE WHEN raw_est < {2.5 * HLL_M} AND zeros > 0
                      THEN {HLL_M} * ln({HLL_M}.0 / zeros) ELSE raw_est END,
                 6) AS est_users,
           x.exact_users
    FROM est e JOIN (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM events GROUP BY event_type
    ) x ON e.event_type = x.event_type
    """,
    doc="Custom DETERMINISTIC HyperLogLog distinct-count sketch, "
    "hash-checked cross-engine including the ESTIMATE — the 'novel "
    "sketch' slot of the pipeline surface. Register route = low 10 "
    "bits of a 60-bit md5-derived hash (the engine-portable hash "
    "idiom of the md5-threshold sampler); rank = leading-zero count "
    "of the remaining 50-bit field via binary-string length (integer-"
    "exact, no float log2 near power-of-two boundaries); the harmonic "
    "sum is carried as an INTEGER (Σ 2^(51-rank), order-independent) "
    "and converted to double once, so shuffle order cannot perturb "
    "the estimate; the small-range linear-counting correction is the "
    "same double expression in both engines. The exact distinct count "
    "rides along so every run witnesses the sketch's error (measured "
    "rel. err. 6.0%/2.0%/2.6% at sf0.001/0.01/0.1 with m=1024; pytest "
    "floors 10%). Scale shape: ONE map-side-combinable shuffle on "
    "(event_type, bucket) for the register max — registers are "
    "mergeable, which is what makes HLL the cross-partition "
    "distinct-count workhorse; the exact COUNT(DISTINCT) branch is "
    "the cost it replaces at 100 TB.",
)
def events_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    h = ev.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    b = h.select(
        "event_type",
        F.expr(f"hv % {HLL_M}").alias("bucket"),
        F.expr(f"hv div {HLL_M}").alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(HLL_RANK_MAX)).otherwise(
        F.lit(HLL_RANK_MAX) - F.length(F.bin(F.col("w")))
    )
    r = b.groupBy("event_type", "bucket").agg(F.max(rank).alias("rank"))
    agg = r.groupBy("event_type").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RANK_MAX} - rank)")).alias(
            "int_sum"
        ),
        F.count(F.lit(1)).alias("m_used"),
    )
    raw = (
        F.lit(HLL_ALPHA)
        * HLL_M
        * HLL_M
        / (F.col("int_sum") / F.lit(HLL_SCALE) + (F.lit(HLL_M) - F.col("m_used")) * F.lit(1.0))
    )
    est = agg.select(
        "event_type",
        raw.alias("raw_est"),
        (F.lit(HLL_M) - F.col("m_used")).alias("zeros"),
    )
    corrected = F.when(
        (F.col("raw_est") < 2.5 * HLL_M) & (F.col("zeros") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("zeros")),
    ).otherwise(F.col("raw_est"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type", F.round(corrected, 6).alias("est_users"), "exact_users"
    )


# ----------------------------------------------------------------------
# round 6: KMV (k-minimum-values) sketch — set-operation estimates
# ----------------------------------------------------------------------

#: KMV sketch size and the 60-bit hash normalizer 2^60
KMV_K = 256
KMV_NORM = float(1 << 60)


@register(
    "events_audience_overlap_kmv",
    oracle=f"""
    WITH per AS (
        SELECT user_id,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc,
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ne
        FROM events GROUP BY user_id
    ),
    mem AS (
        SELECT user_id,
               CASE WHEN np > nv THEN 1 ELSE 0 END AS in_a,
               CASE WHEN nc > ne THEN 1 ELSE 0 END AS in_b
        FROM per WHERE np > nv OR nc > ne
    ),
    h AS (
        SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS hv,
               in_a, in_b
        FROM mem
    ),
    u AS (SELECT *, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM h),
    uk AS (SELECT * FROM u WHERE rn <= {KMV_K}),
    stats AS (
        SELECT COUNT(*) AS k_used, MAX(hv) AS kth,
               SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS n_both
        FROM uk
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_union,
               CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS exact_intersection
        FROM mem
    )
    SELECT round((k_used - 1) / (kth / {KMV_NORM!r}), 6) AS est_union,
           round(n_both * 1.0 / k_used, 6) AS est_jaccard,
           round((n_both * 1.0 / k_used)
                 * ((k_used - 1) / (kth / {KMV_NORM!r})), 6) AS est_intersection,
           exact_union, exact_intersection
    FROM stats, exact
    """,
    doc="KMV (k-minimum-values) sketch with SET-OPERATION estimates — "
    "the sketch-algebra companion to the HLL query: union size, "
    "Jaccard, and intersection size of two behaviorally-derived "
    "audiences (A = users purchasing more than they view, B = users "
    "clicking more than they error — genuinely partial overlap, "
    "Jaccard ≈ 0.26-0.33 across SFs) from the k = 256 smallest "
    "60-bit md5 hashes of the union. Estimator validity: the union's "
    "k-th smallest hash is ≤ each set's k-th smallest, so full-set "
    "membership flags inside the union sketch ARE sketch membership; "
    "est_union = (k-1)/normalized kth minimum, est_inter = "
    "within-sketch overlap fraction × est_union (Beyer et al., "
    "SIGMOD'07). Everything is integer/window arithmetic until two "
    "final double divisions, identical in both engines — the "
    "ESTIMATES hash-match, and the exact union/intersection ride "
    "along as error witnesses. Scale shape: the per-user aggregate is "
    "the only data shuffle; the global k-smallest is a TakeOrdered "
    "over a 256-row head, and sketches are mergeable by construction "
    "(min of unions).",
)
def events_audience_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    per = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("np"),
        F.sum((F.col("event_type") == "view").cast("int")).alias("nv"),
        F.sum((F.col("event_type") == "click").cast("int")).alias("nc"),
        F.sum((F.col("event_type") == "error").cast("int")).alias("ne"),
    )
    mem = per.select(
        "user_id",
        (F.col("np") > F.col("nv")).cast("int").alias("in_a"),
        (F.col("nc") > F.col("ne")).cast("int").alias("in_b"),
    ).filter((F.col("in_a") == 1) | (F.col("in_b") == 1))
    h = mem.select(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
        "in_a",
        "in_b",
    )
    uk = (
        h.withColumn("rn", F.row_number().over(W.orderBy("hv")))
        .filter(F.col("rn") <= KMV_K)
    )
    stats = uk.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max("hv").alias("kth"),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("int")).alias(
            "n_both"
        ),
    )
    exact = mem.agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("int")).alias(
            "exact_intersection"
        ),
    )
    est_union = (F.col("k_used") - 1) / (F.col("kth") / F.lit(KMV_NORM))
    est_jac = F.col("n_both") * F.lit(1.0) / F.col("k_used")
    return stats.crossJoin(exact).select(
        F.round(est_union, 6).alias("est_union"),
        F.round(est_jac, 6).alias("est_jaccard"),
        F.round(est_jac * est_union, 6).alias("est_intersection"),
        "exact_union",
        "exact_intersection",
    )


# ----------------------------------------------------------------------
# round 7: Count-Min sketch — frequency estimates / heavy hitters
# ----------------------------------------------------------------------

#: Count-Min depth (independent hash rows) and width (counters per row).
#: Error bound: overestimate ≤ e/W · N with prob ≥ 1 - e^-D.
CMS_D = 4
CMS_W = 2048
#: heavy-hitter report size; selection is BY THE ESTIMATE (the sketch's
#: real decision), exact counts ride along as witnesses
CMS_TOP = 15


@register(
    "events_heavy_hitters_cms",
    oracle=f"""
    WITH j AS (SELECT d FROM (VALUES (0), (1), (2), (3)) t(d)),
    hashed AS (
        SELECT e.user_id, j.d,
               CAST(concat('0x', substr(md5(concat(CAST(j.d AS VARCHAR), ':',
                    CAST(e.user_id AS VARCHAR))), 1, 15)) AS BIGINT)
                   % {CMS_W} AS bucket
        FROM events e CROSS JOIN j
    ),
    counters AS (
        SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM hashed GROUP BY d, bucket
    ),
    keys AS (SELECT DISTINCT user_id FROM events),
    probes AS (
        SELECT k.user_id, j.d,
               CAST(concat('0x', substr(md5(concat(CAST(j.d AS VARCHAR), ':',
                    CAST(k.user_id AS VARCHAR))), 1, 15)) AS BIGINT)
                   % {CMS_W} AS bucket
        FROM keys k CROSS JOIN j
    ),
    est AS (
        SELECT p.user_id, MIN(c.c) AS est_count
        FROM probes p JOIN counters c ON p.d = c.d AND p.bucket = c.bucket
        GROUP BY p.user_id
    ),
    exact AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM events GROUP BY user_id
    )
    SELECT e.user_id, e.est_count, x.exact_count,
           e.est_count - x.exact_count AS overestimate
    FROM est e JOIN exact x ON e.user_id = x.user_id
    ORDER BY e.est_count DESC, e.user_id
    LIMIT {CMS_TOP}
    """,
    doc="Count-Min sketch frequency estimates + heavy-hitter report, "
    "hash-checked cross-engine including the ESTIMATES — the "
    f"frequency companion to the HLL/KMV/quantile sketches. D={CMS_D} "
    f"independent hash rows (hash j of key k = 60-bit md5('j:k') mod "
    f"W={CMS_W}); the sketch is the (d, bucket) → count table. Since "
    "this report also carries exact per-key counts as witnesses, the "
    "counters are built as a WEIGHTED CMS over that (already-required) "
    "key-count table — counter = Σ count(key) over keys hashing there, "
    "definitionally equal to counting raw rows, with the D hashes "
    "computed once per DISTINCT key instead of once per event row. "
    "The one corpus-wide shuffle is the map-side-combinable key count; "
    "counters are SUMS, so partial sketches merge by addition across "
    "100 TB partitions (and across days: CMS is the standard mergeable "
    "frequency summary). A key's estimate = min over its D counters; "
    "CMS never underestimates, so the per-row ``overestimate`` "
    "witness is provably ≥ 0 — an invariant the oracle hash check "
    "enforces on every run. The heavy-hitter report SELECTS BY THE "
    "ESTIMATE (the decision a sketch consumer actually makes) and "
    "carries the exact count beside it; tie-break on user_id makes "
    "the top-k engine-deterministic. Scale shape: the probe side "
    "joins distinct keys against the ≤ D·W-row counter table — a "
    "broadcast hash join with no data shuffle beyond the distinct.",
)
def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id")
    dvals = F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("d")

    def bucket_expr():
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("d").cast("string"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % CMS_W
        ).alias("bucket")

    # optimization round 11: the query already pays one corpus-wide
    # groupBy(user_id) for its exact-count witness columns, so the
    # sketch is built FROM that table as a weighted CMS — counter
    # (d, bucket) = Σ exact_count over the keys hashing there, which
    # is definitionally the same value as counting raw event rows.
    # The 4 md5 hashes per ROW become 4 per DISTINCT KEY, the three
    # event scans (counters / distinct probes / exact) collapse into
    # one, and the only corpus-wide shuffle left is the partial-
    # aggregated user count (measured: sf0.1 flat — overhead floor —
    # and sf1 8.55 → 0.96 s warm; plan: 3 event scans → 1).
    from kingsfoil_seed_data_ingestor_spark.operators.caching import CacheScope

    scope = CacheScope()
    exact = scope.persist(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    )
    hashed = exact.select("user_id", "exact_count", dvals).select(
        "user_id", "exact_count", "d", bucket_expr()
    )
    counters = hashed.groupBy("d", "bucket").agg(
        F.sum("exact_count").alias("c")
    )
    est = (
        hashed.select("user_id", "d", "bucket")
        .join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_count"))
    )
    return scope.attach(
        est.join(exact, "user_id")
        .select(
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(CMS_TOP)
    )


# ----------------------------------------------------------------------
# round 7: Bloom-filter join prefilter — explicit runtime-filter shape
# ----------------------------------------------------------------------

#: Bloom geometry: BF_WORDS 62-bit words (sign bit never touched, so
#: masks stay positive BIGINTs in both engines) × BF_K hash functions.
#: Deliberately tight (3 968 bits) so the false-positive witness is
#: non-degenerate at sf0.1 (~7 % expected); production sizing is
#: m ≈ 10-15 bits/element for ~1 % fp.
BF_WORDS = 64
BF_BPW = 62
BF_K = 3


@register(
    "events_bloom_prefilter",
    oracle=f"""
    WITH per AS (
        SELECT user_id,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv
        FROM events GROUP BY user_id
    ),
    members AS (SELECT user_id FROM per WHERE np > nv),
    j AS (SELECT d FROM (VALUES (0), (1), (2)) t(d)),
    mpos AS (
        SELECT CAST(concat('0x', substr(md5(concat(CAST(j.d AS VARCHAR), ':',
               CAST(m.user_id AS VARCHAR))), 1, 15)) AS BIGINT)
               % {BF_WORDS * BF_BPW} AS pos
        FROM members m CROSS JOIN j
    ),
    words AS (
        SELECT pos // {BF_BPW} AS w,
               bit_or(CAST(power(2, pos % {BF_BPW}) AS BIGINT)) AS bits
        FROM mpos GROUP BY 1
    ),
    keys AS (SELECT user_id FROM per),
    probes AS (
        SELECT k.user_id, CAST(concat('0x', substr(md5(concat(CAST(j.d AS VARCHAR), ':',
               CAST(k.user_id AS VARCHAR))), 1, 15)) AS BIGINT)
               % {BF_WORDS * BF_BPW} AS pos
        FROM keys k CROSS JOIN j
    ),
    hits AS (
        SELECT p.user_id,
               SUM(CASE WHEN (w.bits & CAST(power(2, p.pos % {BF_BPW}) AS BIGINT))
                        <> 0 THEN 1 ELSE 0 END) AS nbits
        FROM probes p LEFT JOIN words w ON p.pos // {BF_BPW} = w.w
        GROUP BY p.user_id
    ),
    stats AS (
        SELECT CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
               CAST((SELECT COUNT(*) FROM members) AS BIGINT) AS n_members,
               CAST((SELECT COUNT(*) FROM hits WHERE nbits = {BF_K}) AS BIGINT)
                   AS n_pass,
               CAST((SELECT SUM(bit_count(bits)) FROM words) AS BIGINT)
                   AS n_set_bits
    )
    SELECT n_keys, n_members, n_pass,
           n_pass - n_members AS n_false_pos,
           round((n_pass - n_members) * 1.0 / (n_keys - n_members), 6) AS fp_rate,
           n_set_bits
    FROM stats
    """,
    doc="Bloom-filter JOIN PREFILTER, hash-checked cross-engine down "
    "to the exact bit array — the explicit form of the runtime-filter "
    "/ semi-join-reduction pattern a 100 TB engine uses to prune a "
    "big probe side before it reaches the shuffle. Build: members "
    f"(users purchasing more than they view) each set BF_K={BF_K} "
    f"bits (60-bit md5('j:k') positions) in a {BF_WORDS}×{BF_BPW}-bit "
    "array packed as positive BIGINT words via exact power-of-two "
    "masks (2^0..2^61 are exactly representable doubles, so "
    "CAST(power(2,·)) is engine-identical; the sign bit is never "
    "touched) and merged with ONE map-side-combinable bit_or over "
    "≤ 64 rows — Bloom arrays are mergeable by OR, the property that "
    "lets every partition build its own and combine. Probe: every "
    "distinct key joins the broadcast word table and passes iff all "
    "K bits are set. Bloom filters never yield false NEGATIVES, so "
    "n_pass ≥ n_members is an invariant the oracle hash enforces; "
    "the measured false-positive rate rides along (geometry is "
    "deliberately tight — 3 968 bits — so fp is non-degenerate at "
    "sf0.1; production sizing is 10-15 bits/element).",
)
def events_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    per = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("np"),
        F.sum((F.col("event_type") == "view").cast("int")).alias("nv"),
    )
    members = per.filter(F.col("np") > F.col("nv")).select("user_id")
    keys = per.select("user_id")
    dvals = F.explode(F.array(*[F.lit(i) for i in range(BF_K)])).alias("d")
    m_total = BF_WORDS * BF_BPW

    def pos_expr():
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("d").cast("string"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % m_total
        ).alias("pos")

    mask = F.pow(F.lit(2.0), (F.col("pos") % BF_BPW).cast("double")).cast("long")
    words = (
        members.select("user_id", dvals)
        .select(pos_expr())
        .select((F.col("pos") / BF_BPW).cast("long").alias("w"), mask.alias("m"))
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
    )
    probes = (
        keys.select("user_id", dvals)
        .select("user_id", pos_expr())
        .select(
            "user_id",
            (F.col("pos") / BF_BPW).cast("long").alias("w"),
            mask.alias("m"),
        )
    )
    hits = (
        probes.join(F.broadcast(words), "w", "left")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("bits").bitwiseAND(F.col("m")) != 0, 1
                ).otherwise(0)
            ).alias("nbits")
        )
    )
    n_keys = keys.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    n_members = members.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    n_pass = (
        hits.filter(F.col("nbits") == BF_K)
        .agg(F.count(F.lit(1)).cast("long").alias("n_pass"))
    )
    n_bits = words.agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_set_bits")
    )
    return (
        n_keys.crossJoin(n_members)
        .crossJoin(n_pass)
        .crossJoin(n_bits)
        .select(
            "n_keys",
            "n_members",
            "n_pass",
            (F.col("n_pass") - F.col("n_members")).alias("n_false_pos"),
            F.round(
                (F.col("n_pass") - F.col("n_members"))
                * F.lit(1.0)
                / (F.col("n_keys") - F.col("n_members")),
                6,
            ).alias("fp_rate"),
            "n_set_bits",
        )
    )


# ----------------------------------------------------------------------
# round 7 (cont.): binned non-equi range join, GROUPING SETS, pivot →
# unpivot round trip — the remaining relational surface
# ----------------------------------------------------------------------

#: deterministic incident-window table: 3 maintenance slots per day of
#: Jan 2024, start = day d at hour (k*8 + d%3), 45 minutes each —
#: integer epoch arithmetic both engines reproduce exactly
_JAN1_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_INC_DUR_US = 45 * 60 * 1_000_000
_HOUR_US = 3_600 * 1_000_000


@register(
    "events_incident_range_join",
    oracle=f"""
    WITH inc AS (
        SELECT (1 + id // 3) * 10 + (id % 3) AS incident_id,
               {_JAN1_US} + ((id // 3) * 86400
                   + ((id % 3) * 8 + (1 + id // 3) % 3) * 3600) * 1000000
                   AS start_us
        FROM range(90) AS t(id)
    ),
    w AS (SELECT incident_id, start_us, start_us + {_INC_DUR_US} AS end_us FROM inc),
    bins AS (
        SELECT incident_id, start_us, end_us, UNNEST(list_distinct(
            [start_us // {_HOUR_US}, (end_us - 1) // {_HOUR_US}])) AS bin
        FROM w
    ),
    ev AS (
        SELECT event_type, value, epoch_us(ts) AS us,
               epoch_us(ts) // {_HOUR_US} AS bin
        FROM events
    )
    SELECT incident_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(24,6))
                AS DOUBLE) AS total_value
    FROM ev JOIN bins ON ev.bin = bins.bin
    WHERE us >= start_us AND us < end_us
    GROUP BY incident_id
    ORDER BY incident_id
    """,
    doc="Non-equi RANGE JOIN via interval binning — the manual form of "
    "the range-join-hint technique: events fall inside deterministic "
    "45-minute maintenance windows that share NO equi key with the "
    "fact stream. A naive theta join is a broadcast-nested-loop over "
    "every (event, window) pair; binning makes it an EQUI join: each "
    "window explodes to the 1-2 hour buckets it overlaps (duration < "
    "bin width bounds the fanout), each event maps to exactly one "
    "bucket, the join runs hash-partitioned on the bucket, and the "
    "true containment predicate applies as a cheap residual. At "
    "100 TB both sides stay distributed — no broadcast requirement, "
    "shuffle keyed on time buckets (naturally balanced for "
    "time-uniform data; a hot bucket would take the same salting as "
    "events_topk_salted). Epoch arithmetic is integer-exact in both "
    "engines; value sums are decimal-exact.",
)
def events_incident_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = F.col("id")
    day = (idx / 3).cast("long")  # 0-based day index
    slot = idx % 3
    start_us = (
        F.lit(_JAN1_US)
        + (day * 86400 + (slot * 8 + (day + 1) % 3) * 3600) * 1_000_000
    )
    windows = (
        spark.range(90)
        .select(
            ((day + 1) * 10 + slot).alias("incident_id"),
            start_us.alias("start_us"),
            (start_us + _INC_DUR_US).alias("end_us"),
        )
        .select(
            "incident_id", "start_us", "end_us",
            F.explode(
                F.array_distinct(
                    F.array(
                        (F.col("start_us") / _HOUR_US).cast("long"),
                        ((F.col("end_us") - 1) / _HOUR_US).cast("long"),
                    )
                )
            ).alias("bin"),
        )
    )
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    ev = ev.withColumn("bin", (F.col("us") / _HOUR_US).cast("long"))
    joined = ev.join(windows, "bin").filter(
        (F.col("us") >= F.col("start_us")) & (F.col("us") < F.col("end_us"))
    )
    return (
        joined.groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("n_errors"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("decimal(24,6)")
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("incident_id")
    )


_DAY_US = 86_400 * 1_000_000


@register(
    "events_grouping_sets",
    oracle=f"""
    SELECT event_type,
           (epoch_us(ts) // {_DAY_US}) % 7 AS day_idx,
           CAST(GROUPING(event_type, (epoch_us(ts) // {_DAY_US}) % 7) AS INT)
               AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(24,6))
                AS DOUBLE) AS total_value
    FROM events
    GROUP BY GROUPING SETS (
        (event_type, (epoch_us(ts) // {_DAY_US}) % 7),
        (event_type),
        ((epoch_us(ts) // {_DAY_US}) % 7),
        ()
    )
    """,
    doc="Arbitrary GROUPING SETS — the general grouping-lattice form "
    "beyond ROLLUP (rollup_doc_counts) and CUBE (events_cube_hourly): "
    "(type, weekday-index), (type), (weekday), and the grand total in "
    "ONE pass, with GROUPING() bit-vectors disambiguating real NULLs "
    "from subtotal rows. The weekday is an integer epoch-day mod 7 "
    "(engine-independent; named day-of-week functions differ on "
    "locale). Plan: Spark expands the four sets into one Expand node "
    "feeding a single map-side-partial hash aggregate — 4 sets cost "
    "one shuffle, not four scans; exactly the 100 TB shape for "
    "dashboard subtotal fan-out. Value sums decimal-exact.",
)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (
            (F.unix_micros(F.col("ts").cast("timestamp")) / _DAY_US).cast("long")
            % 7
        ).alias("day_idx"),
    )
    return ev.groupingSets(
        [
            [F.col("event_type"), F.col("day_idx")],
            [F.col("event_type")],
            [F.col("day_idx")],
            [],
        ],
        F.col("event_type"),
        F.col("day_idx"),
    ).agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("decimal(24,6)")
        .cast("double")
        .alias("total_value"),
    )


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_pivot_unpivot",
    oracle=f"""
    WITH days AS (
        SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS day_idx FROM events
    ),
    types AS (
        SELECT UNNEST(['{"', '".join(_PIVOT_TYPES)}']) AS event_type
    ),
    counts AS (
        SELECT epoch_us(ts) // {_DAY_US} AS day_idx, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT d.day_idx, t.event_type,
           COALESCE(c.n_events, 0) AS n_events
    FROM days d CROSS JOIN types t
    LEFT JOIN counts c
      ON c.day_idx = d.day_idx AND c.event_type = t.event_type
    ORDER BY d.day_idx, t.event_type
    """,
    doc="PIVOT → UNPIVOT round trip: daily event counts pivot to one "
    "column per event type (EXPLICIT value list — pivot without one "
    "costs an extra distinct-collection job and unbounded-width risk "
    "at scale), then melt back to long form. The round trip is NOT a "
    "no-op: pivot materializes absent (day, type) combinations as "
    "NULL, so the unpivoted output carries explicit zeros for them — "
    "which is what the oracle pins via its day×type cross join. "
    "Plan: one shuffle for the (day, type) count, pivot and unpivot "
    "are both projection-only on the aggregated (entity-scale) frame.",
)
def events_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        (F.unix_micros(F.col("ts").cast("timestamp")) / _DAY_US)
        .cast("long")
        .alias("day_idx"),
        "event_type",
    )
    wide = (
        ev.groupBy("day_idx")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return (
        wide.unpivot(
            ids=["day_idx"],
            values=list(_PIVOT_TYPES),
            variableColumnName="event_type",
            valueColumnName="_n",
        )
        .select(
            "day_idx",
            "event_type",
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
        .orderBy("day_idx", "event_type")
    )


# ----------------------------------------------------------------------
# round 9: sketch MERGE-cost witness — state-table sizes vs geometry
# ----------------------------------------------------------------------


def sketch_state_sizes(spark: SparkSession, sf_dir: str) -> dict:
    """Rows in each mergeable sketch's STATE table — the payload
    partitions exchange when sketches are merged — next to the
    geometric cap that makes each a sketch (VERDICT r8 #6).

    Scan cost for the sketch queries is trivially linear in N (every
    event is hashed once, map-side); the 100 TB property worth gating
    is that the MERGE side is bounded by geometry alone:

    * HLL register table (``events_distinct_users_hll``): one row per
      (event_type, bucket) — cap ``n_types × HLL_M``. Growth vs N is
      the coupon-collector occupancy curve, strictly concave, flat
      once every register is touched.
    * CMS counter table (``events_heavy_hitters_cms``): one row per
      (d, bucket) — cap ``CMS_D × CMS_W``, same saturation shape.
    * Bloom word table (``events_bloom_prefilter``): one row per
      62-bit word with any bit set — cap ``BF_WORDS`` (saturates
      almost immediately at the deliberately-tight 3 968-bit
      geometry).

    The bucket/position expressions are the exact ones the registered
    queries build (60-bit md5 prefix via ``conv``), so a geometry or
    hash change there moves these numbers too. Returns measured sizes
    plus their caps so callers assert ``size <= cap`` without
    re-importing constants.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")

    def h60(col):  # the repo's cross-engine 60-bit hash
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

    n_types = ev.select("event_type").distinct().count()
    hll_regs = (
        ev.select(
            "event_type",
            (h60(F.col("user_id").cast("string")) % HLL_M).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .count()
        .count()
    )

    dkey = F.concat_ws(
        ":", F.col("d").cast("string"), F.col("user_id").cast("string")
    )
    cms_counters = (
        ev.select(
            "user_id",
            F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("d"),
        )
        .select("d", (h60(dkey) % CMS_W).alias("bucket"))
        .groupBy("d", "bucket")
        .count()
        .count()
    )

    per = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("np"),
        F.sum((F.col("event_type") == "view").cast("int")).alias("nv"),
    )
    members = per.filter(F.col("np") > F.col("nv")).select("user_id")
    bloom_words = (
        members.select(
            "user_id",
            F.explode(F.array(*[F.lit(i) for i in range(BF_K)])).alias("d"),
        )
        .select((h60(dkey) % (BF_WORDS * BF_BPW)).alias("pos"))
        .select(F.expr(f"pos div {BF_BPW}").alias("w"))
        .distinct()
        .count()
    )

    return {
        "hll_regs": hll_regs,
        "hll_cap": n_types * HLL_M,
        "cms_counters": cms_counters,
        "cms_cap": CMS_D * CMS_W,
        "bloom_words": bloom_words,
        "bloom_cap": BF_WORDS,
        "n_types": n_types,
    }
