"""Relational query shapes from SURVEY.md §2, expressed over the driver
testdata star schema.

Each query re-expresses one operator shape of the reference (citations
in the docstrings are ``/root/reference`` file:line) as an idiomatic
Catalyst-optimized DataFrame plan, with a DuckDB oracle. Scale notes
accompany every shape: what shuffles, what broadcasts, what prunes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.functions import transforms as X
from functools import partial

from kingsfoil_seed_data_ingestor_spark.plans.core import register as _register

# reference-parity set: always inside the driver's correctness window
register = partial(_register, parity=True)
from kingsfoil_seed_data_ingestor_spark.plans.tables import load

# Exact money arithmetic: cast to decimal before aggregating so sums are
# order-independent, then back to double for a stable comparable type.
DEC = "decimal(18,4)"

# Decimal→double canonicalization. A wide decimal sum (e.g. (38,12)) has
# an unscaled int beyond 2^53, and DuckDB's decimal→double conversion is
# then off by 1 ulp vs Spark's. The testdata's money columns carry ≤2
# true decimals, so every product has ≤6 — casting the sum to scale 6
# first is EXACT, keeps the unscaled value under 2^53 at harness scale,
# and makes both engines' double conversions correctly rounded (IEEE
# division of two exactly-representable values). Oracle-side mirror:
# CAST(CAST(SUM(...) AS DECIMAL(24,6)) AS DOUBLE).
EXACT = "decimal(24,6)"


def exact_double(col: F.Column) -> F.Column:
    return col.cast(EXACT).cast("double")


def dsum(col) -> F.Column:
    return exact_double(F.sum(col.cast(DEC)))


# ------------------------------------------------------------------
# A-series: aggregations
# ------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        SUM(l_quantity) AS sum_qty,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(24,6)) AS DOUBLE)
            AS sum_base_price,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(7,4))) AS DECIMAL(24,6)) AS DOUBLE)
            AS sum_disc_price,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(7,4))
                      * CAST(1 + l_tax AS DECIMAL(7,4))) AS DECIMAL(24,6)) AS DOUBLE)
            AS sum_charge,
        SUM(l_quantity) / COUNT(*) AS avg_qty,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(24,6)) AS DOUBLE)
            / COUNT(*) AS avg_price,
        CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(24,6)) AS DOUBLE)
            / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship multi-aggregate groupBy (TPC-H Q1 shape; reference A2/A3 "
    "profile-stats aggregations, ingestor.py:547,577-622). One shuffle on "
    "the grouping key with map-side partial aggregation; scan prunes to 7 "
    "columns and pushes the shipdate filter to parquet.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(DEC)
    # (1±x) factors cast to a TIGHT decimal(7,4) so every product stays
    # within precision 38 on both engines — exact, never scale-reduced.
    # (price(18,4) × (7,4) → (26,8); × (7,4) → (34,12): all exact.
    # A wider factor type pushes Spark past 38 and triggers
    # allowPrecisionLoss scale-rounding that DuckDB doesn't mirror.)
    disc_f = (F.lit(1) - F.col("l_discount")).cast("decimal(7,4)")
    tax_f = (F.lit(1) + F.col("l_tax")).cast("decimal(7,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            exact_double(F.sum(price)).alias("sum_base_price"),
            exact_double(F.sum(price * disc_f)).alias("sum_disc_price"),
            exact_double(F.sum(price * disc_f * tax_f)).alias("sum_charge"),
            (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
            (exact_double(F.sum(price)) / F.count("*")).alias("avg_price"),
            (exact_double(F.sum(F.col("l_discount").cast(DEC))) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ------------------------------------------------------------------
# J-series: join shapes
# ------------------------------------------------------------------


@register(
    "current_view",
    oracle="""
    SELECT l.l_returnflag,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(24,6)) AS DOUBLE)
               AS total_price
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey = 5
    GROUP BY l.l_returnflag
    """,
    doc="J1 — the *_current view shape (init_db.py:424-517): fact table "
    "joined to a small filtered dimension. The dimension is broadcast "
    "(no fact shuffle for the join); at 100 TB the same plan holds since "
    "the version/dimension side stays tiny.",
)
def current_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 5)
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            dsum(F.col("l_extendedprice")).alias("total_price"),
        )
    )


@register(
    "lateral_top1",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey AS latest_orderkey,
           t.o_orderdate AS latest_orderdate, t.o_totalprice AS latest_totalprice
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
        WHERE o_orderstatus = 'F'
    ) t ON t.o_custkey = c.c_custkey AND t.rn = 1
    """,
    doc="J2 — LEFT JOIN LATERAL top-1 (dashboard.py:23-50: latest completed "
    "version per source) as a window rank. One shuffle partitioned by the "
    "group key; the rank filter happens before the join so only one row "
    "per key crosses into the join.",
)
def lateral_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    latest = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderdate").alias("latest_orderdate"),
            F.col("o_totalprice").alias("latest_totalprice"),
        )
    )
    return cust.join(latest, cust.c_custkey == latest.o_custkey, "left").select(
        "c_custkey", "c_mktsegment", "latest_orderkey", "latest_orderdate", "latest_totalprice"
    )


@register(
    "fee_calc",
    oracle="""
    WITH rvu AS (
        SELECT MAX(l_quantity) AS work_rvu,
               MIN(l_extendedprice) AS pe_rvu,
               MAX(l_discount) AS mp_rvu,
               MAX(l_tax) + 1 AS conversion_factor
        FROM lineitem WHERE l_orderkey = 1
    ),
    gpci AS (
        SELECT MAX(o_totalprice) / 100000 AS work_gpci,
               MIN(o_totalprice) / 100000 AS pe_gpci,
               COUNT(*) * 0.01 AS mp_gpci
        FROM orders WHERE o_custkey = 1
    )
    SELECT ROUND(((rvu.work_rvu * gpci.work_gpci) +
                  (rvu.pe_rvu * gpci.pe_gpci) +
                  (rvu.mp_rvu * gpci.mp_gpci)) * rvu.conversion_factor, 2)
           AS non_facility_fee
    FROM rvu, gpci
    """,
    doc="J3 + F15 — the Medicare fee calculation shape (SCHEMA.md:248-264): "
    "two single-row point-lookup CTEs cross-joined into the fee formula. "
    "Both sides reduce to one row before the cross join, so the join is "
    "trivially broadcast; inputs built from MIN/MAX aggregates (order-"
    "independent) for cross-engine determinism.",
)
def fee_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    rvu = li.filter(F.col("l_orderkey") == 1).agg(
        F.max("l_quantity").alias("work_rvu"),
        F.min("l_extendedprice").alias("pe_rvu"),
        F.max("l_discount").alias("mp_rvu"),
        (F.max("l_tax") + 1).alias("conversion_factor"),
    )
    gpci = orders.filter(F.col("o_custkey") == 1).agg(
        (F.max("o_totalprice") / 100000).alias("work_gpci"),
        (F.min("o_totalprice") / 100000).alias("pe_gpci"),
        (F.count("*") * 0.01).alias("mp_gpci"),
    )
    return rvu.crossJoin(gpci).select(
        X.fee_formula(
            F.col("work_rvu"),
            F.col("work_gpci"),
            F.col("pe_rvu"),
            F.col("pe_gpci"),
            F.col("mp_rvu"),
            F.col("mp_gpci"),
            F.col("conversion_factor"),
        ).alias("non_facility_fee")
    )


@register(
    "semi_join_exists",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    GROUP BY c_mktsegment
    """,
    doc="J5 — existence probe (part-hash duplicate lookup, upload.py:272-279) "
    "as a left-semi join: no payload columns from the probe side cross the "
    "shuffle, and Catalyst can use a bloom/broadcast strategy.",
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "anti_join_missing",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    GROUP BY c_mktsegment
    """,
    doc="NOT EXISTS as a left-anti join (the reference's 'block if duplicate "
    "exists' control flow, upload.py:252-269, inverted).",
)
def anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# ------------------------------------------------------------------
# P-series: projections / filters / predicates
# ------------------------------------------------------------------


@register(
    "point_lookup",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    WHERE l_orderkey = 42
    """,
    doc="J6/P5 — keyed point lookup (validator.py:195-203). The conjunctive "
    "predicate pushes to the parquet scan (min/max row-group skipping); at "
    "scale this is the case for partitioning/Z-ordering on the key.",
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") == 42)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    )


@register(
    "nullsafe_variant_eq",
    oracle="""
    SELECT o_orderpriority AS variant, COUNT(*) AS n
    FROM (
        SELECT CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderpriority END
               AS o_orderpriority
        FROM orders
    )
    WHERE o_orderpriority IS NOT DISTINCT FROM NULL
    GROUP BY o_orderpriority
    """,
    doc="P6 — null-safe equality (variant IS NOT DISTINCT FROM $x, "
    "ingestor.py:143): Spark's <=> / eqNullSafe.",
)
def nullsafe_variant_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "O", F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority")
    )
    return (
        orders.filter(F.col("o_orderpriority").eqNullSafe(F.lit(None)))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(F.col("o_orderpriority").alias("variant"), "n")
    )


@register(
    "array_membership",
    oracle="""
    SELECT n.n_name, r.r_name, COUNT(c.c_custkey) AS n_customers
    FROM nation n
    JOIN region r ON n.n_regionkey = r.r_regionkey
    LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_00', 'NATION_05', 'NATION_10', 'NATION_15')
    GROUP BY n.n_name, r.r_name
    """,
    doc="P7 — array membership (source_code = ANY($1), schema.py:51-58) as "
    "isin over broadcast-joined dimensions.",
)
def array_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_00", "NATION_05", "NATION_10", "NATION_15")
    )
    region = load(spark, sf_dir, "region")
    cust = load(spark, sf_dir, "customer")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(cust, cust.c_nationkey == nation.n_nationkey, "left")
        .groupBy("n_name", "r_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


# ------------------------------------------------------------------
# O-series: sorts / limits / top-k
# ------------------------------------------------------------------


@register(
    "latest_top1",
    oracle="""
    SELECT event_type, event_id AS latest_event_id, ts AS latest_ts
    FROM (
        SELECT event_type, event_id, ts,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="O1 — ORDER BY imported_at DESC LIMIT 1 per group (4 call sites, "
    "e.g. validator.py:55-62) as a rank-1 window; unique (ts, event_id) "
    "tiebreak keeps the answer engine-independent.",
)
def latest_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("event_id").alias("latest_event_id"), F.col("ts").alias("latest_ts"))
    )


@register(
    "recent_versions_top20",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey DESC
    LIMIT 20
    """,
    doc="O2 — ORDER BY ... LIMIT 20 (recent versions UI, upload.py:162-174). "
    "Spark executes this as TakeOrderedAndProject: a per-partition top-K "
    "plus a driver merge, never a full sort — the plan that survives 100 TB.",
)
def recent_versions_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    )


@register(
    "dashboard_grouping",
    oracle="""
    SELECT c.c_mktsegment AS category,
           COUNT(DISTINCT c.c_custkey) AS n_sources,
           COUNT(o.o_orderkey) AS n_versions,
           CAST(CAST(SUM(CAST(COALESCE(o.o_totalprice, 0) AS DECIMAL(18,4))) AS DECIMAL(24,6))
                AS DOUBLE) AS total_value
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="A7/O3 — the dashboard group-by-category fan-out (dashboard.py:53-58) "
    "done engine-side as a groupBy instead of driver-side dict grouping.",
)
def dashboard_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy(F.col("c_mktsegment").alias("category"))
        .agg(
            F.countDistinct("c_custkey").alias("n_sources"),
            F.count("o_orderkey").alias("n_versions"),
            exact_double(
                F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0)).cast(DEC))
            ).alias("total_value"),
        )
    )
