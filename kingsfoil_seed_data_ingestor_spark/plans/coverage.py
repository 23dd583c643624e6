"""Coverage queries: the remaining SURVEY.md §2 operator shapes.

Each query exercises one shape of the reference's inventory that the
earlier registrations didn't cover under the oracle gate: keep-first
dedup (A1), profile null-stats (A2), the CMS transform expression
library (F1–F11) under round-trip, the as-of non-equi join, set
operations, ROLLUP grouping sets, and window frame specs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.functions import transforms as X
from kingsfoil_seed_data_ingestor_spark.operators.asof import asof_join
from kingsfoil_seed_data_ingestor_spark.operators.dedup import keep_first
from functools import partial

from kingsfoil_seed_data_ingestor_spark.plans.core import register as _register

# reference-parity set: always inside the driver's correctness window
register = partial(_register, parity=True)
from kingsfoil_seed_data_ingestor_spark.plans.tables import load

DEC = "decimal(18,4)"


@register(
    "dedup_keep_first",
    oracle="""
    WITH keyed AS (
        SELECT l_returnflag, l_quantity,
               ROW_NUMBER() OVER (
                   PARTITION BY l_partkey, l_suppkey
                   ORDER BY l_orderkey, l_linenumber, l_quantity,
                            l_extendedprice, l_returnflag
               ) AS rn
        FROM lineitem
    )
    SELECT l_returnflag,
           COUNT(*) AS n_kept,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM keyed WHERE rn = 1
    GROUP BY l_returnflag
    """,
    doc="A1 — keep-first dedup (reference detect_duplicates, "
    "ingestor.py:468-496) over (l_partkey, l_suppkey) ordered by a "
    "file-order surrogate ((l_orderkey, l_linenumber) is NOT unique in "
    "this testdata, so payload columns extend the tiebreak for a "
    "deterministic pick). Uses the same keep_first operator the ingest "
    "pipeline runs: ranking window on the keys, null-key rows exempted "
    "pre-shuffle.",
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").withColumn(
        "_ord",
        F.struct(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
        ),
    )
    kept, _dups = keep_first(li, ["l_partkey", "l_suppkey"], "_ord")
    return (
        kept.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("total_qty"),
        )
    )


@register(
    "profile_null_stats",
    oracle="""
    WITH t AS (
        SELECT CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderpriority END AS pri,
               CASE WHEN o_totalprice < 1000 THEN NULL ELSE o_totalprice END AS price
        FROM orders
    )
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(*) - COUNT(pri) AS BIGINT) AS pri_nulls,
           round((COUNT(*) - COUNT(pri)) * 100.0 / COUNT(*), 2) AS pri_null_pct,
           CAST(COUNT(*) - COUNT(price) AS BIGINT) AS price_nulls,
           round((COUNT(*) - COUNT(price)) * 100.0 / COUNT(*), 2) AS price_null_pct
    FROM t
    """,
    doc="A2 — per-column null-count/percentage profiling in ONE "
    "aggregate pass (reference accumulates per row in Python, "
    "ingestor.py:577-582). Null columns derived deterministically so "
    "the oracle sees identical data.",
)
def profile_null_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "O", None)
        .otherwise(F.col("o_orderpriority"))
        .alias("pri"),
        F.when(F.col("o_totalprice") < 1000, None)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    n = F.count(F.lit(1))
    return o.agg(
        n.alias("n_rows"),
        (n - F.count("pri")).alias("pri_nulls"),
        F.round((n - F.count("pri")) * 100.0 / n, 2).alias("pri_null_pct"),
        (n - F.count("price")).alias("price_nulls"),
        F.round((n - F.count("price")) * 100.0 / n, 2).alias("price_null_pct"),
    )


@register(
    "transforms_roundtrip",
    oracle="""
    WITH raw AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'N/A'
                    ELSE strftime(o_orderdate, '%Y%m%d') END AS date_str,
               CASE WHEN o_orderkey % 11 = 0 THEN '*'
                    WHEN o_orderkey % 5 = 0 THEN '12.34.56'
                    ELSE '1,' || lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0')
                         || '.25' END AS num_str,
               CASE WHEN o_orderkey % 2 = 0 THEN '1' ELSE 'no' END AS bool_str,
               '  ab' || CAST(o_orderkey % 100 AS VARCHAR) || '  ' AS code_str
        FROM orders WHERE o_orderkey < 500
    )
    SELECT o_orderkey,
           CASE WHEN date_str IN ('', '*', 'NULL', 'N/A', 'nan', 'NaN') THEN NULL
                ELSE try_strptime(date_str, '%Y%m%d') END AS parsed_date,
           CASE WHEN num_str IN ('', 'NULL', 'N/A', '*', 'nan', 'NaN') THEN NULL
                ELSE try_cast(replace(num_str, ',', '') AS DOUBLE) END AS parsed_num,
           CASE WHEN lower(bool_str) IN ('1','true','yes','y','*') THEN TRUE
                WHEN lower(bool_str) IN ('0','false','no','n','') THEN FALSE
                ELSE NULL END AS parsed_bool,
           upper(trim(code_str)) AS cleaned_code
    FROM raw
    """,
    doc="F1/F2/F4/F5 — the CMS transform expression library under the "
    "oracle gate: multi-format date parse, comma-numeric parse, "
    "boolean vocabulary, code cleanup — applied to deterministically "
    "string-ified columns. All total expressions (sentinel/invalid → "
    "NULL), whole-stage codegen, zero Python in the hot path.",
)
def transforms_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    raw = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, "N/A")
        .otherwise(F.date_format("o_orderdate", "yyyyMMdd"))
        .alias("date_str"),
        F.when(F.col("o_orderkey") % 11 == 0, "*")
        .when(F.col("o_orderkey") % 5 == 0, "12.34.56")
        .otherwise(
            F.concat(
                F.lit("1,"),
                F.lpad((F.col("o_orderkey") % 1000).cast("string"), 3, "0"),
                F.lit(".25"),
            )
        )
        .alias("num_str"),
        F.when(F.col("o_orderkey") % 2 == 0, "1").otherwise("no").alias("bool_str"),
        F.concat(
            F.lit("  ab"), (F.col("o_orderkey") % 100).cast("string"), F.lit("  ")
        ).alias("code_str"),
    )
    return raw.select(
        "o_orderkey",
        # timestamp (not date) so both engines land on one pandas dtype
        X.parse_date("date_str").cast("timestamp").alias("parsed_date"),
        X.parse_numeric("num_str").alias("parsed_num"),
        X.parse_boolean("bool_str").alias("parsed_bool"),
        X.clean_code("code_str").alias("cleaned_code"),
    )


@register(
    "asof_join_latest_order",
    oracle="""
    WITH matched AS (
        SELECT e.event_id, e.event_type, o.o_orderdate
        FROM events e
        ASOF LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(o_orderdate) AS n_matched,
           MAX(o_orderdate) AS latest_order_seen
    FROM matched GROUP BY event_type
    """,
    doc="The as-of non-equi join (reference analyzer's effective-date "
    "lookup pattern, seed_data.py:316-323) implemented scale-safe: "
    "union both sides, ONE window per key carries the latest order "
    "date forward — no broadcast-nested-loop, no range explosion. "
    "Oracle uses DuckDB's native ASOF JOIN.",
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "ts")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    joined = asof_join(
        ev,
        orders,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        value_cols=["o_orderdate"],
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("o_orderdate").alias("n_matched"),
        F.max("o_orderdate").alias("latest_order_seen"),
    )


@register(
    "set_ops_priority",
    oracle="""
    WITH urgent AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    high AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    SELECT 'both' AS bucket, COUNT(*) AS n FROM (
        SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM high
    )
    UNION ALL
    SELECT 'urgent_only', COUNT(*) FROM (
        SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM high
    )
    UNION ALL
    SELECT 'either', COUNT(*) FROM (
        SELECT o_custkey FROM urgent UNION SELECT o_custkey FROM high
    )
    """,
    doc="Set operations (absent from the reference, SURVEY.md §2.7 — "
    "unioned here for surface completeness): INTERSECT / EXCEPT / "
    "UNION over customer key sets, each planned as a shuffle "
    "(left-semi/anti hash) join by Catalyst.",
)
def set_ops_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey").distinct()
    spark_rows = [
        urgent.intersect(high).agg(F.count(F.lit(1)).alias("n")).select(F.lit("both").alias("bucket"), "n"),
        urgent.exceptAll(high).agg(F.count(F.lit(1)).alias("n")).select(F.lit("urgent_only").alias("bucket"), "n"),
        urgent.union(high).distinct().agg(F.count(F.lit(1)).alias("n")).select(F.lit("either").alias("bucket"), "n"),
    ]
    out = spark_rows[0]
    for extra in spark_rows[1:]:
        out = out.unionByName(extra)
    return out


@register(
    "rollup_doc_counts",
    oracle="""
    SELECT COALESCE(lang, 'ALL') AS lang,
           COALESCE(source, 'ALL') AS source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ROLLUP (lang, source)
    """,
    doc="Grouping sets (ROLLUP) — subtotal hierarchy lang → source → "
    "grand total in one pass (Spark expands to a single shuffle with "
    "grouping-id; no per-level rescans).",
)
def rollup_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


@register(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_orders
    FROM orders WHERE o_custkey < 50
    """,
    doc="Window frame specs (rowsBetween — absent from the reference, "
    "SURVEY.md §2.5): per-customer running order totals with a "
    "decimal-exact cumulative sum. One shuffle on the partition key.",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_total"),
        F.count(F.lit(1)).over(w).alias("running_orders"),
    )
