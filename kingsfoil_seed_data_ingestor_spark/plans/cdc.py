"""CDC queries: snapshot diff and changelog replay (MERGE) shapes.

The reference versions whole datasets (``app/services/ingestor.py``
two-phase versioning) but offers no row-level "what changed between
v1 and v2" — the changelog interface every modern table format
(Delta/Iceberg/Hudi CDF) exposes and a 100 TB incremental pipeline
needs so downstream consumers re-process churn, not the world. Both
snapshots here are derived DETERMINISTICALLY from the ``customer``
table — identical expressions in the Spark plan and the DuckDB oracle
— so the diff is fully value-hash-gated:

* ``new`` = customer minus keys ``% 11 = 3`` (deletes), with
  ``c_acctbal + 100.0`` where ``% 7 = 0`` and ``c_mktsegment →
  'CDCSEG'`` where ``% 19 = 2`` (updates — overlapping, so some rows
  change TWO columns), plus re-keyed copies of ``% 13 = 5`` at
  ``key + 100 000 000`` (inserts; the offset clears the replicated key
  range of every bench scale through sf3 by two orders of magnitude).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.operators.diff import (
    apply_changes,
    snapshot_diff,
)
from kingsfoil_seed_data_ingestor_spark.plans.core import register
from kingsfoil_seed_data_ingestor_spark.plans.tables import load

#: insert keys live above every replicated bench key range (sf3 max
#: c_custkey < 3·10^6; see tools/gen_bench_sf1.py strides)
ADD_OFFSET = 100_000_000

_SQL_NEW_SNAPSHOT = f"""
    SELECT c_custkey,
           c_name,
           c_nationkey,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 19 = 2 THEN 'CDCSEG'
                ELSE c_mktsegment END AS c_mktsegment
    FROM customer WHERE c_custkey % 11 <> 3
    UNION ALL
    SELECT c_custkey + {ADD_OFFSET}, c_name, c_nationkey, c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 13 = 5
"""


def _new_snapshot(cust: DataFrame) -> DataFrame:
    """The synthetic v2 snapshot (see module doc) — expression-for-
    expression the mirror of ``_SQL_NEW_SNAPSHOT``."""
    key = F.col("c_custkey")
    mutated = (
        cust.filter(key % 11 != 3)
        .withColumn(
            "c_acctbal",
            F.when(key % 7 == 0, F.col("c_acctbal") + F.lit(100.0)).otherwise(
                F.col("c_acctbal")
            ),
        )
        .withColumn(
            "c_mktsegment",
            F.when(key % 19 == 2, F.lit("CDCSEG")).otherwise(
                F.col("c_mktsegment")
            ),
        )
    )
    added = cust.filter(key % 13 == 5).withColumn(
        "c_custkey", key + F.lit(ADD_OFFSET)
    )
    return mutated.unionByName(added)


@register(
    "snapshot_diff_cdc",
    oracle=f"""
    WITH newt AS ({_SQL_NEW_SNAPSHOT}),
    j AS (
        SELECT o.c_custkey AS ok, n.c_custkey AS nk,
               o.c_name AS o_name, n.c_name AS n_name,
               o.c_nationkey AS o_nat, n.c_nationkey AS n_nat,
               o.c_acctbal AS o_bal, n.c_acctbal AS n_bal,
               o.c_mktsegment AS o_seg, n.c_mktsegment AS n_seg
        FROM customer o FULL OUTER JOIN newt n ON o.c_custkey = n.c_custkey
    )
    SELECT COALESCE(ok, nk) AS c_custkey,
           CASE WHEN ok IS NULL THEN 'added'
                WHEN nk IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           CASE WHEN ok IS NULL OR nk IS NULL THEN ''
                ELSE array_to_string(list_filter([
                    CASE WHEN o_name IS DISTINCT FROM n_name
                         THEN 'c_name' END,
                    CASE WHEN o_nat IS DISTINCT FROM n_nat
                         THEN 'c_nationkey' END,
                    CASE WHEN o_bal IS DISTINCT FROM n_bal
                         THEN 'c_acctbal' END,
                    CASE WHEN o_seg IS DISTINCT FROM n_seg
                         THEN 'c_mktsegment' END
                ], x -> x IS NOT NULL), ',') END AS changed_cols,
           o_name AS old_c_name, o_nat AS old_c_nationkey,
           o_bal AS old_c_acctbal, o_seg AS old_c_mktsegment,
           n_name AS new_c_name, n_nat AS new_c_nationkey,
           n_bal AS new_c_acctbal, n_seg AS new_c_mktsegment
    FROM j
    WHERE ok IS NULL OR nk IS NULL
       OR o_name IS DISTINCT FROM n_name
       OR o_nat IS DISTINCT FROM n_nat
       OR o_bal IS DISTINCT FROM n_bal
       OR o_seg IS DISTINCT FROM n_seg
    """,
    doc="Row-level CDC between two keyed snapshots "
    "(operators/diff.py:snapshot_diff): one co-partitioned full-outer "
    "join, null-safe column comparison JVM-side, emits only churn "
    "(added/removed/changed + which columns changed + both row images) "
    "— at 0.1 % churn on 100 TB the output is 100 GB, never the table. "
    "The v2 snapshot is derived deterministically from customer with "
    "the identical expressions in both engines, so every change_type, "
    "changed_cols string, and both payload images are value-hash-gated.",
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    return snapshot_diff(cust, _new_snapshot(cust), keys=["c_custkey"])


@register(
    "snapshot_merge_apply",
    oracle=_SQL_NEW_SNAPSHOT,
    doc="Changelog replay / MERGE (operators/diff.py:apply_changes): "
    "delete removed keys, upsert added+changed payloads onto the old "
    "snapshot. The oracle is the v2 snapshot itself — the query passes "
    "iff apply_changes(old, snapshot_diff(old, new)) reconstructs new "
    "EXACTLY (the CDC roundtrip law), pinning both operators at once. "
    "Replay is O(old + churn): a left-anti join against the changelog "
    "keys (broadcast at real churn rates) plus a unionByName.",
)
def snapshot_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    changes = snapshot_diff(cust, _new_snapshot(cust), keys=["c_custkey"])
    return apply_changes(cust, changes, keys=["c_custkey"])
