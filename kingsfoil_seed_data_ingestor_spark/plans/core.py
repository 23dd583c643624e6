"""Query registry plumbing.

Every named query carries BOTH a Spark DataFrame builder and an
ANSI-SQL oracle string for DuckDB. The driver harness runs both at
sf=0.01 and hash-compares values, so the builders follow strict
determinism rules:

* column names are aliased identically on both sides;
* floating-point **sums** are never compared raw — money-style columns
  are cast to DECIMAL before aggregation (exact, order-independent)
  and the final value cast back to DOUBLE (the exact decimal → double
  conversion is IEEE-deterministic in both engines);
* LIMIT/top-k queries order by a key combination that is provably
  unique so the selected set is engine-independent;
* timestamps are compared under UTC session time (see session.py).
"""

from __future__ import annotations

import glob
import os
import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    doc: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str
    parity: bool = False  # reference-parity set, pinned in the driver window


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str, doc: str = "", parity: bool = False):
    """Decorator: add a (spark_fn, oracle_sql) pair to the registry.

    ``parity`` marks the reference-parity queries (SURVEY §2), which
    ``ordered_queries`` keeps inside the driver's capped check every
    round. Registering a name twice is an error.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = Query(
            name=name,
            doc=doc or (fn.__doc__ or ""),
            spark=fn,
            oracle=oracle,
            parity=parity,
        )
        return fn

    return deco


#: size of the driver's independent hash-check window (first N of
#: ``ordered_queries()``)
DRIVER_WINDOW = 50
#: fallback only — the live value is derived by ``_detect_round`` so a
#: forgotten manual bump can no longer freeze the window
_ROTATION_FALLBACK_ROUND = 11


def _detect_round() -> int:
    """The build round currently in progress, without a manual source
    edit each round (one forgotten bump would freeze the rotation and
    the driver would re-check the same window forever). Resolution
    order:

    1. ``SPARK_GRAFT_ROUND`` env (driver/operator override);
    2. newest ``CORRECTNESS_r{N}.json`` at the repo root — the driver
       writes round N's artifact AFTER round N, so the round being
       built is N+1;
    3. the pinned fallback (fresh checkout with no artifacts).
    """
    env = os.environ.get("SPARK_GRAFT_ROUND", "")
    if env.isdigit():
        return int(env)
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return max(rounds) + 1 if rounds else _ROTATION_FALLBACK_ROUND


ROTATION_ROUND = _detect_round()


def ordered_queries() -> list[Query]:
    """Registry ordered for the driver, which hash-checks only the
    first ``DRIVER_WINDOW`` entries: the parity queries, then the other
    queries in registration order, rotated so the window's remaining
    slots take a slice that slides by its own width each
    ``ROTATION_ROUND``. Every query cycles back under the driver's
    check within ⌈others/slots⌉ rounds."""
    parity = [q for q in QUERIES.values() if q.parity]
    others = [q for q in QUERIES.values() if not q.parity]
    slots = DRIVER_WINDOW - len(parity)
    start = (ROTATION_ROUND * slots) % len(others) if others else 0
    return parity + others[start:] + others[:start]
