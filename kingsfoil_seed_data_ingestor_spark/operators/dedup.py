"""Keep-first in-file deduplication (reference operator A1).

Semantics pinned by reference ``detect_duplicates``
(``app/services/ingestor.py:468-496``; tests
``tests/test_ingestor.py:182-260``):

* first occurrence **in file order** wins;
* rows where *any* unique-key column is NULL are exempt — kept as-is,
  never counted as duplicates;
* the number of dropped duplicates is reported.

``dropDuplicates`` can express neither the order guarantee nor the
null exemption, so this is a ranking window over the key columns with
the file-order ``row_idx``/``row_number`` as the tiebreak.

Scale design: null-key rows are split out *before* the window — they
need no shuffle at all (they can't collide), and routing them through
``partitionBy(keys)`` would funnel every all-NULL key into one hot
partition. The non-null side shuffles once on the key columns; with
AQE on, skewed real keys re-split at runtime.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_RANK = "__kf_rank"


def split_first(
    keyed: DataFrame, keys: list[str] | tuple[str, ...], order_col: str
) -> tuple[DataFrame, DataFrame]:
    """Split rows whose key columns are all non-null into (first
    occurrence per key, later occurrences): one ranking window, one
    shuffle on the key columns. Both keep the input schema."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(order_col))
    ranked = keyed.withColumn(_RANK, F.row_number().over(w))
    first = ranked.filter(F.col(_RANK) == 1).drop(_RANK)
    later = ranked.filter(F.col(_RANK) > 1).drop(_RANK)
    return first, later


def keep_first(
    df: DataFrame, keys: list[str] | tuple[str, ...], order_col: str
) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` into (kept, duplicates) under keep-first semantics.

    ``kept`` = first occurrence per key + all null-key rows;
    ``duplicates`` = later occurrences (what the reference drops and
    counts). Both preserve the input schema.
    """
    any_key_null = reduce(or_, [F.col(k).isNull() for k in keys])
    first, dups = split_first(df.filter(~any_key_null), keys, order_col)
    return first.unionByName(df.filter(any_key_null)), dups
