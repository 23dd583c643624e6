"""Distributed untyped grid utilities.

The load-bearing invariant from the reference is **file row order**
(reference ``app/services/ingestor.py:545,554``: header slicing, error
messages, keep-first dedup all index by original row position). A
distributed scan loses implicit order, so we materialize it once as a
contiguous ``row_idx`` column computed scale-correctly: no global sort,
no single-partition window, no RDD round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROW_IDX = "row_idx"


def with_row_idx(
    df: DataFrame, col_name: str = ROW_IDX, flag: Column | None = None
) -> tuple[DataFrame, int, int]:
    """Attach a contiguous 0-based file-order row index.

    Returns ``(indexed, n_rows, n_flagged)``: the frame with the index
    column, its row count, and how many rows satisfy ``flag`` (0 when
    no flag is given). All three come from one job.

    Two-pass pattern (the distributed equivalent of pandas' implicit
    positional index):

    1. ``monotonically_increasing_id`` is strictly increasing *within*
       a partition, and partitions of a single input file are created
       in byte order, so ``(partition_id, mid)`` already sorts in file
       order.
    2. One tiny aggregate job computes each partition's row count,
       minimum mid and flagged-row count; the driver turns counts into
       cumulative offsets and sums them into ``n_rows``/``n_flagged``.
    3. ``row_idx = shift[pid] + mid`` with ``shift[pid] = offset[pid] -
       min_mid[pid]``, read from a literal array in the plan: no join,
       so later actions on the frame run no extra job and a ``limit``
       over it stops after the first partitions it needs.

    The array holds one long per input partition. An upload is capped
    at ``MAX_UPLOAD_MB`` (100 MB), so that is tens of entries; a frame
    with many thousands of partitions would want a join instead.
    """
    if flag is None:
        flag = F.lit(False)
    tagged = df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mid", F.monotonically_increasing_id()
    )
    stats = (
        tagged.groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.min("_mid").alias("_min_mid"),
            F.count(F.when(flag, 1)).alias("_flagged"),
        )
        .collect()
    )
    # empty partitions are absent from stats; their slots are never read
    shift = [0] * (max((r["_pid"] for r in stats), default=0) + 1)
    offset = 0
    for r in sorted(stats, key=lambda r: r["_pid"]):
        shift[r["_pid"]] = offset - r["_min_mid"]
        offset += r["_cnt"]
    shifts = F.array(*[F.lit(s).cast("long") for s in shift])
    indexed = tagged.withColumn(
        col_name, F.element_at(shifts, F.col("_pid") + 1) + F.col("_mid")
    ).drop("_pid", "_mid")
    return indexed, offset, sum(r["_flagged"] for r in stats)
