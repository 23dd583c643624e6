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
    3. ``row_idx = offset[pid] + (mid - min_mid[pid])`` via a broadcast
       join on the (―tiny) per-partition stats table.

    Cost at 100 TB: one extra pass that reduces to ~#partitions rows,
    then a broadcast hash join — no shuffle of the data itself.
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
    offset = 0
    rows = []
    for r in sorted(stats, key=lambda r: r["_pid"]):
        rows.append((r["_pid"], offset, r["_min_mid"]))
        offset += r["_cnt"]
    spark = df.sparkSession
    offsets = spark.createDataFrame(rows, "_pid int, _offset long, _min_mid long")
    indexed = (
        tagged.join(F.broadcast(offsets), "_pid")
        .withColumn(col_name, F.col("_offset") + (F.col("_mid") - F.col("_min_mid")))
        .drop("_pid", "_mid", "_offset", "_min_mid")
    )
    return indexed, offset, sum(r["_flagged"] for r in stats)
