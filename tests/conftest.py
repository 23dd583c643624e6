"""Shared Spark fixture.

Deliberately leaves Spark 4 defaults (ANSI mode ON) in place — the
engine's expressions must be total under ANSI, exactly as the driver
harness will run them.
"""

from __future__ import annotations

import pytest

from kingsfoil_seed_data_ingestor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="kingsfoil-tests", shuffle_partitions=4)
    yield spark


SF_DIR = "/root/testdata/sf0.001"


def parquet_codecs(*paths) -> set:
    """The compression codecs (``"ZSTD"``, ``"SNAPPY"``, ...) that the
    footers of the given parquet files report for their column chunks."""
    import pyarrow.parquet as pq

    codecs = set()
    for path in paths:
        meta = pq.ParquetFile(str(path)).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            codecs.update(rg.column(c).compression for c in range(rg.num_columns))
    return codecs
