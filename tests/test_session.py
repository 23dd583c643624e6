"""Session defaults: sized from the host, zstd for every byte written."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.operators import VersionStore
from kingsfoil_seed_data_ingestor_spark.plans.tables import load
from kingsfoil_seed_data_ingestor_spark.registry import get_source
from kingsfoil_seed_data_ingestor_spark.session import default_driver_heap_gb
from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex
from tests.conftest import SF_DIR, parquet_codecs


@pytest.mark.parametrize(
    "mem_total_kb, heap_gb",
    [
        (16479424, 7),  # 15.7 GiB host: half, rounded down
        (2 * 2**20, 1),  # 2 GiB: exactly half
        (512 * 2**10, 1),  # below 2 GiB: floor of 1
        (128 * 2**20, 24),  # 128 GiB: capped
    ],
)
def test_default_driver_heap_is_half_of_mem_total(tmp_path, mem_total_kb, heap_gb):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {mem_total_kb} kB\n"
        "MemFree:         1000 kB\n"
        "MemAvailable:    2000 kB\n"
    )
    assert default_driver_heap_gb(str(meminfo)) == heap_gb


def test_default_driver_heap_without_meminfo(tmp_path):
    assert default_driver_heap_gb(str(tmp_path / "absent")) == 1


def test_session_writes_zstd(spark, tmp_path):
    """``get_spark`` sets zstd for shuffle, broadcast, spill and
    checkpoint streams and for parquet, and turns checkpoint
    compression on; a committed fact file, an L0 ``docs`` file and a
    compacted run's ``banded`` file all report ZSTD in their footers."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.io.compression.codec") == "zstd"
    assert conf.get("spark.checkpoint.compress") == "true"
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"

    store = VersionStore(spark, str(tmp_path / "warehouse"))
    src = get_source("PFS_RVU")
    rows = spark.range(100).withColumn("hcpcs", F.col("id").cast("string"))
    store.write_records(src, 1, rows)
    facts = list(Path(store.fact_path(src)).glob("data_version_id=1/*.parquet"))

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    ix = StreamingLSHIndex(str(tmp_path / "lsh"), threshold=0.8, compact_every=1)
    for b in range(3):
        ix.process_batch(docs.filter(F.col("doc_id") % 3 == b), b)
    docs_l0 = list(Path(ix._sub("docs")).glob("batch_id=*/*.parquet"))
    banded = [
        p
        for r in ix._compaction()["runs"]
        for p in Path(ix._run_dir(r["name"]), "banded").glob("*.parquet")
    ]
    for files in (facts, docs_l0, banded):
        assert files and parquet_codecs(*files) == {"ZSTD"}, files
