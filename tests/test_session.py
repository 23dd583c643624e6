"""Session defaults sized from the host."""

from __future__ import annotations

import pytest

from kingsfoil_seed_data_ingestor_spark.session import default_driver_heap_gb


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
