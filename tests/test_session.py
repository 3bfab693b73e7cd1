"""Driver heap default sized from the host's MemTotal."""

from __future__ import annotations

import pytest

from pdf_ocr_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "mem_total_kb, heap",
    [
        (16_456_384, "7g"),  # half of 15.7 GiB, rounded down
        (64 * 1024**2, "24g"),  # big host: capped
        (48 * 1024**2, "24g"),  # exactly twice the cap
        (1024**2, "1g"),  # tiny host: never below 1g
    ],
)
def test_half_of_mem_total_capped(tmp_path, mem_total_kb, heap):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {mem_total_kb} kB\nMemFree:        1024 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == heap


def test_no_meminfo_falls_back_to_cap(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "24g"
    empty = tmp_path / "meminfo"
    empty.write_text("MemFree:        1024 kB\n")
    assert default_driver_memory(str(empty)) == "24g"
