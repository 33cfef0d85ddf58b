"""Session defaults derived from the host."""

from __future__ import annotations

import os

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.session import (
    default_driver_memory,
)


def test_driver_memory_is_three_quarters_of_physical_capped_at_16g():
    assert default_driver_memory(15 << 30) == "11520m"
    assert default_driver_memory(4 << 30) == "3072m"
    assert default_driver_memory(1000 << 20) == "750m"
    assert default_driver_memory(64 << 30) == "16384m"


def test_driver_memory_default_fits_the_host():
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert int(default_driver_memory()[:-1]) << 20 < phys


def test_session_uses_override_else_derived_default(spark):
    expected = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == expected
