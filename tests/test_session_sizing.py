"""Driver-heap sizing from the host's /proc/meminfo (no JVM started)."""

import pytest

from rio_spark import session
from rio_spark.session import heap_for_host

MEMINFO_15GB = """MemTotal:       16479424 kB
MemFree:        15003392 kB
MemAvailable:   16024168 kB
Buffers:            2048 kB
"""

MEMINFO_125GB = """MemTotal:       131072000 kB
MemFree:        120000000 kB
MemAvailable:   127500000 kB
"""


def test_heap_fits_a_15gb_host():
    # a fixed 16g heap cannot even start here; half of MemAvailable can
    assert heap_for_host(MEMINFO_15GB) == "7g"


def test_heap_capped_at_16g_on_a_125gb_host():
    assert heap_for_host(MEMINFO_125GB) == "16g"


def test_heap_never_below_1g():
    assert heap_for_host("MemAvailable:     900000 kB\n") == "1g"


def test_meminfo_without_available_line_is_an_error():
    with pytest.raises(ValueError):
        heap_for_host("MemTotal:       16479424 kB\n")


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("RIO_SPARK_DRIVER_MEM", "3g")
    assert session._driver_mem() == "3g"
