"""Driver-heap sizing from the host's /proc/meminfo (no JVM started), and
the young generation, Tungsten page and broadcast block sizes the session's
JVM runs with."""

import pytest

from rio_spark import session
from rio_spark.session import heap_for_host, page_bytes_for_heap

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


def test_session_jvm_runs_a_fixed_young_generation(spark):
    # set as a default JVM option, which a caller's extraJavaOptions (kgbench
    # passes its own) extend instead of replacing
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == "-XX:NewRatio=3"
    jvm_args = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getRuntimeMXBean().getInputArguments()
    assert "-XX:NewRatio=3" in list(jvm_args)


def test_pages_are_a_8192th_of_the_heap():
    assert page_bytes_for_heap("2g") == 262144
    assert page_bytes_for_heap("16g") == 2 << 20
    assert page_bytes_for_heap("2048m") == page_bytes_for_heap("2g")
    assert page_bytes_for_heap("1G") == 131072


@pytest.mark.parametrize("heap", ["2x", "2gb", "2048", "", "g"])
def test_unreadable_heap_is_an_error(heap):
    with pytest.raises(ValueError):
        page_bytes_for_heap(heap)


def test_session_pages_and_broadcast_blocks_are_not_humongous(spark):
    # G1 allocates an object of half a region or more outside eden
    conf = spark.sparkContext.getConf()
    page = page_bytes_for_heap(conf.get("spark.driver.memory"))
    assert conf.get("spark.buffer.pageSize") == f"{page}b"
    assert conf.get("spark.broadcast.blockSize") == f"{page}b"
    jvm = spark.sparkContext._jvm
    assert spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes() == page
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    region = int(bean.getVMOption("G1HeapRegionSize").getValue())
    assert page < region // 2
