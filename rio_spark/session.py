"""SparkSession factory tuned for this engine.

Local mode stands in for the multi-executor cluster: ``local[n]`` with n from
``cores``, else ``SPARK_GRAFT_CPUS``, else ``os.cpu_count()``. Every knob here
is also the right default at cluster scale except shuffle partitions, which
should track cluster cores there.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import SparkSession

MAX_HEAP_GB = 16
# TaskMemoryManager's page table: one task can hold at most this many pages
PAGE_TABLE_SLOTS = 8192
_HEAP_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def heap_for_host(meminfo: str) -> str:
    """Driver heap for a host, from the text of its ``/proc/meminfo``: half
    of ``MemAvailable`` (the Python workers and the page cache need the
    rest), in whole GB, at least 1g and at most 16g."""
    for line in meminfo.splitlines():
        if line.startswith("MemAvailable:"):
            kb = int(line.split()[1])
            return f"{max(1, min(MAX_HEAP_GB, kb // (2 << 20)))}g"
    raise ValueError("meminfo has no MemAvailable line")


def page_bytes_for_heap(heap: str) -> int:
    """Tungsten page and broadcast block size for a JVM heap string such as
    ``2g`` or ``2048m``: the heap divided by the 8192 slots of a task's page
    table, so one task can still address the whole heap. A suffix other
    than k, m, g or t (a bare number too: Spark reads it as MiB, ``-Xms``
    as bytes) raises ValueError."""
    m = re.fullmatch(r"(\d+)([kmgt])", heap.strip().lower())
    if m is None:
        raise ValueError(f"cannot read heap size {heap!r}; expected e.g. 2g or 2048m")
    return int(m.group(1)) * _HEAP_UNITS[m.group(2)] // PAGE_TABLE_SLOTS


def _driver_mem() -> str:
    mem = os.environ.get("RIO_SPARK_DRIVER_MEM")
    if mem:
        return mem
    try:
        with open("/proc/meminfo") as f:
            return heap_for_host(f.read())
    except (OSError, ValueError) as e:
        raise RuntimeError(
            f"cannot size the driver heap from /proc/meminfo ({e}); "
            "set RIO_SPARK_DRIVER_MEM, e.g. RIO_SPARK_DRIVER_MEM=4g"
        ) from e


def get_spark(
    app_name: str = "rio_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    mem = _driver_mem()
    page = f"{page_bytes_for_heap(mem)}b"
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Partition coalescing is BYTE-based; transcript/document stages are
        # byte-light but CPU-heavy (string assembly, Python grammar kernels),
        # so coalescing collapses them onto 1-2 reducers and kills scaling
        # (measured 3x slowdown at 32 cores). Skew-join stays on. At real
        # 100TB scale partitions are byte-heavy and coalescing wouldn't
        # trigger anyway; re-enable per-job if a workload is shuffle-bound.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Never list input paths with a Spark job. The graph store's reads
        # name their files from the manifest (MERGE's scoped read passes one
        # file per touched bucket, 64 in a full store), and above this
        # threshold (default 32 paths) Spark lists them with one task per
        # path. The store lives on a local filesystem (its commit protocol
        # is os.replace + fsync), where the driver lists faster at every
        # size measured (4 cores: 64 files 0.12 s vs 0.45 s with the job,
        # 4096 files 0.85 s vs 19 s).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # local mode = driver-only: the heap serves all executor threads.
        # FIXED-size heap (Xms=Xmx): heap growth means host page-allocation
        # churn (on a microVM page faults are costly) and produced 2-8x
        # run-to-run variance at 32 cores; a pre-sized heap is stable and
        # fast. Sized from the host (heap_for_host): a fixed 16g cannot
        # start on a 15 GB host; 8g throttled 32-core runs via GC.
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp -Xms" + mem)
        # G1's young generation fixed at a quarter of the heap. Sized from
        # pause times, it grows to as much as 60% of the heap at a moment
        # that depends on GC timing, so how much of the fixed heap a run
        # touches (its peak RSS) varied from run to run: the same kgbench
        # chat_mix call peaked at 2.0-2.7 GB (4 cores, 2g heap), against
        # 1.96-2.04 GB with the young generation fixed. Set as the default
        # JVM options: a caller's extraJavaOptions replace the line above
        # but are appended to these.
        .config("spark.driver.defaultJavaOptions", "-XX:NewRatio=3")
        # Tungsten pages and broadcast blocks of heap/8192 (256 KiB at 2g,
        # 2 MiB at 16g), not Spark's 16 MiB and 4 MiB. G1 allocates any
        # object of half a region or more (regions are heap/2048 rounded
        # up to a power of two: 1 MiB at 2g) as humongous, outside eden,
        # and zeroes the whole object, so every call touched hundreds of MB
        # beyond the eden it recycles: after a kgbench rdf_dense call (4
        # cores, 2g heap) the JVM's peak RSS was 1607 MB with Spark's sizes
        # and 1305 MB with these. heap/8192 stays below half a region for every heap from 1g
        # to 16g, and a task's 8192-slot page table still spans the whole
        # heap; a fixed 256 KiB page would cap a task at 2 GiB. On a
        # cluster, divide the executors' heap instead.
        .config("spark.buffer.pageSize", page)
        .config("spark.broadcast.blockSize", page)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def coalesced_shuffles(spark: SparkSession):
    """Temporarily re-enable AQE partition coalescing around pure-JVM driver
    actions.

    The session disables byte-based coalescing globally because it collapses
    byte-light / CPU-heavy Python kernel stages onto 1-2 reducers (see the
    builder above).  Iterative JVM-only loops (connected components) have
    the opposite profile: at small edge counts their cost is
    per-task fixed overhead across many near-empty shuffle partitions, which
    coalescing removes; at 10^12 edges partitions are byte-full and
    coalescing is a no-op.  Affects only actions executed INSIDE the block
    (AQE reads the conf at execution time) — lazily returned DataFrames
    executed later use the restored setting.

    NOT thread-safe: the override mutates session-wide SQL conf, so a query
    racing on the same SparkSession from another thread (or a nested /
    overlapping scope) would inherit coalescing for its Python stages — the
    exact setting the global disable exists to avoid.  All repo harnesses
    (driver, kgbench, CLI, tests) execute queries sequentially on one thread;
    concurrent callers should give each workload its own
    ``spark.newSession()`` (per-session conf) instead of sharing this one.
    """
    # NB (r7): also tried scoping spark.sql.join.preferSortMergeJoin=false
    # here (shuffled-hash joins for the loop bodies, guide §3.1) — measured
    # flat on kg_connected_components (2.77 -> 2.80 s) and kg_pagerank
    # (6.32 -> 6.21 s) and worse on kg_cc_incremental (6.09 -> 7.05 s) at
    # sf1.0 local[32]; rejected, the per-round cost here is stage fixed
    # overhead, not the sorts.
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
