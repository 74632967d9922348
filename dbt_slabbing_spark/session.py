"""SparkSession factory.

One place to encode the execution-model decisions that matter at scale:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast conversion) — at 100 TB the static plan is always wrong
  somewhere; AQE fixes it from shuffle statistics.
- shuffle.partitions sized to the local core count for tests; on a real
  cluster this is overridden to ~2-3x total executor cores (or left to
  AQE's coalescing with a high initial value).
- Arrow enabled — every pandas UDF crossing is Arrow-batched, never
  row-at-a-time pickle.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive-UTC) exactly.
- Driver heap sized to the machine: ``SPARK_GRAFT_DRIVER_MEM`` verbatim
  when set, else ``min(48g, half the memory the process can use)``, where
  that memory is physical RAM or the cgroup v2 ``memory.max`` if lower.
  The other half holds the JVM's off-heap (Spark's driver memory overhead,
  10% and at least 384 MiB), the ``local[N]`` Python workers, the driver
  Python process and the page cache. 48g stays the heap on any machine
  with 96 GiB or more.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _cgroup_memory_limit() -> int | None:
    """The cgroup v2 memory limit in bytes, or None where there is none."""
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
    except OSError:
        return None
    return int(raw) if raw.isdigit() else None


def _default_driver_memory() -> str:
    """``spark.driver.memory`` by the rule in the module docstring.

    A fixed 48g heap on a smaller machine lets G1 size its young
    generation against a ceiling the machine cannot back; the JVM then
    grows past physical memory and the kernel kills it.
    """
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        usable = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return "48g"
    limit = _cgroup_memory_limit()
    if limit is not None and limit < usable:
        usable = limit
    heap_mb = usable // 2 // (1024 * 1024)
    return "48g" if heap_mb >= 48 * 1024 else f"{heap_mb}m"


def get_spark(app_name: str = "dbt_slabbing_spark", cpus: str | int | None = None) -> SparkSession:
    """Return (creating if needed) the tuned local SparkSession.

    On a real cluster the same builder is used minus ``master``; every
    config below is a per-app setting, not a local-mode hack.
    """
    cpus = str(cpus or _DEF_CPUS)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # -- planner / runtime ------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        # dims (region/nation/customer/supplier/part at test SF) broadcast;
        # 64 MB is a sane executor-memory-aware ceiling for real clusters too.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # openCostInBytes models the seek cost of opening ANOTHER file
        # when packing many small files into one split; its 4 MB
        # default doubles as a split-size FLOOR, which on a single
        # small-but-expensive-per-row file (compressed text, embedding
        # arrays) caps read parallelism at bytes/4MB tasks — the sf3
        # documents corpus (18 MB) scanned 5-wide on 32 cores, and the
        # whole shingle pipeline above it ran underparallelized
        # (measured round 10: the decontamination corpus stage). 256 KB
        # keeps small-file packing sane while letting maxSplitBytes
        # fall to totalBytes/defaultParallelism, i.e. one split per
        # core. At cluster scale files dwarf both constants and this
        # knob is inert.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # -- python boundary --------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- semantics --------------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- local-mode memory (driver == only JVM here) ----------------------
        # SPARK_GRAFT_DRIVER_MEM verbatim, else min(48g, half the usable
        # memory: physical RAM or the cgroup v2 memory.max if lower).
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.checkpointLocation.deleteOnExit", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
