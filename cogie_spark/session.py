"""SparkSession factory with scale-oriented defaults.

Defaults fit the host it runs on (local[N], single JVM: N = its cores,
heap = half its RAM up to 24g) but every other setting is the one we
would ship to a 1000-executor cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic join selection);
- Arrow on (all scorers are pandas UDFs — Arrow batches are the Python
  boundary, mirroring the reference's batch-columnar execution,
  /root/reference/cogie/core/datableset.py:25-57);
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by --conf and AQE coalesces the tail.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
MAX_DEFAULT_HEAP_MB = 24 * 1024


def default_driver_memory() -> str:
    """Half the host's MemTotal, capped at 24g: local mode runs driver
    and executors in this one JVM, and a heap sized past the host's RAM
    gets the JVM OOM-killed instead of spilling."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{MAX_DEFAULT_HEAP_MB}m"
    return f"{min(kb // 2048, MAX_DEFAULT_HEAP_MB)}m"


def get_spark(
    app_name: str = "cogie_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or os.environ.get("COGIE_SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("COGIE_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # broadcast anything under 64 MB — entity/dim tables are small
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = one JVM for driver+executors: give it real heap
        # or concurrent tasks thrash GC, but never more than the host has
        .config(
            "spark.driver.memory",
            os.environ.get("COGIE_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # collect_list aggregations (blocking's bucket pair generation)
        # run in ObjectHashAggregate, which silently degrades to a
        # SORT-based fallback after 128 distinct keys per task — the
        # default re-introduces exactly the sort the bucket design
        # removes. 512k keys/task × ~300 B ≈ 150 MB, inside a normal
        # executor's aggregation budget.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "524288")
    )
    # ad-hoc conf overrides: COGIE_EXTRA_CONF="k=v;k2=v2" (A/B harness)
    for kv in filter(None, os.environ.get("COGIE_EXTRA_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    # profiling hook: COGIE_EVENT_LOG=<dir> writes the Spark event log
    # there (job/stage timelines — how the scaling legs are attributed)
    elog = os.environ.get("COGIE_EVENT_LOG")
    if elog:
        os.makedirs(elog, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", elog
        )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
