"""SparkSession factory with scale-aware defaults (SURVEY.md §4.2).

Explicit shuffle-partition control and AQE are graft-mandated
(BASELINE.json:6).  In local mode there is one JVM; on a real cluster the
same builder is used by ``spark-submit --py-files`` jobs (engine/submit.py).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(app_name: str = "spark-trip-tiler",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``shuffle_partitions`` defaults to 2x the local parallelism — small
    enough to avoid tiny-task overhead at bench scale, big enough that AQE
    coalescing has room to split skewed partitions.  On a real cluster pass
    ~2-3x total executor cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        par = 32 if "*" in master else int(str(master).strip("local[]") or 8)
        shuffle_partitions = max(2 * par, 8)
    b = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE's RUNTIME size stats convert shuffle joins to broadcast up
        # to 64 MB (default 10 MB is tuned for tiny executors): the KDE
        # prune's dilated-candidate table (~15 MB at 8M docs) otherwise
        # forces a full shuffle of the 20M-row partial-mass stream.  Only the
        # ADAPTIVE threshold is raised — it applies to sizes AQE has MEASURED
        # at runtime.  The static (compile-time, stats-estimated) threshold
        # stays at its 10 MB default: a compressed-parquet estimate under
        # 64 MB can decompress far larger and OOM the driver.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # Runtime bloom-filter semi-join reduction for LARGE-LARGE joins:
        # when a selective dimension side is past the broadcast envelope,
        # inject a bloom_filter_agg of its join keys under the fact-side
        # scan so non-qualifying rows die BEFORE the shuffle (at 100 TB the
        # exchange, not the scan, is the bottleneck).  Broadcastable dims
        # still take BHJ — the filter only appears where it pays
        # (plan-pinned in tests/test_plan_shape.py).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    # Arrow kernels call module-level engine functions, so the Python
    # workers must import `engine` even when the driver started elsewhere
    # with the package only on its own sys.path.
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    root = str(Path(__file__).resolve().parent.parent)
    conf[key] = os.pathsep.join(filter(None, [root, conf.get(key)]))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
