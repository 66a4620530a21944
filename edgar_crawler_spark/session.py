"""SparkSession factory with scale-appropriate defaults.

Tuned for the local[N] sandbox but with every knob chosen for the
1000-executor / 100 TB target: AQE on (runtime re-plan + skew-join
splitting), adaptive shuffle-partition coalescing (persisted plans
included), Arrow enabled for all pandas-UDF traffic, and a broadcast
threshold sized for the small dimension tables this engine joins
(ticker→cik, company-info).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
MAX_DRIVER_MEMORY_MB = 16 * 1024


def default_driver_memory() -> str:
    """A quarter of the host's ``MemTotal``, capped at 16g; 16g when
    ``/proc/meminfo`` is absent. The driver shares the host with the
    Python workers, so a heap near the host's size gets the JVM
    OOM-killed."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    quarter_mb = int(line.split()[1]) // 4 // 1024
                    return f"{min(quarter_mb, MAX_DRIVER_MEMORY_MB)}m"
    except OSError:
        pass
    return f"{MAX_DRIVER_MEMORY_MB}m"


def get_spark(
    app_name: str = "edgar-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    The driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` when set, else
    :func:`default_driver_memory`.
    On a real cluster these settings ride along unchanged; nothing here
    is local-mode-specific except the master URL itself.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting. At 100 TB the
        # static partition count is always wrong somewhere; AQE fixes it
        # per-stage from observed map output sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ... and the coalescing reaches the last stage of a persisted
        # plan. Off (Spark's default), a cached frame keeps every one of
        # spark.sql.shuffle.partitions, so the frontier's per-wave caches
        # (prioritized frontier, fetch results, admitted seeds) fed every
        # tally and commit write that many tasks and files however few
        # rows a wave held.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for every pandas UDF / mapInPandas batch handoff.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Small dims (ticker→cik, company info) must broadcast, never shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep scan splits big enough to amortize task overhead at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Fork Python workers from a daemon that stops each task from
        # re-reading pyspark.zip (about 0.2 s of CPU per task before
        # CPython 3.13) and imports pandas and pyarrow once, before it
        # forks; see edgar_crawler_spark/worker_daemon.py.
        .config("spark.python.daemon.module", "edgar_crawler_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
