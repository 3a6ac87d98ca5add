"""SparkSession factory.

Local-mode defaults are tuned for the sandbox (single JVM, N threads);
at cluster scale the same builder is driven by spark-submit conf instead —
nothing here hard-codes local mode except the default master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the host's
    core count: a pinned or containerised run sees only its share)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def _host_driver_mem() -> str:
    """Driver heap default: half the host's MemTotal (in local mode the
    driver JVM runs every executor task, so it gets the largest share;
    the rest stays with the Python workers and the OS)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1024, kib // 2048)}m"
    except (OSError, ValueError):
        pass
    return "4g"


def get_spark(
    app_name: str = "crawler_to_md_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE on (runtime re-plan, skew-join splitting, partition coalescing).
    - Arrow on (all Python UDFs are batch/columnar; no per-row pickling).
    - shuffle.partitions sized to parallelism, not the 200 default.
    - Runtime bloom-filter join pruning on (complements the explicit
      seen-set bloom in operators/seen.py).
    - Host-fit defaults: ``local[<affinity CPUs>]`` and a driver heap of
      half the host's memory; ``SPARK_GRAFT_CPUS`` and
      ``SPARK_GRAFT_DRIVER_MEM`` override them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_host_cpus())
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]") if "[" in master else cpus
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10k-row Arrow batches, not 100k: a batch of raw HTML rows is
        # ~60 MB at 10k — at 100k each Python worker held ~600 MB of
        # strings per in-flight batch (8 workers -> ~5 GB of transient
        # allocation per wave), measurably degrading multi-worker scaling
        # on shared-memory-bandwidth hosts; smaller batches also pipeline
        # JVM->Python->JVM transfer with compute
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # plan-description strings are rebuilt per SQL-listener/AQE event;
        # binary literals render as hex, so an unbounded plan string costs
        # 2x literal bytes of driver CPU per event. The seen-set probe
        # keeps big bloom blobs OUT of the plan (scalar subquery past
        # 64 KB — operators/seen.py), so real plans stay small; the cap is
        # a backstop that keeps audits intact if a large literal sneaks in.
        .config("spark.sql.maxPlanStringLength", str(2 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
