"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor deployment would set per
executor: AQE on (runtime skew-join splitting + partition coalescing),
shuffle partitions sized to cores, Arrow enabled for the pandas-UDF scorers.
On a real cluster the same builder is driven by spark-submit conf; nothing
here is local-only except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """A quarter of physical memory (the JVM's own default heap share),
    capped at 48g. A fixed 48g let G1 grow a long-lived local driver past
    physical memory on a small host (the live set stays small) until the
    kernel killed it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 4, 48 << 30) >> 20}m"


def get_spark(
    app_name: str = "polyfuzz_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    At scale the job launches via ``spark-submit --py-files polyfuzz_spark.zip``
    and ``master``/memory come from the cluster manager; in the sandbox we run
    ``local[N]``.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = SparkSession.builder
    # under spark-submit the driver JVM is already up (the Py4J gateway
    # env is set) and the master comes from --master / cluster conf —
    # overriding it here would silently turn a cluster submit into
    # local mode. Only plain-python launches pick the local default.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(
            os.environ.get("SPARK_MASTER", f"local[{cpus}]")
        )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # single-node shuffle I/O is a local-mode artifact (one disk shared
        # by all "executors"); tmpfs keeps the scaling benchmark CPU-bound,
        # like per-node NVMe on a real cluster. Override: SPARK_LOCAL_DIRS.
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-local"
                if os.path.isdir("/dev/shm")
                else "/tmp",
            ),
        )
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # catalog tables (bucketed layouts, sources/bucketed.py) land in the
        # warehouse dir; keep it off the repo tree. On a real deployment the
        # catalog is Hive/Iceberg and this conf comes from the cluster.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE", "/tmp/spark-warehouse"),
        )
        # shuffle files are only deleted when the driver GC collects the
        # RDDs that reference them (ContextCleaner); a large, mostly-idle
        # heap can go 30+ min between GCs, so a multi-stage checkpointed
        # job accumulates every stage's shuffle on spark.local.dir even
        # though each checkpoint boundary makes the upstream shuffle
        # unreferenced. Periodic GC keeps local-dir usage ~one stage deep
        # (the 1M-doc curation leg OOMed the box via tmpfs growth without
        # this). Cheap on short jobs: GC on an idle heap is milliseconds.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_PERIODIC_GC", "2min"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
