"""SparkSession factory tuned for the extraction workload.

Local mode for tests/bench; the same confs are what we'd pass to
spark-submit on a real cluster (AQE, Arrow, batch sizing — SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """24 GB, capped on a smaller host at a quarter of physical memory (the
    JVM's own default heap cap), so the heap cannot grow past the machine."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(24 * 1024, phys // 4 // 2**20)}m"


def get_spark(
    app: str = "docling_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cores:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = master[6:-1] if master.startswith("local[") else "32"
        shuffle_partitions = 32 if n in ("*", "") else max(8, int(n))

    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound the damage of one mega-doc inside an Arrow batch: a heavy
        # document ships in a small batch instead of stalling its whole split
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()))
        # Tungsten's page size otherwise follows the heap (32 MB at a 4 GB
        # heap on 4 cores). Every broadcast hash relation takes at least
        # one page, and the broadcast keeps it until the ContextCleaner
        # sees the broadcast collected. `neardup_curation` broadcasts its
        # small set of dropped ids on every call, so over repeated calls
        # such pages piled up by 70-300 MB, as GC timing let them.
        .config("spark.buffer.pageSize", "2m")
        # A fixed young generation. G1's adaptive one resized with GC timing,
        # and the driver JVM's peak resident size moved by ~900 MB between
        # identical runs.
        .config("spark.driver.extraJavaOptions", "-Xmn256m")
        .config("spark.ui.enabled", "false")
        # keep stdout parseable (bench contract: ONE JSON line)
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
