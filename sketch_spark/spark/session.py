"""SparkSession builder tuned for the sketch workload (local or cluster)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_defaults() -> tuple[int, str]:
    """(cores, driver memory) for a local session on this host.

    Cores default to the CPUs this process may run on and driver memory to
    half of physical RAM, so a local-mode JVM cannot outgrow the machine.
    SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM override either.
    """
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        mem = f"{max(1, ram // 2 >> 20)}m"
    return cores, mem


def get_spark(
    cores: int | None = None,
    app: str = "sketch_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session with the knobs that matter for Arrow-batched sketch builds.

    On a real cluster these come from spark-submit; in the sandbox we run
    local[N]. AQE stays on (runtime coalescing + skew-join splitting), Arrow
    exchange on, and maxRecordsPerBatch sized so a batch of token arrays
    (~256 tokens/row) stays in the tens-of-MB range per the SURVEY.md §7
    risk note.
    """
    default_cores, driver_mem = host_defaults()
    cores = cores or default_cores
    # make the package importable in executor Python workers no matter where
    # the driver script lives (cluster deploys ship it via spark-submit
    # --py-files; local workers read PYTHONPATH at launch)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
