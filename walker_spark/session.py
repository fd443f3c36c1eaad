"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "walker-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults target the sandbox (``local[N]``) while keeping the settings
    that matter at cluster scale: Arrow enabled for the pandas-UDF
    extract stage and a shuffle-partition count sized to the parallelism
    level. AQE (runtime coalescing, skew-join splitting) is left at
    Spark's default, which is on. No Spark job runs here: the session's
    first query pays the engine's one-time initialization.

    The driver JVM runs on HotSpot's C1 JIT tier only
    (``-XX:TieredStopAtLevel=1``). In a session of a minute or so, C2
    spent more CPU compiling (44-60 s per benchmark run) than its code
    saved: without it ``crawl_rounds`` ``cpu_s`` fell 38%, while warm
    repeated analytics queries ran ~17% slower on C1 code (BENCH.md,
    "Session JVM: C1-only JIT"). In local mode the driver is also the
    executor, so tasks run C1 code too; ``spark.executor.*`` is left
    alone, so executors on a cluster keep C2. Spark prepends
    ``defaultJavaOptions`` to a caller's ``extraJavaOptions``, so the two
    compose; a long local job can restore C2 with
    ``extra_conf={"spark.driver.defaultJavaOptions": ""}``.
    """
    # Make the package importable on executor Python workers regardless
    # of the driver's cwd (the local-mode analogue of shipping the
    # package with ``spark-submit --py-files``).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_parent + (os.pathsep + pp if pp else "")

    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            n = master[6:-1]
            shuffle_partitions = 2 * int(n) if n.isdigit() else 32
        else:
            shuffle_partitions = 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
