"""SparkSession factory tuned for this engine.

Scale posture: these configs are the local-mode stand-ins for the settings a
1000-executor cluster run would ship via spark-submit --conf. AQE is always
on (runtime skew-join splitting + partition coalescing); shuffle partitions
default to core count locally and should be sized to ~2-3x total cores on a
real cluster; Arrow is on for every pandas-UDF exchange.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (the spark-submit
    --py-files pattern, self-contained): zip the package and addPyFile it.
    Without this, pandas-UDF closures referencing the package fail to
    unpickle on workers whenever the driver script runs outside the repo
    root — exactly the failure mode --py-files exists to prevent."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    zip_base = os.path.join(
        tempfile.gettempdir(), f"cmem_plugin_pyshacl_spark_{os.getpid()}"
    )
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(
            zip_base, "zip", root_dir=parent, base_dir="cmem_plugin_pyshacl_spark"
        )
    spark.sparkContext.addPyFile(zip_path)


def _default_driver_mem() -> str:
    """Half the host's RAM, capped at 48g. In local mode the driver JVM is
    the whole engine, and a heap sized past the host lets it grow until
    the kernel OOM-kills it mid-run instead of spilling or failing one
    task. SPARK_DRIVER_MEM overrides this."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(kb // 2048, 48 * 1024)}m"


def get_spark(
    app_name: str = "cmem_plugin_pyshacl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch JVM<->python IPC overhead
        # for narrow text rows; tune DOWN (e.g. 128) for fat binary/media
        # rows so batch_rows * blob_size stays within executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        # UDF-heavy pipeline: one 128MB split holds several MINUTES of
        # python work per task at cluster scale — smaller input splits keep
        # task runtimes short so waves pack evenly and stragglers/pruned-
        # empty splits don't leave cores idle (measured 3x on local[8])
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # keep forked python workers alive between stages: the default idle
        # pool cap kills+re-forks workers each stage, serializing a slow
        # worker ramp-up at high parallelism
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.factory.idleWorkerMaxPoolSize", "128")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    builder.sparkContext.setLogLevel("WARN")
    _ship_package(builder)
    return builder
