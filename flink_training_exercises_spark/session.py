"""SparkSession factory.

Everything in the reference runs in UTC (TaxiRide.java:42-43 formats with
``DateTimeZone.UTC``), so the session timezone is pinned to UTC -- otherwise
event-time window boundaries shift (SURVEY.md §7 watch list).

Tuned for correctness *and* scale:
  * AQE on (runtime coalescing, skew-join splitting) -- the local default,
    and exactly what a 1000-executor cluster wants too.
  * shuffle partitions sized to the local core count; on a real cluster this
    is overridden by the deploy config / AQE coalescing.
  * Arrow enabled for the pandas-UDF slow path.
  * Python workers forked by ``pyworker`` -- Spark's own daemon, but
    importing the installed pyspark instead of Spark's zip and jar
    archives -- so pandas-UDF tasks skip a per-task archive re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .scratch import scratch_root

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_memory() -> str:
    """48g, or half this machine's memory when that is less. Spark sizes
    its storage memory from the heap cap, so a cap above physical memory
    lets cached and checkpointed blocks grow the JVM until the kernel's
    OOM killer ends it (seen on a 16 GB host: a 15.2 GB driver JVM)."""
    half_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{min(48, max(1, half_gb))}g"


def get_spark(
    app_name: str = "flink_training_exercises_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned local SparkSession."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers come from pyworker.py, which imports the installed
        # pyspark instead of Spark's archives. Before every task a worker
        # calls importlib.invalidate_caches(); on Python 3.11 that re-reads
        # the directory of every cached zipimporter in pure Python: 16 of
        # them, over pyspark.zip (1,328 entries), the py4j zip and
        # spark-core's jar (5,359 entries, no Python at all). Measured
        # 0.15-0.21 CPU s per task, and a 3-chunk zscore drain runs 12 such
        # tasks. PYTHONPATH lets the daemon and every pandas-UDF worker
        # import this package from any working directory.
        .config("spark.python.daemon.module", f"{__package__}.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_memory()))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
        # shuffle/spill/broadcast blocks on the fastest scratch available
        # (slow-disk boxes otherwise bottleneck on local I/O -- scratch.py);
        # cluster deploys override via SPARK_LOCAL_DIRS / their own conf
        .config("spark.local.dir", scratch_root())
        # Checkpoint I/O without per-file fork/exec storms (r13 optimization,
        # guide §7.3 thread-dump finding): the default FileContext-based
        # checkpoint manager drives Hadoop RawLocalFs mkdir/create THROUGH
        # setPermission, and without libhadoop.so every setPermission shells
        # out (fork+exec of chmod via bash). One availableNow drain of a
        # stream-stream join = ~11.5k forks; from a many-GB JVM each fork
        # copies page tables, so streaming queries were fork-bound, not
        # compute-bound (jstack: every task thread RUNNABLE inside
        # ProcessImpl.forkAndExec <- RawLocalFileSystem.setPermission <-
        # HDFSBackedStateStoreProvider.init). The FileSystem-based manager
        # issues plain no-permission mkdirs/creates (no chmod), and its
        # temp-file+rename createAtomic is atomic on the local POSIX fs --
        # on HDFS/object-store deployments override back to the FileContext
        # manager via SPARK_GRAFT_CKPT_FM (rename atomicity is the reason
        # FileContext is Spark's default there). Applied AFTER getOrCreate
        # via _apply_ckpt_file_manager so the default FQN -- a Spark 4.1
        # package path -- can be probed and silently skipped on other Spark
        # lines (VERDICT r13 #3) instead of failing every stream at start.
        # Checkpoint checksum sidecars (Spark 4.1 default on) double every
        # checkpoint file op; they guard long-lived checkpoints against
        # storage corruption, but every invocation here builds a FRESH
        # checkpoint and recomputes from the parquet inputs, so the sidecars
        # are pure overhead (half the remaining file-manager forks).
        # Durable-checkpoint deployments re-enable via env.
        .config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled",
            os.environ.get("SPARK_GRAFT_CKPT_CHECKSUM", "false"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _apply_ckpt_file_manager(spark)
    return spark


# Spark 4.1's package path for the FileSystem-based checkpoint manager (it
# moved between minor lines: 3.x has it under ...execution.streaming).
_CKPT_FM_41 = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _apply_ckpt_file_manager(spark: SparkSession) -> None:
    """Set the fork-storm-free checkpoint manager, version-proofed.

    The conf is a runtime SQL conf read at stream start, so setting it on
    the live session is equivalent to a builder conf. The DEFAULT class
    FQN is probed via the JVM first and skipped when absent (another Spark
    line keeps Spark's own default manager, a harmless no-op); an EXPLICIT
    ``SPARK_GRAFT_CKPT_FM`` is the operator's deliberate choice and is
    applied unprobed so a typo fails loudly, not silently.
    """
    explicit = os.environ.get("SPARK_GRAFT_CKPT_FM")
    fqn = explicit or _CKPT_FM_41
    if not explicit:
        try:
            spark._jvm.java.lang.Class.forName(fqn)  # noqa: SLF001
        except Exception:
            return
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", fqn)
