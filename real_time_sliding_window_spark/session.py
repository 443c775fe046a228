"""SparkSession factory tuned for the engine.

Centralizes the scale-relevant configuration so tests, bench and the driver
entry point all get the same plan-shaping defaults:

- AQE on (runtime coalesce + skew-join splitting) for the batch driver
  queries and ``tools/``. Spark turns it off in every streaming query (it
  logs that AQE is not supported in streaming DataFrames or stateful
  workloads), so on the streaming path conv_id skew is handled by the
  ring's bucketing and ``sharded_ring_buffer_stream``, not by AQE;
- Arrow enabled for every pandas UDF path (input_hint bans per-row Python);
- shuffle partitions sized to the local core count (on a real cluster this
  would be ~2-3x total executor cores; AQE coalesces down post-shuffle);
- Python workers forked from the package's daemon (``worker_daemon.py``).
  Before CPython 3.13, the ``importlib.invalidate_caches()`` that every
  pandas/Arrow task runs makes each cached zipimporter re-parse its whole
  archive (pyspark.zip, the py4j zip, the spark-core jar, the package zip);
  the daemon backports 3.13's shared, lazily refreshed cache with a stat
  check, which takes that cost off every micro-batch of the ring buffer.
  From 3.13 it only runs ``pyspark.daemon``. A caller's ``extra_conf``
  value of ``spark.python.daemon.module`` wins. The session starts no
  daemon and no worker: a pipeline whose plan has no Python operator
  never pays for them. The first Python stage forks the pool, about 2 s
  for a 4-task stage on a 4-core VM (more if it is also the session's
  first job, which carries the JVM's warm-up), and a stage after Spark's
  idle-worker reaper has stopped the workers (about a minute idle) forks
  them again, about 1.6 s. Spark's "time to initialize Python workers"
  task metric does not show that cost per task on its own: for a reused
  worker it also counts the idle time since the worker's previous task,
  because ``pyspark/worker.py`` takes ``boot_time`` before its blocking
  read;
- on a local master, checkpoint files (offset and commit logs, the file
  source log, state changelogs) are renamed through Hadoop's FileSystem
  API instead of FileContext (``local_master_conf``). Without libhadoop,
  FileContext's rename forks ``readlink`` for the source and the
  destination, and again for their ``.crc`` sidecars, and those forks were
  most of every state commit; on ``file:`` both managers end in the same
  ``File.renameTo``. Cluster masters keep Spark's default, whose rename
  is atomic on HDFS, and a caller's ``extra_conf`` value wins.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the local analogue of
    ``spark-submit --py-files pkg.zip``).

    Closures passed to mapInPandas / applyInPandas reference module-level
    functions, which cloudpickle deserializes *by import* on the worker —
    without this, any driver not launched from the repo root fails with
    ModuleNotFoundError on executors.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), "rtsw_spark_pkg")
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)


def _export_pythonpath() -> None:
    """Put the package's parent dir on PYTHONPATH before the JVM starts.

    The Python worker daemon (``spark.python.daemon.module``) is imported
    by module name when the daemon starts, before any ``addPyFile`` lands.
    Local mode inherits the driver env, so exporting PYTHONPATH here
    covers it; on a cluster, ship the zip with --py-files AND set
    spark.executorEnv.PYTHONPATH so executors can import the daemon.
    """
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_parent + (os.pathsep + pp if pp else "")


FS_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def local_master_conf(master: str) -> dict[str, str]:
    """Conf that ``get_spark`` sets only on a local master (``local``,
    ``local[N]``, ``local[*]``, ``local-cluster[...]``); see the module
    docstring."""
    if master == "local" or master.startswith(("local[", "local-cluster[")):
        return {"spark.sql.streaming.checkpointFileManagerClass":
                FS_CHECKPOINT_FILE_MANAGER}
    return {}


def get_spark(
    app_name: str = "rtsw-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _export_pythonpath()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("RTSW_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # r6 (guide §6): floor the SCAN parallelism at the core count —
        # a small parquet input otherwise arrives as 1-4 splits and every
        # compute-heavy map stage (regex tokenize, md5, higher-order
        # transforms) serializes on them. At production scale the scan has
        # thousands of natural splits and the floor is a no-op; locally it
        # is the difference between 1 and 32 busy cores on query entry.
        .config(
            "spark.sql.files.minPartitionNum",
            str(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))),
        )
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        # commit uploads changelogs instead of full snapshots — the
        # recommended large-state setting, and it removes most of the
        # per-commit disk floor that throttles micro-batch cadence
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
                "true")
        # see the module docstring; executors must be able to import it
        # (_export_pythonpath)
        .config("spark.python.daemon.module",
                "real_time_sliding_window_spark.worker_daemon")
    )
    for k, v in {**local_master_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark
