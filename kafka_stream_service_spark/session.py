"""SparkSession factory.

Local mode is one JVM with N executor threads; on a real cluster the same
configs apply per-executor. Everything here is sized so the same logical
plans scale from the sf0.001 smoke tables to a 1000-executor 100 TB run:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast)
- shuffle partitions ~ cores locally; AQE coalesces with Spark's default
  floor, and on a cluster the initial number is raised via
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``. The one
  exception is a narrow CPU-bound lane, which declares its width in its
  own plan with an explicit-count repartition (SCALE.md)
- Arrow enabled for every Python<->JVM boundary (pandas UDFs, toPandas)
- session timezone pinned to UTC so results are oracle-comparable
- Python workers fork from the engine's own daemon (``pyworker``), which
  skips pyspark's per-task re-read of ``pyspark.zip`` (0.16-0.24 s of every
  Python task on CPython 3.11, against a 2-3 ms body); the package's parent
  directory goes on the executors' ``PYTHONPATH`` so the daemon and every
  UDF import the driver's copy of the package from any working directory
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# the session's state-store provider (state can outgrow executor memory)
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
# the directory the package is imported from, for the executors' PYTHONPATH
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return 8


def get_spark(
    app_name: str = "kafka_stream_service_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession.

    The defaults favor the driver's local[N] environment; on a cluster pass
    ``master=None`` with an external master URL in spark-submit and the same
    session-level SQL configs hold.
    """
    cores = cpu_count()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE coalesces with Spark's default floor; a narrow CPU-bound
        # lane sets its own width in its plan (an explicit-count
        # repartition, which AQE never coalesces), not in session conf
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-coalesce stages that read persisted frames: iterative
        # operators (connected components, Lloyd training) persist tiny
        # intermediate frames, and without this every iteration over a
        # cached plan runs full-width shuffle stages (the default false
        # only exists to keep cached-output partitioning reusable)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the default 100-entry codegen cache thrashes under a catalog of
        # 190+ distinct query shapes — every pass recompiled every stage.
        # Measured on a 29-query sweep at sf0.1: pass totals 48/50 s with
        # the default vs 34/27 s at 5000 entries (warm pass ~2x faster)
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # ... and headroom for the generated classes to stay JIT-compiled:
        # the JVM default 240 MB code cache is sized for far fewer
        # codegen units than a full catalog sweep compiles (flushed
        # methods re-run interpreted). Defensive, standard advice for
        # codegen-heavy Spark; host-level run variance (+/-30%) drowns
        # any attempt to measure it in isolation here.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER)
        .config("spark.python.daemon.module", "kafka_stream_service_spark.pyworker")
        # no Python call-site capture per DataFrame call: it is most of the
        # py4j round trips of a build (q01: 564 with it, 154 without). The
        # cost is that a runtime error's DataFrame query context no longer
        # names the Python file:line that built the failing expression;
        # the error itself still raises.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    conf = dict(extra_conf or {})
    paths = [PACKAGE_PARENT, *conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)]
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(dict.fromkeys(p for p in paths if p))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
