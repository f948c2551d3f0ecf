"""SparkSession factory with scale-aware defaults.

Replaces the reference's cluster bootstrap (``Driver.java:87-185``,
``config.txt:1-14``): where the reference hand-rolls an RMI registry, master
and data nodes, we configure one SparkSession and let Spark's scheduler,
shuffle and fault tolerance do the rest (SURVEY.md §4 O1-O10).

Defaults are chosen for the 100 TB posture:
- AQE on (runtime partition coalescing, skew-join splitting) so the same plan
  survives a 1000x scale-up without retuning shuffle partitions by hand.
- Arrow on for any Python-boundary exchange (the map/reduce compat surface).
- Session timezone pinned to UTC so results are oracle-comparable.
- ``spark.sql.legacy.parquet.nanosAsLong`` on, so a parquet file holding
  TIMESTAMP(NANOS) (older fixture generations of ``events``) reads as an
  int64 epoch-nanos column that ``io.read_table`` normalizes, instead of
  failing as an illegal parquet type. Set here, once per session, so no
  reader changes the session it reads with.

Python workers:
- ``spark.python.daemon.module`` runs them under ``worker_daemon``, which
  stops every Python task re-reading ``pyspark.zip`` before the user's code
  runs (about 0.1 s per task on CPython < 3.13; see that module).
- ``spark.executorEnv.PYTHONPATH`` puts this package's parent directory on
  the workers' path, so they import the driver's copy of the package. The
  daemon module needs it to load, and so does every ``map_reduce`` job,
  whose pickled ``map_fn``/``reduce_fn`` closures reference the package:
  without it a driver started outside the repo root (a script that does
  ``sys.path.insert``) fails in the workers with ``ModuleNotFoundError``.
- The master is ``local[cpus,2]``: a failed task is retried once, then the
  job aborts, as the reference's data node does (``DataNode.java:320-369``).
  Plain ``local[cpus]`` never retries a task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding this package: the workers' import root for it.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "map_reduce_engine_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    metastore_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    default to the core count — right-sized for local mode; on a real cluster
    AQE coalesces from a higher initial number instead.

    ``metastore_dir`` opts into a PERSISTENT catalog (Hive support, derby
    metastore + warehouse under the given directory): the registration of
    bucketed index tables then survives the JVM, which is what lets the
    daily-loop CLI verbs (``incremental-ingest --prebuilt``,
    ``ann-serve --prebuilt``) chain day over day across processes — the
    stand-in for a deployment's real metastore (Hive/Glue/Unity). Without
    it the default in-memory catalog drops registrations at session stop
    (files persist; ``register_bucketed_table`` recovers them).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus},2]")
        .appName(app_name)
        .config("spark.python.daemon.module", "map_reduce_engine_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter join pruning: when one join side is selective,
        # inject a bloom filter of its keys into the other side's scan — the
        # semi-join reduction that cuts shuffle bytes on 100 TB fact⋈filtered-
        # dim joins without any query change (explicit: don't rely on the
        # deployment's default)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # RocksDB streaming state: spills to local disk with incremental
        # checkpoints — the backend that survives 100 TB-scale state (the
        # default HDFS-backed store keeps all state on the executor heap)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    if metastore_dir is not None:
        builder = (
            builder.config("spark.sql.warehouse.dir", f"{metastore_dir}/warehouse")
            .config(
                "javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={metastore_dir}/metastore_db;create=true",
            )
            .enableHiveSupport()
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Read every synthetic table under ``sf_dir`` (TESTDATA.md layout),
    through the drift-tolerant reader (io.read_table) so a fixture
    regeneration with a different timestamp encoding reads identically."""
    from map_reduce_engine_spark.io import read_table

    return {t: read_table(spark, sf_dir, t) for t in TABLES}
