"""SparkSession factory with scale-appropriate defaults.

Design notes (100 TB target, tested on local[N]):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast decisions survive a 100x scale-up without re-tuning.
- `spark.sql.shuffle.partitions` defaults to the local core count; on a
  real cluster AQE's coalescing makes the initial number mostly a ceiling.
- Listing tasks equal task slots: a file listing over more than 32
  directories (the drop tree, a table's partitions) runs as a Spark job
  whose task count is capped at the same core count. Spark's default cap
  (10000) gives one task per directory; past the slot count those tasks
  add scheduling and Hadoop-conf serialization, not parallelism.
- Session timezone pinned to UTC so results are comparable with external
  engines (DuckDB oracle) and stable across deploy regions.
- Arrow enabled for any pandas interchange (vectorized UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "data-ingestion-lambda-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    metastore_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` via spark-submit and the cluster manager wins.

    ``metastore_dir`` turns on a PERSISTENT catalog (Hive implementation
    over an embedded Derby database under that directory, warehouse
    alongside it): saveAsTable metadata — in particular the dedup gate's
    BUCKETED band-table layout (operators/dedup_gate.py::
    apply_batch_bucketed) — survives process restart, so tomorrow's CLI
    invocation still plans the probe as one exchange against a bucketed
    FileScan. Without it, Spark's default in-memory catalog forgets
    bucketing at exit (standard Spark semantics). On a real cluster the
    same role is played by Hive/Glue/Unity; this wiring is the
    single-node, zero-service equivalent. Note: the session-conf derby
    location is fixed at FIRST session build in a JVM — one metastore per
    process."""
    cores = _local_cores()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # local mode = driver-only JVM; give it real headroom (the host has
        # 128 GiB) or long sessions degrade into GC thrash.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # Long sessions compile thousands of whole-stage-codegen classes;
        # the JVM's default 240 MiB code cache fills, the JIT shuts off, and
        # every later query runs interpreted (observed 20-30x slowdowns
        # after ~40 queries in one session). 2 GiB + flushing keeps the JIT
        # alive for the life of the session.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=2048m -XX:+UseCodeCacheFlushing",
        )
        # Files: pack small files, split big ones; 128 MiB is the sweet spot
        # for parquet row-group granularity at scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Parquet TIMESTAMP(NANOS) (events.ts) is unreadable natively; read
        # as epoch-nanos long, converted to µs timestamp in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if metastore_dir is not None:
        builder = (
            builder.config("spark.sql.catalogImplementation", "hive")
            .config("spark.sql.warehouse.dir", f"{metastore_dir}/warehouse")
            # spark.hadoop. prefix lands the property in the Hadoop/Hive
            # conf (a bare javax.jdo.* key is dropped as "non-Spark")
            .config(
                "spark.hadoop.javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={metastore_dir}/metastore_db;create=true",
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
