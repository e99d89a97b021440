"""SparkSession factory.

The reference has no engine at all — each Airflow task is a separate OS
process exchanging pickle files (SURVEY §3.1; reference
``dags/icpe-siretisation.py:143-313``). Here the whole engine shares one
SparkSession; task boundaries become lazy DataFrame lineage and shuffle
stages chosen by Catalyst/AQE.

Scale posture (100 TB target, tested on local[N]):
- AQE on: runtime coalescing, skew-join splitting, broadcast conversion.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a high initial number, so we set the
  *initial* number high-ish and let AQE shrink it.
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- PySpark's per-call call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``F.*``/DataFrame call records its Python call site through
  about five Py4J round trips, about a third of query build time at
  small scale. Errors then lose only that per-expression call site in
  the "DataFrame query context"; Python tracebacks and JVM stacks stay.
  Pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
  "true"}`` to get it back; PySpark reads the setting once per process,
  so it must be set on the process's first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "trackdechets_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters are env-overridable so the driver's bench harness can
    steer core count via ``SPARK_GRAFT_CPUS`` without code changes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's events.parquet uses TIMESTAMP(NANOS), which the
        # Spark reader rejects; read as long nanos and convert at the
        # source (io.readers.read_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
