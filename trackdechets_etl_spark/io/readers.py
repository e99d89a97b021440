"""Schema-explicit sources (SURVEY §2.1, S1-S7).

The reference declares every input schema by hand — headerless CSVs get
explicit column ``names``/``dtype``/``parse_dates``
(reference ``dags/icpe-siretisation.py:65-126,135-139``), SQL sources get
explicit SELECT lists (``dags/icpe-siretisation.py:230-233``,
``dags/publish-open-data.py:26-30``). Nothing is inferred. We keep that
discipline: every reader takes a ``StructType`` (or pushes an explicit
query to JDBC), and the corpus tables carry one declared schema each in
:data:`TABLE_SCHEMAS`, so :func:`read_table` starts no Spark job. At
100 TB schema inference is a full extra scan — never enable it.

The one exception is ``events``: its ``ts`` column is stored as
TIMESTAMP(NANOS) by some sources and TIMESTAMP(MICROS) by others, and no
declared type reads both correctly (``timestamp_ntz`` fails on a NANOS
file; ``bigint`` silently reads a MICROS file as nanos). It keeps the
inferred read and branches on the type it finds.

The reference's pickle relay (S7, ``to_pickle``/``read_pickle`` at every
Airflow task boundary) has no equivalent here: one lazy lineage replaces
it, with ``.cache()`` only at genuine branch points (SURVEY §3.1).
"""

from __future__ import annotations

import shutil
import tarfile
import urllib.request
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def resolve_source_path(url_or_path: str, dest: str) -> str:
    """S1/S2: fetch a remote file to local disk, or copy a local path.

    Mirrors reference ``dags/icpe-siretisation.py:26-32`` — if the
    location starts with ``/`` it is a local file (test env) and is
    copied; otherwise it is downloaded. Driver-side by design: at real
    scale the data lands on object storage and Spark reads it directly.
    """
    dest_path = Path(dest)
    dest_path.parent.mkdir(parents=True, exist_ok=True)
    if url_or_path.startswith("/"):
        shutil.copyfile(url_or_path, dest)
    else:
        with urllib.request.urlopen(url_or_path) as resp, open(dest, "wb") as f:
            shutil.copyfileobj(resp, f)
    return dest


def extract_tar_members(archive: str, members: list[str], out_dir: str) -> list[str]:
    """S3: extract named CSV members from a tar.gz archive
    (reference ``dags/icpe-siretisation.py:44-52``). Driver-side
    pre-step — Spark cannot scan tar natively; the extracted CSVs are
    then read with :func:`read_csv_with_schema`.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    paths = []
    with tarfile.open(archive, "r:gz") as tf:
        for m in members:
            tf.extract(m, path=out_dir, filter="data")
            paths.append(str(out / m))
    return paths


def read_csv_with_schema(
    spark: SparkSession,
    path: str,
    schema: StructType,
    sep: str = ";",
    header: bool = False,
    date_format: str = "d/M/yyyy",
) -> DataFrame:
    """S4/S5: headerless CSV scan with explicit schema and day-first
    dates (reference ``dags/icpe-siretisation.py:135-139``; day-first
    ``dayfirst=True`` → Spark ``dateFormat='d/M/yyyy'``, SURVEY C8).
    """
    return (
        spark.read.schema(schema)
        .options(
            sep=sep,
            header=str(header).lower(),
            dateFormat=date_format,
            timestampFormat=f"{date_format}[ H:mm:ss]",
            mode="PERMISSIVE",
        )
        .csv(path)
    )


def read_jdbc_query(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
    partition_options: dict[str, str] | None = None,
) -> DataFrame:
    """S6: JDBC scan with SQL pushdown (reference
    ``dags/icpe-siretisation.py:230-233``, ``dags/publish-open-data.py:26-30``
    — hand-written SELECT with aliases and casts pushed to Postgres).

    ``partition_options`` (partitionColumn/lowerBound/upperBound/
    numPartitions) enable parallel reads — mandatory at scale; the
    reference reads single-threaded.
    """
    reader = spark.read.format("jdbc").option("url", url).option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    for k, v in (partition_options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_jdbc_table_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S6 at scale: range-partitioned parallel JDBC scan (reference
    ``dags/icpe-siretisation.py:230-233`` reads single-threaded; this
    is its Spark mapping per SURVEY §2.1). Spark issues one query per
    stride of ``partition_column`` — N concurrent connections, each
    executor pulling a disjoint slice. Uses ``dbtable`` because the
    JDBC source forbids combining ``query`` with partitionColumn."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> DataFrame:
    """JSON-lines scan with an explicit schema (same no-inference
    discipline as S4/S5 — inferring JSON schema is a full extra pass,
    and silently widens types at 100 TB). Malformed lines surface in
    ``_corrupt_record``-free PERMISSIVE mode as nulls; switch to
    ``mode='FAILFAST'`` via ``.option`` when ingest must be strict."""
    return spark.read.schema(schema).json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan — the engine's native format. Column pruning and
    predicate pushdown are automatic (verify via ``PushedFilters`` /
    ``ReadSchema`` in ``.explain``)."""
    return spark.read.parquet(path)


# Tables whose downstream workloads are per-row CPU-heavy (shingling,
# hashing, vector math) rather than shuffle-bound. Only these benefit
# from an explicit scan fan-out: relational tables hit an exchange
# (join/agg) almost immediately, which parallelizes them anyway, and an
# extra up-front shuffle just adds latency (measured at sf0.1: text ops
# 1.5-2x faster with fan-out, TPC-H shapes 1.3-2x slower).
_CPU_HEAVY_TABLES = {"documents", "embeddings"}


def dataset_bytes(spark: SparkSession, path: str) -> int:
    """Total stored bytes of a dataset: one file, or every file under a
    directory (checksum and marker files included), on any filesystem
    Hadoop resolves (local, ``hdfs://``, ``s3://``). One
    ``FileSystem.getContentSummary`` call through the JVM; raises if
    ``path`` does not exist."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def _fan_out_small_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Parallelize scans of files Spark cannot split.

    A parquet file is splittable only at row-group boundaries; the test
    corpus writes ONE row group per file, so every scan arrives as a
    single partition and all per-row work (string ops, hashing,
    shingling) serializes onto one core until the first shuffle. When
    the dataset's estimated split count is below the session parallelism,
    repartition to fan the rows out — one tiny round-robin shuffle buys
    full-width execution of everything downstream.

    At real scale this is a no-op: a 100 TB dataset's layout already
    yields thousands of splits, so ``est_splits >= parallelism`` and no
    extra shuffle is inserted.
    """
    max_bytes = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    parallelism = spark.sparkContext.defaultParallelism
    est_splits = max(1, dataset_bytes(spark, path) // max_bytes)
    if est_splits < parallelism:
        return df.repartition(parallelism)
    return df


def read_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool | None = None
) -> DataFrame:
    """Load one of the driver's synthetic tables (TESTDATA.md).

    Every table except ``events`` is read with its declared
    :data:`TABLE_SCHEMAS` entry, so building a query starts no Spark
    job. ``events`` is read with the inferred schema because its stored
    ``ts`` unit varies between sources: TIMESTAMP(NANOS) arrives, with
    ``spark.sql.legacy.parquet.nanosAsLong``, as long nanos and is
    converted here to a microsecond timestamp (truncating, the same
    conversion DuckDB applies); TIMESTAMP(MICROS) arrives as a timestamp
    and is kept.

    ``fan_out=True`` forces the small-scan fan-out (for fact spines
    feeding broadcast-join pipelines, where ALL work until the first
    aggregation runs inside the scan partitions); ``None`` auto-applies
    it to the CPU-heavy text/vector tables only.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # Runtime-settable; applied here too so the engine works under a
        # caller-built SparkSession that lacks the session-factory conf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
    if fan_out or (fan_out is None and name in _CPU_HEAVY_TABLES):
        df = _fan_out_small_scan(spark, df, path)
    return df


ALL_TABLES = (
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


# The stored schema of every corpus table but ``events`` (see
# read_table), as Spark infers it from the parquet footer: timestamps
# stored without a UTC adjustment read as TIMESTAMP_NTZ, and every field
# is nullable. Built from literals because ``StructType.fromDDL`` needs a
# live session. tests/test_io.py pins each entry against inference at
# all three scale factors.
TABLE_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampNTZType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampNTZType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """SQL front door: register every corpus table as a temp view so
    users run plain ``spark.sql(...)`` — the engine-level equivalent of
    the reference handing analysts raw Postgres access
    (``dags/publish-open-data.py:26-30``). Views are lazy; nothing is
    scanned until a query runs against it."""
    for name in ALL_TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
