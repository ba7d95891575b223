"""Readers: parquet/CSV table loading and JDBC partitioned-scan options.

Replaces the reference's cursor loops:
- full scan `build_select_sql` (reference fast_etl.py:33-38)  -> spark.read + select
- chunked fetchmany loop (fast_etl.py:326-340)                -> JDBC fetchsize
- key-interval partitioned scan (copy_db_extensions.py:21-208)-> partitionColumn /
  lowerBound / upperBound / numPartitions (Spark runs the ranges in parallel;
  the reference ran them serially with sleeps)
- limit/offset paging (copy_db_extensions.py:297-388)         -> obsolete, same options
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fastetl_spark.io.fsutil import parquet_schema

TPCH_TABLES = (
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


def read_parquet(spark: SparkSession, path: str, options: dict | None = None) -> DataFrame:
    """``spark.read.options(**options).parquet(path)`` without Spark's
    schema-inference job: the schema comes from one data file's footer
    (``fsutil.parquet_schema``), the one Spark's inference would take.
    Where that cannot be exact, Spark infers as usual: under any reader
    option (``mergeSchema`` reads every footer), for a Hive-partitioned
    directory, or for a path with no data file, which raises Spark's
    own error."""
    schema = None if options else parquet_schema(spark, path)
    reader = spark.read.options(**(options or {}))
    return (reader if schema is None else reader.schema(schema)).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table; parquet scans get pushdown + pruning for free.

    events.ts is TIMESTAMP(NANOS) in the fixture parquet, which Spark
    refuses by default — read nanos as long and truncate to micros
    (identical to how microsecond engines read the same file)."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path)
        from pyspark.sql import functions as F  # local import to avoid cycle

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return read_parquet(spark, path)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the scan has fewer input files than the
    cluster has slots. The driver fixtures are single-row-group parquet
    files (unsplittable -> 1 scan task); expression-heavy operators call
    this so per-row work fans out. On real multi-file/multi-row-group
    data the scan is already parallel and this is a no-op — no shuffle
    is added at scale.

    The probe uses the file index (``inputFiles``), not
    ``df.rdd.getNumPartitions()`` — the RDD probe forces a full
    plan->RDD conversion per wrapped query and bypasses AQE planning.
    Non-file-backed plans are returned untouched."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql passthrough
    (the reference's query-as-source S2, fast_etl.py:162-187)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def jdbc_scan_options(
    url: str,
    table: str | None = None,
    query: str | None = None,
    key_column: str | None = None,
    key_start: int | None = None,
    estimated_max_id: int | None = None,
    key_interval: int = 10_000,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    isolation_level: str | None = None,
) -> dict[str, str]:
    """Assemble spark.read.jdbc options for a partitioned scan.

    Mirrors copy_by_key_interval (reference copy_db_extensions.py:21-208):
    `key_interval` ranges between key_start and estimated_max_id become
    `numPartitions` parallel range predicates instead of a serial loop.
    The reference's `WITH (NOLOCK)` hint (osrm_distance_operator.py:147)
    maps to isolationLevel=READ_UNCOMMITTED.
    """
    if (table is None) == (query is None):
        raise ValueError("exactly one of table/query is required")
    opts: dict[str, str] = {"url": url, "fetchsize": str(fetchsize)}
    if table:
        opts["dbtable"] = table
    elif key_column is not None:
        # Spark's JDBC source rejects `query` together with
        # partitionColumn; a dbtable subquery alias expresses the same scan.
        opts["dbtable"] = f"({query}) spark_part_subq"
    else:
        opts["query"] = query  # type: ignore[assignment]
    if key_column is not None:
        lo = int(key_start or 0)
        hi = int(estimated_max_id if estimated_max_id is not None else lo + key_interval)
        parts = num_partitions or max(1, (hi - lo) // max(key_interval, 1))
        opts.update(
            partitionColumn=key_column,
            lowerBound=str(lo),
            upperBound=str(hi),
            numPartitions=str(parts),
        )
    if isolation_level:
        opts["isolationLevel"] = isolation_level
    return opts


def read_jdbc(spark: SparkSession, **scan_options) -> DataFrame:
    """spark.read.jdbc with partitioned-scan options (requires a JDBC driver
    on the classpath; exercised only when a database is reachable)."""
    return spark.read.format("jdbc").options(**jdbc_scan_options(**scan_options)).load()
