"""Writers: parquet/CSV/JDBC sinks.

Replaces the reference's insert paths:
- batched insert / fast_executemany / execute_batch (fast_etl.py:41-68,334-341)
  -> df.write.jdbc(batchsize=...)
- truncate-and-load (fast_etl.py:66,317-321) -> mode="overwrite", truncate=true
- reflected append with case-insensitive column intersection
  (insert_df_to_db, fast_etl.py:71-97) -> select_intersection + append
- CSV extract (db_to_csv_operator.py:74-109) -> df.write.csv
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fastetl_spark.checkpointing import observed
from fastetl_spark.io.fsutil import DATA_FILES, hadoop_fs, parquet_rows, replace_dir
from fastetl_spark.io.readers import read_parquet


def select_intersection(df: DataFrame, dest_columns: list[str]) -> DataFrame:
    """Keep only df columns that exist in the destination, case-insensitively
    (reference fast_etl.py:84-89 lower-cases both sides)."""
    dest = {c.lower(): c for c in dest_columns}
    keep = [c for c in df.columns if c.lower() in dest]
    return df.select(*keep)


def literal_frame(spark, schema: str | StructType, values: tuple | None = None) -> DataFrame:
    """A one-row frame of ``values`` (zero rows when None) typed by
    ``schema``, built from JVM literals over a one-partition range.

    ``createDataFrame(list)`` scans a Python RDD, so even a one-row
    bookkeeping write pays for Python workers; this plan never leaves
    the JVM. Every column is nullable, as ``createDataFrame`` makes
    them: a ``CASE`` on the range id stops Catalyst folding the literal
    into a non-null one, so the written parquet schema is unchanged."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    base = spark.range(0, 0 if values is None else 1, 1, 1)
    values = values if values is not None else (None,) * len(schema.fields)
    return base.select(
        *[
            F.when(F.col("id") == 0, F.lit(v)).cast(f.dataType).alias(f.name)
            for f, v in zip(schema.fields, values)
        ]
    )


def write_counted(df: DataFrame, write) -> int:
    """Run ``write(df)`` and return the rows it wrote, counted by an
    observation on that write instead of a second run of the source
    (which, for a JDBC source, is a second query whose count can differ
    from the rows written)."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("n_rows")))
    return int(observed(obs, {"n_rows": 0})["n_rows"])


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    sep: str = ",",
    compression: str | None = None,
    mode: str = "overwrite",
) -> None:
    """CSV extract (reference DbToCSVOperator); header always on, like the
    reference's to_csv(index=False)."""
    writer = df.write.mode(mode).option("header", "true").option("sep", sep)
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(path)


def write_jdbc_options(
    url: str,
    table: str,
    truncate: bool = False,
    batchsize: int = 10_000,
    create_table_column_types: str | None = None,
) -> dict[str, str]:
    """Options for df.write.jdbc. `truncate` reproduces destination_truncate
    (fast_etl.py:317-321); createTableColumnTypes carries the type-mapping
    overrides from types_mapping.yml (see io/types_mapping.py)."""
    opts = {
        "url": url,
        "dbtable": table,
        "batchsize": str(batchsize),
        "truncate": "true" if truncate else "false",
    }
    if create_table_column_types:
        opts["createTableColumnTypes"] = create_table_column_types
    return opts


def write_jdbc(df: DataFrame, mode: str = "append", **options) -> None:
    df.write.format("jdbc").options(**write_jdbc_options(**options)).mode(mode).save()


def atomic_overwrite(df: DataFrame, dest_path: str) -> int:
    """Overwrite `dest_path` without a window where readers see partial
    data: write to a staging dir, ``<dest>.__staging__``, then swap it
    in with ``io.fsutil.replace_dir`` (the old data moves aside to
    ``<dest>.__old__`` and comes back if the publish fails). Plain
    parquet has no transaction log (Delta would make this a commit);
    the swap keeps the non-transactional window to a single rename.

    The swap runs through the Hadoop FileSystem API resolved from the
    destination URI, so it works on any Spark-supported filesystem
    (file://, hdfs://, s3a://, ...), not just the driver's local POSIX
    tree. On object stores without atomic rename (S3) the rename is
    copy+delete — still a far smaller window than a full in-place
    overwrite, but prefer a table format with a commit log there.

    Returns the rows written, counted on the write (``write_counted``)."""
    dest = dest_path.rstrip("/")
    staging = f"{dest}.__staging__"
    n = write_counted(df, lambda d: d.write.mode("overwrite").parquet(staging))
    fs, path_cls = hadoop_fs(df.sparkSession, dest)
    replace_dir(fs, path_cls, staging, dest)
    return n


def export_training_shards(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    order_by: list[str],
    shards_per_partition: int = 4,
    max_records_per_file: int | None = None,
) -> None:
    """Publish a training dataset as partitioned, internally-ordered
    parquet shards — the final export step of a data pipeline.

    Layout contract: one directory per `partition_by` value (so a
    trainer reading split=train prunes everything else at planning
    time), `shards_per_partition` files inside each via a range
    repartition on (partition cols, order cols), and rows sorted by
    `order_by` WITHIN each shard (sortWithinPartitions — a local sort,
    never a global one). `maxRecordsPerFile` bounds file size so a
    100 TB export cannot produce unsplittable multi-GB row groups.
    """
    out = df.repartitionByRange(
        shards_per_partition, *[F.col(c) for c in partition_by + order_by]
    ).sortWithinPartitions(*partition_by, *order_by)
    writer = out.write.mode("overwrite").partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite",
                compression: str | None = None) -> None:
    """JSON-Lines export — the interchange format most training-data
    loaders consume. One object per line, written in parallel (one file
    per partition); pair with export_training_shards-style partitioning
    for directory layout. `compression='gzip'|'zstd'` trades CPU for the
    3-5x text shrink."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark, path: str, schema=None) -> DataFrame:
    """JSONL reader; pass an explicit schema in production — schema
    inference is an extra full pass over the data."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              compression: str = "zlib") -> None:
    """ORC sink — the columnar interchange format for Hive/Trino
    ecosystems (S9/S10's parquet path, different container). Splittable,
    predicate-pushdown-capable, so a downstream Spark/Trino reader keeps
    the same scan properties as parquet."""
    df.write.mode(mode).option("compression", compression).orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """ORC reader; schema comes from the file footer (self-describing,
    no inference pass)."""
    return spark.read.orc(path)


def compact_parquet_dir(
    spark,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~target_rows_per_file via ONE coalesce (no shuffle — coalesce only
    merges read splits) and an atomic directory swap. The small-files
    problem is the chronic failure mode of incremental sinks (every
    micro-batch/upsert leaves files); compaction restores scan
    efficiency (fewer tasks, bigger sequential reads, footer pruning
    still per row group). Returns the data files in the directory after
    compaction, counted with one Hadoop glob.

    The schema comes from one footer (``io.readers.read_parquet``) and
    the file count from ceil(rows / target), the rows from the parquet
    footers, read on the driver (``io.fsutil.parquet_rows``): the write
    is the one Spark job. A directory with subdirectories (Hive
    partitions) raises ``ValueError``: one coalesced rewrite would
    flatten them into one dir, the partition column turned data. Compact
    each partition dir instead, as ``io.bucketed.compact_buckets`` does."""
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    if fs.globStatus(path_cls(f"{base}/{DATA_FILES}/*")):
        raise ValueError(
            f"{path} holds subdirectories (Hive partitions?): compact each "
            "partition dir on its own"
        )
    df = read_parquet(spark, path)
    n_files = max(1, -(-parquet_rows(spark, base) // target_rows_per_file))
    atomic_overwrite(df.coalesce(n_files), path)
    return len(fs.globStatus(path_cls(f"{base}/{DATA_FILES}")) or [])
