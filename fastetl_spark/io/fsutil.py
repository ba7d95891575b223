"""Hadoop FileSystem helpers shared by the directory-swap writers, and
the driver-side parquet footer reads (row counts, schemas).

All path manipulation goes through the Hadoop FileSystem API resolved
from the target URI, so the same code works on file://, hdfs://,
s3a://, ... (the driver's local POSIX tree is just one case). On
object stores without atomic rename the swap degrades to copy+delete —
a far smaller non-transactional window than an in-place overwrite, but
prefer a table format with a commit log there.
"""

from __future__ import annotations

import json

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType


def jvm_class(spark: SparkSession, fqn: str) -> JavaClass:
    """The JVM class ``fqn``, addressed by its full name with no py4j
    round trip. ``spark._jvm.org.apache...`` costs one per name
    component, each a failed class lookup in the JVM: ~1.2 ms of CPU
    for ``org.apache.hadoop.fs.Path``."""
    return JavaClass(fqn, spark._jvm._gateway_client)


def hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path class) for the filesystem owning ``path_str``."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path_cls = jvm_class(spark, "org.apache.hadoop.fs.Path")
    fs = path_cls(path_str).getFileSystem(conf)
    return fs, path_cls


def status_paths(spark: SparkSession, statuses) -> list[str]:
    """The full paths of a Hadoop ``FileStatus`` array, joined in the JVM:
    three py4j round trips whatever its length, where reading them one
    by one costs about five per status. (py4j does not pass a ``Path[]``
    where ``Object[]`` is declared; Scala's ``ArraySeq.make`` takes any
    array.) None, what a glob of a missing path can return, has none."""
    if statuses is None:
        return []
    paths = jvm_class(spark, "org.apache.hadoop.fs.FileUtil").stat2Paths(statuses)
    joined = jvm_class(spark, "scala.collection.mutable.ArraySeq").make(paths).mkString("\n")
    return joined.split("\n") if joined else []


def replace_dir(fs, path_cls, src_str: str, dst_str: str) -> None:
    """Publish ``src`` over ``dst`` with a backup-and-rename swap.

    CRASH-atomic, not READER-atomic: a crash at any point leaves the
    destination as either the complete old directory or the complete
    new one (on failure the old one is restored), but there is a
    window between the two renames where the destination path does not
    exist — a live reader listing the tree right then sees it missing.
    Used for whole-directory swaps (``io.writers.atomic_overwrite``, so
    a compaction; ``io.bucketed.bucketize`` migrating a root); recurring
    merges publish by pointer flip instead, through the bucketed
    manifest (io/bucketed)."""
    src = path_cls(src_str)
    dst = path_cls(dst_str)
    backup = path_cls(dst_str.rstrip("/") + ".__old__")
    if fs.exists(backup):
        fs.delete(backup, True)
    had_dst = fs.exists(dst)
    if had_dst and not fs.rename(dst, backup):
        raise IOError(f"replace_dir: could not move {dst_str} aside")
    if not fs.rename(src, dst):
        if had_dst:
            fs.rename(backup, dst)
        raise IOError(f"replace_dir: could not publish {src_str} to {dst_str}")
    if fs.exists(backup):
        fs.delete(backup, True)


def write_text_file(spark: SparkSession, path_str: str, text: str) -> None:
    """Write a small control file (spec/marker) through the Hadoop FS."""
    fs, path_cls = hadoop_fs(spark, path_str)
    out = fs.create(path_cls(path_str), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text_file(spark: SparkSession, path_str: str) -> str | None:
    """Read a small control file; None when absent."""
    fs, path_cls = hadoop_fs(spark, path_str)
    p = path_cls(path_str)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm_class(spark, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()


def _parquet_reader(spark: SparkSession, status):
    """A footer reader over one parquet file (a Hadoop FileStatus)."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm_class(spark, "org.apache.parquet.hadoop.ParquetFileReader").open(
        jvm_class(spark, "org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(status, conf)
    )


def parquet_rows(spark: SparkSession, dir_str: str) -> int:
    """Row count of a parquet directory from its data files' footers,
    read on the driver: no Spark job, one footer per file."""
    fs, path_cls = hadoop_fs(spark, dir_str)
    n = 0
    for s in fs.listStatus(path_cls(dir_str)):
        if s.isDirectory() or s.getPath().getName().startswith(("_", ".")):
            continue
        reader = _parquet_reader(spark, s)
        try:
            n += reader.getRecordCount()
        finally:
            reader.close()
    return n


def footer_schema(spark: SparkSession, status) -> StructType:
    """Spark schema of one parquet file (a Hadoop FileStatus), read from
    its footer on the driver with the function Spark's schema inference
    applies, ``ParquetFileFormat.readSchemaFromFooter``: the Spark schema
    the writer stored in the footer, else the parquet schema converted
    under the session's SQLConf (``nanosAsLong``, ``binaryAsString``,
    ...). Every field nullable, as a read makes it."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    spark_pq = "org.apache.spark.sql.execution.datasources.parquet"
    metadata = jvm_class(spark, f"{spark_pq}.ParquetFooterReader").readFooter(
        jvm_class(spark, "org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(status, conf),
        jvm_class(
            spark, "org.apache.parquet.format.converter.ParquetMetadataConverter"
        ).SKIP_ROW_GROUPS,
    )
    converter = jvm_class(spark, f"{spark_pq}.ParquetToSparkSchemaConverter")(
        spark._jsparkSession.sessionState().conf()
    )
    schema = jvm_class(spark, f"{spark_pq}.ParquetFileFormat").readSchemaFromFooter(
        jvm_class(spark, "org.apache.parquet.hadoop.Footer")(status.getPath(), metadata),
        converter,
    )
    return StructType.fromJson(json.loads(schema.asNullable().json()))


# Hadoop glob of the names Spark scans in a directory: not ``_``/``.``-led
DATA_FILES = "[^_.]*"


def parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, from one data
    file's footer (``footer_schema``) instead of Spark's inference job.
    None where one footer cannot be exact, so the caller lets Spark
    infer: a glob pattern or a missing path, a directory with a
    non-empty subdirectory (Hive partitions) or a summary file
    (``_metadata``, ``_common_metadata``, which Spark reads first), or
    one without a data file. A few Hadoop globs, so the cost does not
    grow with the directory's file count."""
    if set(path) & set("{}[]*?\\"):
        return None
    fs, path_cls = hadoop_fs(spark, path)
    found = fs.globStatus(path_cls(path))
    if not found:
        return None
    data = found[0]
    if data.isDirectory():
        base = path.rstrip("/")
        summary = f"{base}/{{_metadata,_common_metadata}}*"
        if fs.globStatus(path_cls(summary)) or fs.globStatus(path_cls(f"{base}/{DATA_FILES}/*")):
            return None
        files = fs.globStatus(path_cls(f"{base}/{DATA_FILES}"))
        if not files:
            return None
        data = files[0]
        if data.isDirectory() or data.getPath().getName().endswith("._COPYING_"):
            return None
    return footer_schema(spark, data)


_LEFTOVER_SUFFIXES = (
    "__staging__",
    "__old__",
    "__merge_staging__",
    "__bucketize_staging__",
    "__init_staging__",
    "__merge_lock__",  # stale after a crashed merge; safe once none runs
)


def vacuum_dest(spark: SparkSession, path: str) -> dict:
    """Maintenance sweep for a swap-published destination: remove
    leftover staging/backup directories (a crash between write and
    swap strands them — they are never referenced by readers, only
    re-created by the next write) and a stale merge lock.

    Safe to run concurrently with readers: nothing under the live
    destination directory itself is touched. Do NOT run concurrently
    with an in-flight merge on the same destination — the merge's own
    staging dir looks identical to a stranded one.

    Returns {"dirs_removed": [...]}.
    """
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    removed = []
    for suffix in _LEFTOVER_SUFFIXES:
        p = path_cls(f"{base}.{suffix}")
        if fs.exists(p):
            fs.delete(p, True)
            removed.append(f"{base}.{suffix}")
    return {"dirs_removed": removed}
