"""Hadoop FileSystem helpers shared by the directory-swap writers.

All path manipulation goes through the Hadoop FileSystem API resolved
from the target URI, so the same code works on file://, hdfs://,
s3a://, ... (the driver's local POSIX tree is just one case). On
object stores without atomic rename the swap degrades to copy+delete —
a far smaller non-transactional window than an in-place overwrite, but
prefer a table format with a commit log there.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path class) for the filesystem owning ``path_str``."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(path_str).getFileSystem(conf)
    return fs, path_cls


def replace_dir(fs, path_cls, src_str: str, dst_str: str) -> None:
    """Publish ``src`` over ``dst`` with a backup-and-rename swap.

    CRASH-atomic, not READER-atomic: a crash at any point leaves the
    destination as either the complete old directory or the complete
    new one (on failure the old one is restored), but there is a
    window between the two renames where the destination path does not
    exist — a live reader listing the tree right then sees it missing.
    Used for one-off swaps (``io.bucketed.bucketize`` migrating a
    root); recurring merges publish by pointer flip instead, through
    the bucketed manifest (io/bucketed)."""
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


def replace_text_file(spark: SparkSession, path_str: str, text: str) -> None:
    """Overwrite a small control file via tmp-write + rename (the
    pattern manifest commits use): a concurrent reader sees the old
    content or the new content, never a torn partial write — the
    rename, not the write, publishes. The delete/rename window can
    leave the file briefly ABSENT after a crash; callers treat a
    missing control file as 'rebuild', which is the safe direction."""
    fs, path_cls = hadoop_fs(spark, path_str)
    base, _, name = path_str.rstrip("/").rpartition("/")
    tmp_str = f"{base}/.{name}.tmp"
    write_text_file(spark, tmp_str, text)
    p = path_cls(path_str)
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(path_cls(tmp_str), p):
        raise IOError(f"replace_text_file: could not publish {path_str}")


def read_text_file(spark: SparkSession, path_str: str) -> str | None:
    """Read a small control file; None when absent."""
    fs, path_cls = hadoop_fs(spark, path_str)
    p = path_cls(path_str)
    if not fs.exists(p):
        return None
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _parquet_reader(spark: SparkSession, status):
    """A footer reader over one parquet file (a Hadoop FileStatus)."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    parquet = spark.sparkContext._jvm.org.apache.parquet.hadoop
    return parquet.ParquetFileReader.open(
        parquet.util.HadoopInputFile.fromStatus(status, conf)
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


def parquet_physical_type(spark: SparkSession, glob_str: str, column: str) -> str | None:
    """Physical type (``INT64``, ``BINARY``, ...) of top-level ``column``
    in the footer of the first parquet file matching ``glob_str``, read
    on the driver (Spark's schema inference costs a job). None when no
    file matches or the column is absent."""
    fs, path_cls = hadoop_fs(spark, glob_str)
    files = fs.globStatus(path_cls(glob_str)) or []
    if not files:
        return None
    reader = _parquet_reader(spark, files[0])
    try:
        schema = reader.getFooter().getFileMetaData().getSchema()
    finally:
        reader.close()
    if not schema.containsField(column):
        return None
    return schema.getType(column).asPrimitiveType().getPrimitiveTypeName().name()


_LEFTOVER_SUFFIXES = (
    "__staging__",
    "__old__",
    "__merge_staging__",
    "__bucketize_staging__",
    "__init_staging__",
    "__merge_lock__",  # stale after a crashed merge; safe once none runs
)


def vacuum_dest(spark: SparkSession, path: str, keep_commit_markers: int = 1000) -> dict:
    """Maintenance sweep for a swap-published destination: remove
    leftover staging/backup directories (a crash between write and
    swap strands them — they are never referenced by readers, only
    re-created by the next write) and trim the streaming commit-marker
    log to the newest `keep_commit_markers` batch ids (markers exist to
    absorb redelivery of the LAST batch after a restart; anything far
    older is dead weight on the namenode/listing).

    Safe to run concurrently with readers: nothing under the live
    destination directory itself is touched. Do NOT run concurrently
    with an in-flight merge on the same destination — the merge's own
    staging dir looks identical to a stranded one.

    Returns {"dirs_removed": [...], "markers_removed": n}.
    """
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    removed = []
    for suffix in _LEFTOVER_SUFFIXES:
        p = path_cls(f"{base}.{suffix}")
        if fs.exists(p):
            fs.delete(p, True)
            removed.append(f"{base}.{suffix}")
    markers_removed = 0
    commits = path_cls(f"{base}.__commits__")
    if fs.exists(commits):
        ids = []
        for status in fs.listStatus(commits):
            name = status.getPath().getName()
            if name.isdigit():
                ids.append(int(name))
        for batch_id in sorted(ids)[:-keep_commit_markers] if keep_commit_markers else sorted(ids):
            fs.delete(path_cls(f"{base}.__commits__/{batch_id}"), False)
            markers_removed += 1
    return {"dirs_removed": removed, "markers_removed": markers_removed}
