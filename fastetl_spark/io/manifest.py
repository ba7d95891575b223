"""Manifest-based incremental file ingestion — the batch twin of the
Structured Streaming file source's bookkeeping.

A landing directory keeps receiving files; each run ingests only the
files not yet in the manifest and then commits the manifest. This is
what the reference's key-range resume (S4/S5) cannot express when the
arrival unit is a FILE, not a key interval (vendor drops, log
shipments, partner exports).

Delivery contract: the manifest commit happens AFTER the data append —
a crash between the two re-ingests the last batch on the next run
(at-least-once). Pair with a downstream dedup key or write to a
transactional table format when exactly-once is required; committing
the manifest first would silently LOSE the batch instead, which is
strictly worse. File listing and manifest IO go through the Hadoop
FileSystem API, so hdfs:// and s3a:// landing zones work unchanged.

Scale note: the novelty check is a LEFT ANTI join of the landing
listing against the manifest DataFrame — the accumulated seen-set is
never collected to the driver, so a years-old landing zone with
millions of manifest rows costs one small join, not driver memory.
Only the CURRENT batch's new files (bounded by per-run arrivals, and
needed on the driver anyway to build the read) are collected."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fastetl_spark.io.fsutil import hadoop_fs


def list_data_files(spark: SparkSession, src_dir: str, suffix: str = ".parquet") -> list[str]:
    """Non-recursive listing of data files in a landing dir (skips
    dotfiles and _SUCCESS markers), as fully-qualified URIs."""
    fs, path_cls = hadoop_fs(spark, src_dir)
    out = []
    for status in fs.listStatus(path_cls(src_dir)):
        name = status.getPath().getName()
        if status.isFile() and name.endswith(suffix) and not name.startswith(("_", ".")):
            out.append(status.getPath().toString())
    return sorted(out)


def read_manifest_df(spark: SparkSession, manifest_path: str) -> DataFrame:
    """The manifest as a DataFrame (`file string`); empty when absent.
    Callers join against it — nothing collects the seen-set."""
    fs, path_cls = hadoop_fs(spark, manifest_path)
    if not fs.exists(path_cls(manifest_path)):
        return spark.createDataFrame([], "file string")
    return spark.read.parquet(manifest_path).select("file")


def read_manifest(spark: SparkSession, manifest_path: str) -> set[str]:
    """Driver-side seen-set — kept for tests/tools on small manifests;
    the ingestion path itself uses the anti-join, not this."""
    return {r["file"] for r in read_manifest_df(spark, manifest_path).collect()}


def ingest_new_files(
    spark: SparkSession,
    src_dir: str,
    dest_path: str,
    manifest_path: str,
    suffix: str = ".parquet",
) -> list[str]:
    """Append the landing files not yet in the manifest to `dest_path`,
    then commit them to the manifest (atomic overwrite). Returns the
    list of newly ingested files (empty = nothing to do, zero jobs run
    beyond the listing and the novelty join)."""
    from fastetl_spark.io.writers import atomic_overwrite

    listing = list_data_files(spark, src_dir, suffix)
    if not listing:
        return []
    listing_df = spark.createDataFrame([(f,) for f in listing], "file string")
    manifest_df = read_manifest_df(spark, manifest_path)
    # distributed novelty: anti-join against the manifest — only the new
    # files (this batch) ever reach the driver
    new_files = sorted(
        r["file"]
        for r in listing_df.join(manifest_df, on="file", how="left_anti").collect()
    )
    if not new_files:
        return []
    spark.read.parquet(*new_files).write.mode("append").parquet(dest_path)
    new_df = spark.createDataFrame([(f,) for f in new_files], "file string")
    # union + atomic swap: the staged write drains the old manifest scan
    # before the directory swap publishes the new one
    atomic_overwrite(manifest_df.unionByName(new_df), manifest_path)
    return new_files
