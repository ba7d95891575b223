"""Fixed per-round cost of an ingest round: Spark jobs, bookkeeping
rows built on the JVM, and the merge facts the v2 manifest records.

A bucketed ``Engine.sync`` round is bound by fixed costs, not by its
data: every Spark job, Python-worker start and file created costs the
same at 10 rows as at 10k. These tests pin the job ceilings of one
round and of one index append, the plans of the bookkeeping writes,
and the row counts and schema the manifest carries so that the
post-merge count needs no job.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from fastetl_spark.api import Engine
from fastetl_spark.io.bucketed import (
    MANIFEST_PREFIX,
    list_generations,
    partial_merge,
    read_bucketed,
    read_manifest,
    reshard_bucketed,
    rollback_bucketed,
    write_bucketed,
)
from fastetl_spark.meta.load_info import LOG_SCHEMA, LoadInfo
from fastetl_spark.operators.sync import WatermarkStore, _watermark_type

N_BUCKETS = 8

# Spark jobs of one bucketed sync round (watermark get, merge, new
# watermark, load log) and of one minhash index append. They were 23
# and 8 while the merge facts took actions of their own.
SYNC_ROUND_JOBS = 14
INDEX_APPEND_JOBS = 4


def _table(spark, lo: int, hi: int, ts: int):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        F.lit(ts).cast("long").alias("ts"),
    )


def _manifest_rows(spark, path: str) -> int:
    return sum(read_manifest(spark, path)["rows"].values())


class _Jobs:
    """Counts the Spark jobs run inside the block, by job group."""

    def __init__(self, spark, group: str):
        self.sc, self.group = spark.sparkContext, group

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.n = len(self.sc.statusTracker().getJobIdsForGroup(self.group))


def _capture_parquet_plans(monkeypatch) -> dict[str, str]:
    """Record the executed plan of every parquet write, by path."""
    plans: dict[str, str] = {}
    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        plans[path] = self._df._jdf.queryExecution().executedPlan().toString()
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return plans


def test_sync_round_and_index_append_job_budget(spark, sf_dir, tmp_path, monkeypatch):
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.operators.dedup_index import (
        append_to_minhash_index,
        build_minhash_index,
    )

    dest, src = str(tmp_path / "dest"), str(tmp_path / "src")
    write_bucketed(_table(spark, 0, 400, 1), dest, ["id"], N_BUCKETS)
    wm, log = str(tmp_path / "wm"), str(tmp_path / "log")
    eng = Engine(spark, load_log_path=log, watermark_store_path=wm)
    eng.watermark_store.set(dest, 1)
    _table(spark, 350, 450, 2).write.parquet(src)
    dels = spark.createDataFrame([(3,), (5,)], "id long")
    plans = _capture_parquet_plans(monkeypatch)
    with _Jobs(spark, "budget-sync") as jobs:
        n = eng.sync({"path": src}, {"path": dest}, ["id"], "ts", deleted_keys=dels)
    assert n == 448 == read_bucketed(spark, dest).count()
    assert WatermarkStore(spark, wm).get(dest) == 2
    assert jobs.n <= SYNC_ROUND_JOBS, jobs.n
    # the bookkeeping rows come from JVM literals, not a Python RDD
    for path in (wm, log):
        assert "ExistingRDD" not in plans[path], plans[path]
        assert "Range" in plans[path], plans[path]

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus, inc = docs.filter(F.col("doc_id") % 4 != 0), docs.filter(F.col("doc_id") % 4 == 0)
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx, n_buckets=N_BUCKETS)
    n_before = spark.read.parquet(idx).count()
    with _Jobs(spark, "budget-append") as jobs:
        append_to_minhash_index(inc, idx)
    assert jobs.n <= INDEX_APPEND_JOBS, jobs.n
    assert spark.read.parquet(idx).count() > n_before


def test_manifest_rows_track_every_publish(spark, tmp_path):
    dest, src = str(tmp_path / "dest"), str(tmp_path / "src")
    _table(spark, 0, 300, 1).write.parquet(dest)
    Engine(spark).bucketize(dest, ["id"], N_BUCKETS)

    def check():
        got = read_bucketed(spark, dest)
        assert _manifest_rows(spark, dest) == got.count()
        dirs = [f"{dest}/{d}" for d in read_manifest(spark, dest)["buckets"].values()]
        assert got.schema == spark.read.parquet(*dirs).schema  # recorded == inferred

    check()
    partial_merge(spark, dest, _table(spark, 250, 400, 2))  # updates + inserts
    check()
    partial_merge(spark, dest, _table(spark, 0, 10, 3), deleted_keys=_table(spark, 5, 50, 0))
    check()
    assert _manifest_rows(spark, dest) == 400 - 45
    everything = read_bucketed(spark, dest).select("id")
    partial_merge(spark, dest, _table(spark, 0, 0, 0), deleted_keys=everything)
    check()
    assert _manifest_rows(spark, dest) == 0
    rollback_bucketed(spark, dest)
    check()
    assert _manifest_rows(spark, dest) == 355
    reshard_bucketed(spark, dest, 3)  # first placement: nothing moves
    reshard_bucketed(spark, dest, 5)
    check()
    # a no-op sync (empty increment, no deletes) returns the recorded count
    _table(spark, 0, 3, 0).write.parquet(src)
    eng = Engine(spark, watermark_store_path=str(tmp_path / "wm"))
    eng.watermark_store.set(dest, 10)
    gens = list_generations(spark, dest)
    assert eng.sync({"path": src}, {"path": dest}, ["id"], "ts") == 355
    assert list_generations(spark, dest) == gens


def test_sync_of_v2_table_without_recorded_rows(spark, tmp_path):
    """A manifest committed before ``rows``/``schema`` were recorded:
    the sync still reports the right count and records both."""
    dest, src = str(tmp_path / "dest"), str(tmp_path / "src")
    write_bucketed(_table(spark, 0, 200, 1), dest, ["id"], N_BUCKETS)
    (gen,) = list_generations(spark, dest)
    path = os.path.join(dest, f"{MANIFEST_PREFIX}{gen}.json")
    with open(path) as fh:
        m = json.load(fh)
    with open(path, "w") as fh:
        json.dump({"gen": m["gen"], "buckets": m["buckets"]}, fh)
    os.remove(os.path.join(dest, f".{MANIFEST_PREFIX}{gen}.json.crc"))
    assert "rows" not in read_manifest(spark, dest)

    _table(spark, 150, 260, 2).write.parquet(src)
    eng = Engine(spark, watermark_store_path=str(tmp_path / "wm"))
    assert eng.sync({"path": src}, {"path": dest}, ["id"], "ts") == 260
    assert _manifest_rows(spark, dest) == 260
    assert "schema" in read_manifest(spark, dest)
    assert eng.watermark_store.get(dest) == 2


def test_merge_facts_under_reliable_checkpoints(spark, tmp_path):
    """The touched buckets and the new watermark are observed on the
    materialisation; a reliable checkpoint must fill them exactly as
    ``localCheckpoint`` does."""
    from fastetl_spark.checkpointing import enable_reliable_checkpoints

    def run(tag: str):
        dest, src = str(tmp_path / f"dest_{tag}"), str(tmp_path / f"src_{tag}")
        write_bucketed(_table(spark, 0, 100, 1), dest, ["id"], N_BUCKETS)
        _table(spark, 90, 130, 2).write.parquet(src)
        eng = Engine(spark, watermark_store_path=str(tmp_path / f"wm_{tag}"))
        eng.watermark_store.set(dest, 1)
        dels = spark.createDataFrame([(7,)], "id long")
        n = eng.sync({"path": src}, {"path": dest}, ["id"], "ts", deleted_keys=dels)
        rows = sorted(tuple(r) for r in read_bucketed(spark, dest).collect())
        return n, eng.watermark_store.get(dest), read_manifest(spark, dest)["rows"], rows

    local = run("local")
    try:
        enable_reliable_checkpoints(spark, str(tmp_path / "ckpt"))
        reliable = run("reliable")
    finally:
        spark.sparkContext.setCheckpointDir(None)
    assert local == reliable
    assert local[:2] == (129, 2)


def _old_watermark_row(spark, path, table, value, seq):
    """A watermark row as the createDataFrame(list) writer laid it down."""
    spark.createDataFrame(
        [(table, str(value), _watermark_type(value), seq)],
        "table_name string, watermark_value string, value_type string, seq long",
    ).withColumn("updated_at", F.current_timestamp()).write.mode("append").parquet(path)


def _file_schemas(path: str) -> set:
    return {
        str(pq.read_schema(f).remove_metadata())
        for f in glob.glob(os.path.join(path, "*.parquet"))
    }


@pytest.mark.parametrize(
    "old, new",
    [
        (7, 12),
        (dt.date(2020, 1, 2), dt.date(2021, 3, 4)),
        (dt.datetime(2020, 1, 2, 3, 4, 5), dt.datetime(2021, 3, 4, 5, 6, 7, 8)),
        ("a-old", "b-new"),
    ],
)
def test_bookkeeping_files_read_back_across_writers(spark, tmp_path, old, new):
    import time

    wm = str(tmp_path / "wm")
    _old_watermark_row(spark, wm, "t", old, time.time_ns())
    store = WatermarkStore(spark, wm)
    assert store.get("t") == old
    store.set("t", new)
    assert store.get("t") == new
    assert len(_file_schemas(wm)) == 1  # names, types and nullability agree

    log = str(tmp_path / "log")
    spark.createDataFrame(
        [("spark", "default", "t", "u", "incremental", 5)], LOG_SCHEMA
    ).withColumn("dt_consumo", F.current_timestamp()).coalesce(1).write.parquet(log)
    info = LoadInfo(spark, log)
    info.save("t", "incremental", 7)
    assert len(_file_schemas(log)) == 1
    (row,) = info.throughput().collect()
    assert (row["no_tabela"], row["total_rows"], row["n_loads"]) == ("t", 12, 2)
