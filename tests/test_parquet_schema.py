"""A parquet read's schema from one footer on the driver
(``io.fsutil.parquet_schema``, ``io.readers.read_parquet``) must be the
schema Spark's inference job gives, and where the footer cannot be
exact the read must be Spark's own: same schema, same error."""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from fastetl_spark.io.bucketed import (
    BUCKET_COL,
    bucket_file_counts,
    read_bucketed,
    read_buckets_for_keys,
)
from fastetl_spark.io.fsutil import parquet_schema
from fastetl_spark.io.readers import read_parquet, read_table
from fastetl_spark.operators.dedup_index import build_minhash_index, match_minhash_index


def test_pyarrow_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    schema = pa.schema(
        [
            pa.field("id", pa.int64(), nullable=False),
            ("name", pa.string()),
            ("small", pa.int32()),
            ("score", pa.float64()),
            ("tags", pa.list_(pa.string())),
        ]
    )
    table = pa.table(
        {"id": [1, 2], "name": ["a", None], "small": [1, 2], "score": [0.5, None], "tags": [["x"], []]},
        schema=schema,
    )
    pq.write_table(table, path)
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def test_spark_directory_with_success_marker(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.sql(
        "SELECT id, CAST(id AS STRING) AS s, array(id, id) AS a, "
        "named_struct('x', id, 'y z', 'w') AS st, map('k', id) AS m FROM range(10)"
    ).repartition(3).write.parquet(path)
    assert (tmp_path / "d" / "_SUCCESS").exists()
    got = read_parquet(spark, path)
    assert parquet_schema(spark, path) == got.schema == spark.read.parquet(path).schema
    assert sorted(got.collect()) == sorted(spark.read.parquet(path).collect())
    pattern = f"{path}/part-*"  # a glob: Spark expands and infers it
    assert parquet_schema(spark, pattern) is None
    assert read_parquet(spark, pattern).schema == spark.read.parquet(pattern).schema


def test_fixture_events_and_nanos_under_nanos_as_long(spark, sf_dir, tmp_path):
    nanos = str(tmp_path / "nanos.parquet")
    ts = pa.array([dt.datetime(2020, 1, 2, 3, 4, 5, 6)], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), nanos)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        for path in (f"{sf_dir}/events.parquet", nanos):
            assert parquet_schema(spark, path) == spark.read.parquet(path).schema
        assert parquet_schema(spark, nanos).simpleString() == "struct<ts:bigint>"
    finally:
        spark.conf.unset(key) if prev is None else spark.conf.set(key, prev)


@pytest.mark.parametrize("writer", ["spark", "pyarrow"])
def test_decimal_date_and_timestamp_columns(spark, tmp_path, writer):
    path = str(tmp_path / "t")
    if writer == "spark":
        spark.sql(
            "SELECT CAST(1.25 AS DECIMAL(15, 2)) AS price, CAST(7 AS DECIMAL(38, 10)) AS wide, "
            "DATE'2020-01-02' AS d, TIMESTAMP'2020-01-02 03:04:05' AS ts, "
            "TIMESTAMP_NTZ'2020-01-02 03:04:05' AS ts_ntz"
        ).write.parquet(path)
    else:
        table = pa.table(
            {
                "price": pa.array([decimal.Decimal("1.25")], pa.decimal128(15, 2)),
                "d": pa.array([dt.date(2020, 1, 2)], pa.date32()),
                "ts_utc": pa.array([dt.datetime(2020, 1, 2, 3, 4, 5)], pa.timestamp("us", "UTC")),
                "ts_local": pa.array([dt.datetime(2020, 1, 2, 3, 4, 5)], pa.timestamp("us")),
                "ts_ms": pa.array([dt.datetime(2020, 1, 2, 3, 4, 5)], pa.timestamp("ms", "UTC")),
            }
        )
        path += ".parquet"
        pq.write_table(table, path)
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def test_merge_schema_option_falls_back_to_spark(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(3).write.parquet(path)
    spark.range(3).selectExpr("id", "id * 2 AS extra").write.mode("append").parquet(path)
    opts = {"mergeSchema": "true"}
    got = read_parquet(spark, path, opts).schema
    assert got == spark.read.options(**opts).parquet(path).schema
    assert got.names == ["id", "extra"]


def test_hive_partitioned_directory_falls_back_to_spark(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.sql("SELECT id, id % 3 AS part FROM range(12)").write.partitionBy("part").parquet(path)
    assert parquet_schema(spark, path) is None
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_empty_directory_raises_sparks_error(spark, tmp_path):
    path = tmp_path / "empty"
    path.mkdir()
    (path / "_SUCCESS").write_text("")
    assert parquet_schema(spark, str(path)) is None
    errors = []
    for read in (spark.read.parquet, lambda p: read_parquet(spark, p)):
        with pytest.raises(AnalysisException) as err:
            read(str(path))
        errors.append(err.value.getCondition())
    assert errors == ["UNABLE_TO_INFER_SCHEMA"] * 2


def test_hive_index_reads_match_sparks_inference(spark, sf_dir, tmp_path):
    """The Hive-layout index reads take the schema from one footer plus
    the int bucket column, and read the rows Spark's inference reads."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    build_minhash_index(docs, idx, n_buckets=8)
    raw = spark.read.parquet(idx)
    assert read_bucketed(spark, idx).schema == raw.drop(BUCKET_COL).schema
    keys = ["band", "band_hash"]

    def rows(df):
        return sorted(map(tuple, df.collect()))

    one_bucket = raw.filter(F.col(BUCKET_COL) == 3).select(*keys).limit(5)
    many = raw.filter(F.col("doc_id") % 9 == 0).select(*keys)
    none = raw.select(*keys).limit(0)
    for probe in (one_bucket, many, none):
        got = read_buckets_for_keys(spark, idx, probe)
        want = raw.join(probe, keys, "left_semi").drop(BUCKET_COL)
        assert got.schema == want.schema
        assert rows(got) == rows(want)
    assert rows(read_buckets_for_keys(spark, idx, many)) != []

    def listed(b: int) -> int:
        names = os.listdir(os.path.join(idx, f"{BUCKET_COL}={b}"))
        return sum(1 for n in names if not n.startswith(("_", ".")))

    assert bucket_file_counts(spark, idx) == {b: listed(b) for b in range(8)}


def test_hive_probe_reads_literal_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """A probe hands Spark the touched partition dirs that exist, never a
    glob: given a glob as its one path, Spark looks it up for a stream
    sink's metadata and logs the failed lookup with a stack trace, on
    every probe."""
    from pyspark.sql.readwriter import DataFrameReader

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    build_minhash_index(docs.filter(F.col("doc_id") % 4 != 0), idx, n_buckets=8)
    paths, parquet = [], DataFrameReader.parquet

    def spy(self, *args, **kwargs):
        paths.extend(args)
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert match_minhash_index(spark, idx, docs.filter(F.col("doc_id") % 4 == 0)).collect()
    probed = [p for p in paths if BUCKET_COL in p]
    assert probed and not [p for p in probed if set(p) & set("{}[]*?")], probed
    assert all(os.path.isdir(p.removeprefix("file:")) for p in probed)
