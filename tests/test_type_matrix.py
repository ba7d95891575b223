"""Type-fidelity matrix (FIXTURES.md §1 / SURVEY §5): the reference's
canonical 9-column transactions fixture — including the year-3227 and
year-1 timestamps it deliberately covers — must round-trip through
parquet and full_copy unchanged, and through the zipped-CSV data
package with schema intact.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fastetl_spark.io.datapackage import read_zipped_csv, write_zipped_csv
from fastetl_spark.operators.copy import full_copy

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("Name", T.StringType()),
        T.StructField("Description", T.StringType()),
        T.StructField("Description2", T.StringType()),
        T.StructField("Age", T.LongType()),
        T.StructField("Weight", T.DoubleType()),
        T.StructField("Birth", T.DateType()),
        T.StructField("Active", T.BooleanType()),
        T.StructField("date_time", T.TimestampType()),
    ]
)

# year-3227 far future like the reference fixture; year-1000 as the far
# past (PySpark's Python collect() cannot convert year-1 *timestamps* —
# datetime.fromtimestamp fails below year 1; year-1 survives as a DATE)
EXTREME_TS = [
    dt.datetime(3227, 12, 31, 23, 59, 59),
    dt.datetime(1000, 1, 1, 0, 0, 0),
    dt.datetime(2024, 2, 29, 12, 0, 0),
    dt.datetime(1970, 1, 1, 0, 0, 0),
]
EXTREME_DATES = [dt.date(3227, 12, 31), dt.date(1, 1, 1), dt.date(2024, 2, 29), dt.date(1970, 1, 1)]


@pytest.fixture(scope="module")
def transactions(spark):
    rows = [
        (i, f"name{i % 6}", "lorem " * 20, "ipsum " * 10, (i * 37) % 1_000_000,
         round(i * 0.731, 2), EXTREME_DATES[i % 4], i % 2 == 0, EXTREME_TS[i % 4])
        for i in range(200)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_parquet_roundtrip_preserves_types_and_values(spark, transactions, tmp_path):
    transactions.write.parquet(str(tmp_path / "t"))
    back = spark.read.parquet(str(tmp_path / "t"))
    assert back.schema == SCHEMA
    a = sorted(map(tuple, transactions.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b  # includes year-3227 and year-1 timestamps


def test_full_copy_preserves_matrix(spark, transactions, tmp_path):
    n = full_copy(transactions, str(tmp_path / "dest"), dest_columns=[c.lower() for c in transactions.columns])
    assert n == 200
    back = spark.read.parquet(str(tmp_path / "dest"))
    assert back.count() == 200
    assert [c.lower() for c in back.columns] == [c.lower() for c in transactions.columns]


def test_zipped_csv_datapackage_roundtrip(spark, transactions, tmp_path):
    # CSV cannot carry year-3227 reliably through pandas; use the sane subset
    sane = transactions.filter(F.year("date_time").between(1900, 2200))
    zip_path = str(tmp_path / "patch.zip")
    write_zipped_csv(sane, zip_path)
    back = read_zipped_csv(spark, zip_path)
    assert [f.dataType for f in back.schema.fields] == [f.dataType for f in sane.schema.fields]
    assert back.count() == sane.count()
    a = sorted(map(tuple, sane.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_jsonl_roundtrip_with_schema(spark, sf_dir, tmp_path):
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.io.writers import read_jsonl, write_jsonl

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(d, out, compression="gzip")
    back = read_jsonl(spark, out, schema="doc_id long, text string, lang string")
    assert back.count() == d.count()
    a = {r.doc_id: (r.text, r.lang) for r in d.collect()}
    b = {r.doc_id: (r.text, r.lang) for r in back.collect()}
    assert a == b


def test_orc_roundtrip_preserves_types_and_pushdown(spark, sf_dir, tmp_path):
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.io.writers import read_orc, write_orc

    src = read_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    assert back.count() == src.count()
    # filters must reach the ORC scan like they do for parquet
    plan = back.filter(back.o_orderkey < 100)._sc._jvm.PythonSQLUtils.explainString(
        back.filter(back.o_orderkey < 100)._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "o_orderkey" in plan


def test_compact_parquet_dir_reduces_files(spark, sf_dir, tmp_path):
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.io.writers import compact_parquet_dir

    src = read_table(spark, sf_dir, "orders")
    path = str(tmp_path / "fragmented")
    # simulate an incremental sink's debris: 40 tiny files
    src.repartition(40).write.parquet(path)
    import os

    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before >= 40
    n_after = compact_parquet_dir(spark, path, target_rows_per_file=10**9)
    after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert after == 1 and n_after == 1
    assert spark.read.parquet(path).count() == src.count()


def test_compact_parquet_dir_counts_files_not_splits(spark, tmp_path):
    """The count returned is the data files on disk, whatever the read
    splits: one file larger than ``maxPartitionBytes`` is one file. The
    compaction runs one job, the write: the schema and the row count
    come from the footers (it ran 3 while AQE ran ``df.count()``)."""
    from fastetl_spark.io.writers import compact_parquet_dir

    path = str(tmp_path / "fragmented")
    rows = spark.range(20_000).selectExpr("id", "sha2(CAST(id AS STRING), 256) AS h")
    rows.repartition(20).write.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(256 * 1024))
    sc = spark.sparkContext
    sc.setJobGroup("compact-dir", "compact-dir")
    try:
        n_after = compact_parquet_dir(spark, path, target_rows_per_file=10**9)
    finally:
        spark.conf.set(key, old)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    files = [f for f in os.listdir(path) if not f.startswith(("_", "."))]
    assert n_after == len(files) == 1
    assert os.path.getsize(os.path.join(path, files[0])) > 256 * 1024
    assert len(sc.statusTracker().getJobIdsForGroup("compact-dir")) == 1
    assert spark.read.parquet(path).count() == 20_000


def test_compact_parquet_dir_refuses_partitioned_dir(spark, tmp_path):
    """A Hive-partitioned dir is not flattened into one file with the
    partition column turned data: it raises, and the tree is left as it
    was."""
    from fastetl_spark.io.writers import compact_parquet_dir

    path = str(tmp_path / "parted")
    spark.range(30).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(path)
    before = sorted((d, tuple(sorted(f))) for d, _, f in os.walk(path))
    with pytest.raises(ValueError, match="subdirectories"):
        compact_parquet_dir(spark, path)
    assert sorted((d, tuple(sorted(f))) for d, _, f in os.walk(path)) == before
    assert sorted(r.k for r in spark.read.parquet(path).select("k").distinct().collect()) == [0, 1, 2]


def test_manifest_ingest_is_incremental(spark, sf_dir, tmp_path):
    from fastetl_spark.io.manifest import ingest_new_files
    from fastetl_spark.io.readers import read_table

    src = read_table(spark, sf_dir, "orders").limit(100).cache()
    landing = tmp_path / "landing"
    landing.mkdir()
    dest, manifest = str(tmp_path / "dest"), str(tmp_path / "manifest")

    # wave 1: two files land
    src.filter("o_orderkey % 2 = 0").coalesce(1).write.parquet(str(landing / "w1"))
    import shutil

    n = 0
    for f in (landing / "w1").glob("*.parquet"):
        shutil.move(str(f), str(landing / f"file{n}.parquet"))
        n += 1
    got1 = ingest_new_files(spark, str(landing), dest, manifest)
    assert len(got1) == n
    count1 = spark.read.parquet(dest).count()

    # re-run with nothing new: no-op
    assert ingest_new_files(spark, str(landing), dest, manifest) == []
    assert spark.read.parquet(dest).count() == count1

    # wave 2: one more file lands; only it is ingested
    src.filter("o_orderkey % 2 = 1").coalesce(1).write.parquet(str(landing / "w2"))
    for f in (landing / "w2").glob("*.parquet"):
        shutil.move(str(f), str(landing / f"file{n}.parquet"))
        n += 1
    got2 = ingest_new_files(spark, str(landing), dest, manifest)
    assert len(got2) == 1
    assert spark.read.parquet(dest).count() == src.count()
