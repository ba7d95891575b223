"""Copy operators, slugify, load log, comments, data dictionary, type
mapping — the reference's IO/metadata surface (S7-S9, K7-K9, M1-M4, F9).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fastetl_spark.io.readers import jdbc_scan_options, read_table
from fastetl_spark.io.types_mapping import (
    create_table_column_types,
    db_type_to_spark,
    spark_type_to_ddl,
)
from fastetl_spark.io.writers import select_intersection, write_jdbc_options
from fastetl_spark.meta.comments import (
    comment_ddl,
    copy_comments,
    get_column_comments,
    with_column_comments,
)
from fastetl_spark.meta.dictionary import to_markdown
from fastetl_spark.meta.load_info import LoadInfo
from fastetl_spark.operators.copy import (
    drop_empty_header_columns,
    full_copy,
    slugify_column,
    slugify_columns,
    small_table_from_records,
)


def test_slugify_column():
    assert slugify_column("Nome do Órgão") == "nome_do_orgao"
    assert slugify_column("Data de Início") == "data_de_inicio"
    assert slugify_column("  Weird--Header!! ") == "weird_header"
    assert slugify_column("") == ""


def test_small_table_from_records(spark):
    df = small_table_from_records(
        spark,
        [("a", 1, "x"), ("b", 2, "y")],
        header=["Nome do Órgão", "Código", ""],
    )
    assert df.columns == ["nome_do_orgao", "codigo"]
    assert df.count() == 2


def test_drop_empty_header_columns(spark):
    df = spark.createDataFrame([(1, 2)], ["ok", " "])
    assert drop_empty_header_columns(df).columns == ["ok"]


def test_full_copy_projection_and_log(spark, sf_dir, tmp_path):
    src = read_table(spark, sf_dir, "nation")
    log = LoadInfo(spark, str(tmp_path / "log"))
    n = full_copy(
        src,
        str(tmp_path / "dest"),
        dest_columns=["N_NATIONKEY", "n_name", "not_there"],
        load_info=log,
        table_name="nation",
    )
    out = spark.read.parquet(str(tmp_path / "dest"))
    assert sorted(out.columns) == ["n_name", "n_nationkey"]  # case-insensitive intersect
    assert n == 25
    logged = log.read().collect()
    assert logged[0].no_tabela == "nation" and logged[0].qt_linhas == 25
    assert log.throughput().first().total_rows == 25


def test_select_intersection_case_insensitive(spark):
    df = spark.createDataFrame([(1, "a", True)], ["Id", "Name", "Active"])
    out = select_intersection(df, ["id", "name"])
    assert out.columns == ["Id", "Name"]


def test_jdbc_scan_options_partitioned():
    opts = jdbc_scan_options(
        url="jdbc:postgresql://h/db",
        table="public.t",
        key_column="id",
        key_start=0,
        estimated_max_id=100_000,
        key_interval=10_000,
    )
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "10"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "100000"
    with pytest.raises(ValueError):
        jdbc_scan_options(url="u")  # neither table nor query


def test_jdbc_scan_options_query_with_partitioning_wraps_as_dbtable():
    """Spark's JDBC source rejects query+partitionColumn together; the
    query must be wrapped as a dbtable subquery alias instead."""
    opts = jdbc_scan_options(
        url="jdbc:postgresql://h/db",
        query="SELECT id, v FROM t WHERE v > 0",
        key_column="id",
        key_start=0,
        estimated_max_id=1000,
        key_interval=100,
    )
    assert "query" not in opts
    assert opts["dbtable"] == "(SELECT id, v FROM t WHERE v > 0) spark_part_subq"
    assert opts["partitionColumn"] == "id"


def test_write_jdbc_options_truncate():
    opts = write_jdbc_options(url="jdbc:x", table="s.t", truncate=True, batchsize=5000)
    assert opts["truncate"] == "true" and opts["batchsize"] == "5000"


def test_types_mapping_roundtrip():
    assert isinstance(db_type_to_spark("varchar"), T.StringType)
    assert db_type_to_spark("decimal", 50, 10) == T.DecimalType(38, 8)  # overflow cap
    assert db_type_to_spark("decimal") == T.DecimalType(38, 13)  # default numeric
    assert spark_type_to_ddl(T.StringType(), "mssql", length=5000) == "VARCHAR(MAX)"
    assert spark_type_to_ddl(T.StringType(), "postgresql", length=5000) == "TEXT"
    assert spark_type_to_ddl(T.BooleanType(), "mssql") == "BIT"
    assert spark_type_to_ddl(T.TimestampType(), "mssql") == "DATETIME2"
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.BooleanType())]
    )
    assert create_table_column_types(schema, "postgresql") == "a BIGINT, b BOOLEAN"


def test_comments_copy_and_ddl(spark):
    src = spark.createDataFrame([(1, "a")], ["id", "name"])
    src = with_column_comments(src, {"id": "chave primária", "name": "nome do cliente"})
    dest = spark.createDataFrame([(2, "b", 0.5)], ["ID", "Name", "score"])
    out = copy_comments(src, dest)
    got = get_column_comments(out)
    assert got == {"ID": "chave primária", "Name": "nome do cliente"}
    ddl = comment_ddl(out.schema, "public.t", table_comment="tabela 'teste'")
    assert "COMMENT ON TABLE public.t IS 'tabela ''teste'''" in ddl
    assert any("COMMENT ON COLUMN public.t.ID" in s for s in ddl)


def test_apply_comments_roundtrip_duckdb(spark):
    """M1-M3 executed against a live in-process destination: comments
    land in the catalog and read back (reference round-trip semantics,
    table_comments.py:377-417)."""
    import duckdb

    from fastetl_spark.meta.comments import apply_df_comments

    con = duckdb.connect()
    con.execute("CREATE TABLE clientes (id BIGINT, name TEXT)")

    class DuckRunner:
        def run(self, sql):
            con.execute(sql)

        def get_first(self, sql):
            return con.execute(sql).fetchone()

    df = with_column_comments(
        spark.createDataFrame([(1, "x")], ["id", "name"]),
        {"id": "chave primária", "name": "nome d'o cliente"},
    )
    n = apply_df_comments(
        DuckRunner(), df, "clientes", table_comment="tabela de clientes", dialect="duckdb"
    )
    assert n == 3
    assert con.execute(
        "SELECT comment FROM duckdb_tables() WHERE table_name='clientes'"
    ).fetchone()[0] == "tabela de clientes"
    cols = dict(
        con.execute(
            "SELECT column_name, comment FROM duckdb_columns() WHERE table_name='clientes'"
        ).fetchall()
    )
    assert cols == {"id": "chave primária", "name": "nome d'o cliente"}


def test_apply_comments_mssql_add_vs_update():
    """The mssql path must probe fn_listextendedproperty per object and
    choose sp_add vs sp_update per existing value (reference
    table_comments.py:204-269)."""
    from fastetl_spark.meta.comments import apply_comments

    class ScriptedRunner:
        def __init__(self, existing: set[str]):
            self.existing = existing  # object names that already have comments
            self.ran: list[str] = []

        def get_first(self, sql):
            if "'column', '" in sql:
                name = sql.split("'column', '")[1].split("'")[0]
            else:
                name = "__table__"
            return ("old",) if name in self.existing else None

        def run(self, sql):
            self.ran.append(" ".join(sql.split()))

    r = ScriptedRunner(existing={"__table__", "b"})
    n = apply_comments(
        r, "t", {"a": "novo", "b": "atualiza"}, table_comment="tabela", dialect="mssql",
        schema="dbo",
    )
    assert n == 3
    assert "sp_updateextendedproperty" in r.ran[0]  # table comment existed
    assert "sp_addextendedproperty" in r.ran[1] and "@level2name='a'" in r.ran[1]
    assert "sp_updateextendedproperty" in r.ran[2] and "@level2name='b'" in r.ran[2]


def test_data_dictionary_markdown(spark):
    df = with_column_comments(
        spark.createDataFrame([(1, "x")], ["id", "name"]), {"id": "identificador"}
    )
    md = to_markdown({"clientes": df})
    assert "## clientes" in md
    assert "| id | bigint | identificador |" in md
    assert "| name | string |  |" in md


def test_dialect_quoting():
    from fastetl_spark.io.dialects import build_insert_sql, build_select_sql

    assert (
        build_select_sql("public", "t", ["a", "B"], "postgresql")
        == 'SELECT "a", "B" FROM public.t'
    )
    assert build_select_sql("db", "t", ["a"], "mysql") == "SELECT `a` FROM db.t"
    assert (
        build_insert_sql("s", "t", ["x", "y"], "mssql")
        == 'INSERT INTO s.t ("x", "y") VALUES (?, ?)'
    )


def test_watermark_store_roundtrip(spark, tmp_path):
    from fastetl_spark.operators.sync import WatermarkStore

    store = WatermarkStore(spark, str(tmp_path / "wm"))
    assert store.get("orders") is None  # missing state
    store.set("orders", "2024-01-15 00:00:00")
    assert store.get("orders") == "2024-01-15 00:00:00"
    store.set("orders", "2024-02-01 00:00:00")  # append-only; latest wins
    assert store.get("orders") == "2024-02-01 00:00:00"


def test_watermark_store_numeric_not_lexicographic(spark, tmp_path):
    """max('9','10')='9' lexicographically — latest-row + typed parse must
    return the int 10."""
    from fastetl_spark.operators.sync import WatermarkStore

    store = WatermarkStore(spark, str(tmp_path / "wm"))
    store.set("t", 9)
    store.set("t", 10)
    got = store.get("t")
    assert got == 10 and isinstance(got, int)


def test_watermark_store_typed_datetime(spark, tmp_path):
    import datetime as dt

    from fastetl_spark.operators.sync import WatermarkStore

    store = WatermarkStore(spark, str(tmp_path / "wm"))
    wm = dt.datetime(2024, 3, 1, 12, 30, 0)
    store.set("t", wm)
    got = store.get("t")
    assert got == wm and isinstance(got, dt.datetime)


def test_watermark_store_corruption_raises(spark, tmp_path):
    """Storage corruption must NOT read as 'no watermark' (which would
    silently trigger a full re-sync)."""
    import pytest

    from fastetl_spark.operators.sync import WatermarkStore

    bad = tmp_path / "wm"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    store = WatermarkStore(spark, str(bad))
    with pytest.raises(Exception):
        store.get("t")


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.io.writers import write_csv

    src = read_table(spark, sf_dir, "nation")
    write_csv(src, str(tmp_path / "csv"), sep=";", compression="gzip")
    back = (
        spark.read.option("header", "true")
        .option("sep", ";")
        .option("inferSchema", "true")
        .csv(str(tmp_path / "csv"))
    )
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)


def test_incremental_sync_guard_empty_dest(spark, sf_dir):
    import pytest as _pytest

    from fastetl_spark.io.readers import read_table
    from fastetl_spark.operators.sync import incremental_sync

    o = read_table(spark, sf_dir, "orders")
    empty = o.filter("1 = 0")
    with _pytest.raises(ValueError, match="empty"):
        incremental_sync(empty, o, ["o_orderkey"], "o_orderdate")


def test_atomic_overwrite_swaps(spark, sf_dir, tmp_path):
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.io.writers import atomic_overwrite

    dest = str(tmp_path / "dest")
    n1 = atomic_overwrite(read_table(spark, sf_dir, "nation"), dest)
    assert n1 == 25
    n2 = atomic_overwrite(read_table(spark, sf_dir, "region"), dest)
    assert n2 == 5
    assert spark.read.parquet(dest).count() == 5
    import os

    assert not os.path.exists(dest + ".__staging__")
    assert not os.path.exists(dest + ".__old__")


def test_copy_by_key_ranges_resumes(spark, sf_dir, tmp_path):
    import shutil

    from fastetl_spark.io.readers import read_table
    from fastetl_spark.operators.copy import copy_by_key_ranges

    orders = read_table(spark, sf_dir, "orders")
    dest = str(tmp_path / "ranges")
    first = copy_by_key_ranges(orders, dest, "o_orderkey", key_interval=500)
    assert all(v >= 0 for v in first.values())  # everything written
    total = sum(v for v in first.values())
    assert total == orders.count()
    # simulate a lost range, then resume: only that range is rewritten
    victim = sorted(first)[1]
    shutil.rmtree(victim)
    second = copy_by_key_ranges(orders, dest, "o_orderkey", key_interval=500)
    assert second[victim] >= 0  # rewritten
    assert sum(1 for v in second.values() if v == -1) == len(second) - 1  # rest skipped
    back = spark.read.option("recursiveFileLookup", "true").parquet(dest)
    assert back.count() == orders.count()


def test_watermark_store_reads_pre_upgrade_schema(spark, tmp_path):
    """State dirs written before seq/value_type existed must stay
    readable: old rows order by updated_at and parse as str."""
    from fastetl_spark.operators.sync import WatermarkStore

    path = str(tmp_path / "wm")
    import datetime as dt

    spark.createDataFrame(
        [
            ("t1", "2024-01-01", dt.datetime(2024, 1, 1)),
            ("t1", "2024-02-02", dt.datetime(2024, 2, 2)),
        ],
        "table_name string, watermark_value string, updated_at timestamp",
    ).write.mode("append").parquet(path)
    store = WatermarkStore(spark, path)
    assert store.get("t1") == "2024-02-02"
    # new-format rows written on top take over, typed
    store.set("t1", 42)
    assert store.get("t1") == 42


def test_reflection_ddl_roundtrip_postgresql():
    """Schema -> CREATE TABLE -> parse back: equal under the type
    mapping (reference create_table.py:296-340 reflection round trip)."""
    from fastetl_spark.io.reflection import create_table_ddl, parse_create_table_ddl

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("qty", T.IntegerType()),
            T.StructField("tiny", T.ShortType()),
            T.StructField("price", T.DecimalType(38, 13)),
            T.StructField("ratio", T.DoubleType()),
            T.StructField("active", T.BooleanType()),
            T.StructField("created", T.TimestampType()),
            T.StructField("birth", T.DateType()),
            T.StructField("name", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    ddl = create_table_ddl("t", schema, "postgresql", schema_name="public",
                           lengths={"name": 120})
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS public.t (")
    assert "id BIGINT NOT NULL" in ddl
    assert "price NUMERIC(38,13)" in ddl
    assert "name VARCHAR(120)" in ddl
    assert "payload BYTEA" in ddl
    back = parse_create_table_ddl(ddl)
    assert back == schema


def test_reflection_ddl_roundtrip_mssql_overrides():
    """The reference's mssql overrides survive the trip: BIT <-> Boolean,
    DATETIME2 <-> Timestamp, VARCHAR(MAX) for long strings
    (create_table.py:276-282; types_mapping.yml:2-20)."""
    from fastetl_spark.io.reflection import create_table_ddl, parse_create_table_ddl

    schema = T.StructType(
        [
            T.StructField("flag", T.BooleanType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("blob_text", T.StringType()),
            T.StructField("amount", T.DecimalType(38, 8)),
        ]
    )
    ddl = create_table_ddl("t", schema, "mssql", if_not_exists=False,
                           lengths={"blob_text": 9000})
    assert "flag BIT" in ddl
    assert "ts DATETIME2" in ddl
    assert "blob_text VARCHAR(MAX)" in ddl
    assert "amount DECIMAL(38,8)" in ddl


def test_reflection_ddl_mssql_guard_not_if_not_exists():
    """T-SQL has no CREATE TABLE IF NOT EXISTS — the conditional form
    must emit the OBJECT_ID guard instead (and stay parseable)."""
    from fastetl_spark.io.reflection import create_table_ddl, parse_create_table_ddl

    schema = T.StructType([T.StructField("id", T.LongType(), False)])
    ddl = create_table_ddl("t", schema, "mssql", schema_name="dbo")
    assert "IF NOT EXISTS" not in ddl
    assert ddl.startswith("IF OBJECT_ID(N'dbo.t', N'U') IS NULL")
    assert "CREATE TABLE dbo.t (" in ddl
    assert parse_create_table_ddl(ddl) == schema


def test_reflection_ddl_roundtrip_mysql():
    """mysql dialect: DATETIME for timestamps, DOUBLE, LONGBLOB, TEXT
    overflow, DECIMAL — and the full schema survives the parse-back
    round trip (reference strips identifier quoting for mysql,
    fast_etl.py:312-314; we emit unquoted identifiers everywhere)."""
    from fastetl_spark.io.reflection import create_table_ddl, parse_create_table_ddl

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("qty", T.IntegerType()),
            T.StructField("tiny", T.ShortType()),
            T.StructField("price", T.DecimalType(38, 13)),
            T.StructField("ratio", T.DoubleType()),
            T.StructField("speed", T.FloatType()),
            T.StructField("active", T.BooleanType()),
            T.StructField("created", T.TimestampType()),
            T.StructField("birth", T.DateType()),
            T.StructField("name", T.StringType()),
            T.StructField("essay", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    ddl = create_table_ddl(
        "t", schema, "mysql", lengths={"name": 120, "essay": 8000}
    )
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS t (")
    assert "created DATETIME" in ddl and "DATETIME2" not in ddl
    assert "ratio DOUBLE" in ddl
    assert "speed FLOAT" in ddl
    assert "price DECIMAL(38,13)" in ddl
    assert "name VARCHAR(120)" in ddl
    assert "essay TEXT" in ddl
    assert "payload LONGBLOB" in ddl
    assert "active BOOLEAN" in ddl
    back = parse_create_table_ddl(ddl)
    assert back == schema
    assert parse_create_table_ddl(ddl) == schema


def test_reflection_inspector_columns_and_numeric_default():
    """Inspector-style column dicts (the reference's get_columns shape)
    map through the same rules: NUMERIC with no precision ->
    NUMERIC(38,13), precision overflow -> (38,8), unknown -> string."""
    from fastetl_spark.io.reflection import create_table_ddl, reflect_columns_to_schema

    schema = reflect_columns_to_schema(
        [
            {"name": "id", "type": "bigint", "nullable": False},
            {"name": "v", "type": "numeric"},
            {"name": "big", "type": "decimal", "precision": 50, "scale": 10},
            {"name": "mystery", "type": "hstore"},
        ]
    )
    assert schema["id"].dataType == T.LongType() and not schema["id"].nullable
    assert schema["v"].dataType == T.DecimalType(38, 13)
    assert schema["big"].dataType == T.DecimalType(38, 8)
    assert schema["mystery"].dataType == T.StringType()
    ddl = create_table_ddl("dest", schema, "postgresql")
    assert "big NUMERIC(38,8)" in ddl


def test_source_to_dest_ddl_from_dataframe(spark):
    """Any readable source's DataFrame schema emits the dest DDL in one
    call — the Spark analog of reflect-source -> create_all."""
    from fastetl_spark.io.reflection import parse_create_table_ddl, source_to_dest_ddl

    df = spark.createDataFrame([(1, "a", 2.5)], "id long, name string, score double")
    ddl = source_to_dest_ddl(df, "scores", dialect="postgresql")
    back = parse_create_table_ddl(ddl)
    assert [f.name for f in back.fields] == ["id", "name", "score"]
    assert back["score"].dataType == T.DoubleType()


def test_change_feed_apply_explicit_ops(spark):
    """apply_change_feed consumes an explicit op-coded feed: U upserts
    (update or insert), D deletes by key, unchanged keys untouched."""
    from pyspark.sql import functions as F

    from fastetl_spark.operators.sync import apply_change_feed, make_change_feed

    dest = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    feed = spark.createDataFrame(
        [(2, "B", "U"), (4, "d", "U"), (3, None, "D")],
        "id long, v string, op string",
    )
    got = {r.id: r.v for r in apply_change_feed(dest, feed, ["id"]).collect()}
    assert got == {1: "a", 2: "B", 4: "d"}

    # feed generation: only changed state is emitted, with the right ops
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "id long, v string"
    )
    f = {(r.id, r.op): r.v for r in make_change_feed(dest, new, ["id"]).collect()}
    assert f == {(2, "U"): "B", (4, "U"): "d", (3, "D"): None}
    # and the round trip reproduces `new` exactly
    rt = {r.id: r.v for r in apply_change_feed(
        dest, make_change_feed(dest, new, ["id"]), ["id"]).collect()}
    assert rt == {r.id: r.v for r in new.collect()}
