"""Engine facade + operator-shaped wrappers: the migration surface a
reference user lands on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fastetl_spark.api import DbToCSVOperator, DbToDbOperator, Engine, PatchworkOperator
from fastetl_spark.io.readers import read_table
from fastetl_spark.plans.cleaners import DuplicatedRowCleaner, UFCleaner


def test_engine_full_copy_and_log(spark, sf_dir, tmp_path):
    engine = Engine(spark, load_log_path=str(tmp_path / "log"))
    n = engine.full_copy(
        {"path": f"{sf_dir}/nation.parquet"},
        {"path": str(tmp_path / "nation_copy")},
        table_name="nation",
    )
    assert n == 25
    assert engine.load_info.read().first().tp_carga == "full"


def test_db_to_db_operator_full(spark, sf_dir, tmp_path):
    op = DbToDbOperator(
        source={"path": f"{sf_dir}/region.parquet"},
        destination={"path": str(tmp_path / "region_copy")},
    )
    assert op.execute(spark) == 5
    assert spark.read.parquet(str(tmp_path / "region_copy")).count() == 5


def test_db_to_db_operator_incremental(spark, sf_dir, tmp_path):
    from fastetl_spark.io.bucketed import write_bucketed

    orders = read_table(spark, sf_dir, "orders")
    # seed destination with the old half: a sync destination is bucketed
    old = orders.filter(F.col("o_orderdate") <= F.lit("2000-01-01").cast("timestamp"))
    write_bucketed(old, str(tmp_path / "dest"), ["o_orderkey"], 4)
    src_path = str(tmp_path / "src")
    orders.write.parquet(src_path)
    op = DbToDbOperator(
        source={"path": src_path},
        destination={"path": str(tmp_path / "dest")},
        is_incremental=True,
        key_column="o_orderkey",
        date_column="o_orderdate",
    )
    n = op.execute(spark)
    assert n == orders.count()  # dest now holds everything exactly once
    dest = Engine(spark).read({"path": str(tmp_path / "dest")})
    assert dest.count() == orders.count()
    assert dest.select("o_orderkey").distinct().count() == orders.count()


def test_db_to_csv_operator(spark, sf_dir, tmp_path):
    op = DbToCSVOperator(
        source={"path": f"{sf_dir}/orders.parquet"},
        csv_path=str(tmp_path / "orders_csv"),
        columns_to_ignore=["o_totalprice"],
        chars_to_strip="-",
        sep=";",
    )
    n = op.execute(spark)
    back = spark.read.option("header", "true").option("sep", ";").csv(str(tmp_path / "orders_csv"))
    assert back.count() == n
    assert "o_totalprice" not in back.columns
    assert back.filter(F.col("o_orderpriority").contains("-")).count() == 0


def test_patchwork_operator(spark, sf_dir, tmp_path):
    dirty = spark.createDataFrame(
        [(1, "DF"), (1, "df "), (2, "XX"), (3, "rj")],
        "id long, uf string",
    )
    dirty.write.parquet(str(tmp_path / "dirty"))
    op = PatchworkOperator(
        source={"path": str(tmp_path / "dirty")},
        consolidated_path=str(tmp_path / "consolidated"),
        qa_path=str(tmp_path / "qa"),
        cleaners=[
            DuplicatedRowCleaner(["id"], order_by=["uf"], tabela="dirty"),
            UFCleaner(["id"], "uf", tabela="dirty"),
        ],
    )
    n_rows, n_qa = op.execute(spark)
    assert n_rows == 3
    assert n_qa >= 2  # one DROP_LINE + at least one CAST_NULL
    out = {r.id: r.uf for r in spark.read.parquet(str(tmp_path / "consolidated")).collect()}
    assert out[2] is None and out[3] == "RJ"


def test_patchwork_operator_without_cleaners_writes_an_empty_qa_log(spark, tmp_path):
    """With its default ``cleaners=[]`` the operator copies the source
    and lands an empty QA log with the QA schema."""
    from pyspark.sql.types import StructType

    from fastetl_spark.plans.qa import QA_SCHEMA

    spark.createDataFrame([(1, "SP"), (2, "RJ")], "id long, uf string").write.parquet(str(tmp_path / "src"))
    op = PatchworkOperator(
        source={"path": str(tmp_path / "src")},
        consolidated_path=str(tmp_path / "consolidated"),
        qa_path=str(tmp_path / "qa"),
    )
    assert op.execute(spark) == (2, 0)
    qa = spark.read.parquet(str(tmp_path / "qa"))
    assert qa.count() == 0
    assert [(f.name, f.dataType) for f in qa.schema] == [
        (f.name, f.dataType) for f in StructType.fromDDL(QA_SCHEMA)
    ]


def test_engine_sql_passthrough(spark, sf_dir):
    from fastetl_spark.io.readers import register_views

    register_views(spark, sf_dir)
    engine = Engine(spark)
    assert engine.sql("SELECT COUNT(*) AS n FROM region").first().n == 5


def test_engine_quality_surface(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from fastetl_spark.api import Engine
    from fastetl_spark.io.readers import read_table

    eng = Engine(spark)
    o = read_table(spark, sf_dir, "orders")

    valid, rejects = eng.validate_split(o, [("pos", F.col("o_totalprice") > 0)])
    assert valid.count() + rejects.count() == o.count()

    cs = eng.checksum(o, "o_orderkey", ["o_orderkey", "o_orderstatus"])
    assert cs.count() >= 1

    drift = eng.schema_drift(o, o.withColumn("extra", F.lit(1)))
    assert [c.kind for c in drift] == ["added"]

    frag = str(tmp_path / "frag")
    o.limit(50).repartition(8).write.parquet(frag)
    assert eng.compact(frag, target_rows_per_file=10**9) == 1


def test_snapshot_diff_all_statuses(spark):
    """added / removed / changed / unchanged, with null-safe compares:
    a null->value change and a value->null change both count as
    'changed'; identical nulls are 'unchanged'."""
    from fastetl_spark.operators.sync import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, None, 30.0), (4, "d", 40.0)],
        "id long, v string, x double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (5, "e", 50.0)],
        "id long, v string, x double",
    )
    got = {r.id: r.status for r in snapshot_diff(old, new, ["id"], ["v", "x"]).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",    # x: null -> 20.0
        3: "unchanged",  # v: null == null (null-safe)
        4: "removed",
        5: "added",
    }


def test_engine_dedup_index_facade(spark, sf_dir, tmp_path):
    from fastetl_spark.api import Engine

    eng = Engine(spark)
    d = read_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    inc = d.filter(F.col("doc_id") % 7 == 0)
    idx = str(tmp_path / "idx")
    eng.build_dedup_index(corpus, idx, n_buckets=8)
    matches = eng.match_new_documents(idx, inc)
    assert matches.count() > 0
    eng.index_new_documents(idx, inc)
    # after indexing, the same batch matches itself (jaccard 1.0 pairs)
    again = eng.match_new_documents(idx, inc)
    ids = {r.doc_id for r in inc.select("doc_id").collect()}
    self_pairs = {
        (r.new_doc, r.corpus_doc)
        for r in again.filter(F.col("new_doc") == F.col("corpus_doc")).collect()
    }
    assert self_pairs == {(i, i) for i in ids}


def test_sync_many_reports_per_table_and_isolates_failures(spark, tmp_path):
    from fastetl_spark.api import Engine

    import pytest

    rows = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, v string, ts long"
    )
    src_a, src_b = str(tmp_path / "sa"), str(tmp_path / "sb")
    rows.write.parquet(src_a)
    rows.write.parquet(src_b)
    dest_a = str(tmp_path / "da")

    eng = Engine(spark)
    tables = [
        {"name": "t_a", "source": {"path": src_a}, "dest": {"path": dest_a},
         "keys": ["id"], "watermark_col": "ts"},
        # missing source path -> this table errors, the run continues
        {"name": "t_bad", "source": {"path": str(tmp_path / "nope")},
         "dest": {"path": str(tmp_path / "db")}, "keys": ["id"],
         "watermark_col": "ts"},
    ]
    rep = {r.table: (r.status, r.rows_merged) for r in eng.sync_many(tables).collect()}
    assert rep["t_a"] == ("ok", 2)
    assert rep["t_bad"][0] == "error"
    assert eng.read({"path": dest_a}).count() == 2

    with pytest.raises(Exception):
        eng.sync_many(tables[1:], fail_fast=True)


def test_engine_read_at_and_pagerank(spark, tmp_path):
    from fastetl_spark.api import Engine
    from fastetl_spark.io.bucketed import partial_merge, write_bucketed
    from fastetl_spark.operators.graph import pagerank
    import pyspark.sql.functions as F

    eng = Engine(spark)
    dest = str(tmp_path / "d")
    base = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    write_bucketed(base, dest, ["k"], 4)
    partial_merge(spark, dest, base.withColumn("v", F.col("v") + 1))
    assert eng.generations(dest) == [1, 2]
    # read_at(1) = the original values, latest = incremented
    at1 = {r.k: r.v for r in eng.read_at(dest, 1).collect()}
    assert at1 == {i: i * 10 for i in range(20)}

    nodes = spark.createDataFrame([(i,) for i in range(6)], "node long")
    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    pr_e = {r.node: r.pr for r in pagerank(nodes, edges).collect()}
    pr_f = {r.node: r.pr for r in pagerank(nodes, edges, exact=False).collect()}
    assert abs(sum(pr_e.values()) - 1.0) < 1e-9  # ring conserves mass
    assert max(abs(pr_e[n] - pr_f[n]) for n in pr_e) < 1e-12


def test_engine_vacuum_removes_stranded_staging(spark, tmp_path):
    import os

    from fastetl_spark.api import Engine

    eng = Engine(spark)
    dest = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "a long").write.parquet(dest)
    stranded = dest + ".__staging__"
    os.makedirs(stranded, exist_ok=True)
    open(os.path.join(stranded, "part-junk"), "w").write("x")
    report = eng.vacuum(dest)
    assert not os.path.exists(stranded)
    assert any(s.endswith(".__staging__") for s in report["dirs_removed"])


def test_engine_storage_report_flags_fragmentation(spark, tmp_path):
    from fastetl_spark.api import Engine

    eng = Engine(spark)
    frag = str(tmp_path / "frag")
    # 16 tiny files via repartition(16)
    spark.range(160).repartition(16).write.parquet(frag)
    rep = eng.storage_report(frag)
    assert rep["n_files"] >= 16
    assert rep["small_files"] == rep["n_files"]
    assert rep["compaction_advised"] is True
    assert rep["total_bytes"] > 0 and rep["avg_bytes"] > 0

    # after compaction the report goes quiet
    eng.compact(frag)
    rep2 = eng.storage_report(frag)
    assert rep2["n_files"] < rep["n_files"]
    assert rep2["compaction_advised"] is False


def test_engine_round5_wrappers(spark):
    from pyspark.sql import functions as F

    from fastetl_spark.operators.bloomjoin import bloom_prefilter
    from fastetl_spark.operators.dedup import connected_components
    from fastetl_spark.operators.ivm import distinct_view_delta, join_view_delta
    from fastetl_spark.operators.spatial import grid_neighbor_pairs

    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 10, 0), (3, 3000, 3000)], "user_id long, x long, y long"
    )
    pairs = {(r.u, r.v) for r in grid_neighbor_pairs(pts, r=64).collect()}
    assert pairs == {(1, 2)}

    probe = spark.createDataFrame([(i,) for i in range(50)], "k long")
    build = spark.createDataFrame([(7,), (9,)], "k long")
    tagged = bloom_prefilter(probe, "k", build, "k")
    passing = {r.k for r in tagged.filter(F.col("bloom_pass")).collect()}
    assert {7, 9} <= passing

    a0 = spark.createDataFrame([(1, 10)], "aid long, k long")
    da = spark.createDataFrame([(2, 10)], "aid long, k long")
    b0 = spark.createDataFrame([(5, 10)], "bid long, k long")
    db = spark.createDataFrame([(6, 10)], "bid long, k long")
    delta = join_view_delta(a0, da, b0, db, ["k"]).collect()
    assert {(r.aid, r.bid, r.delta_src) for r in delta} == {
        (2, 5, "new_a"), (1, 6, "new_b"), (2, 6, "both_new"),
    }

    view = spark.createDataFrame([(1,)], "v long")
    inc = spark.createDataFrame([(1,), (2,), (2,)], "v long")
    assert [r.v for r in distinct_view_delta(view, inc).collect()] == [2]

    er_pairs = spark.createDataFrame([("b", "a")], "x string, y string")
    er_nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "n string")
    got = {
        r.n: r.component
        for r in connected_components(
            er_pairs, nodes=er_nodes, a_col="x", b_col="y", id_col="n"
        ).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_engine_training_data_wrappers(spark, sf_dir):
    """kmeans / dup_spans / pack_sequences smoke: the oracle-gated cores
    keep their schemas."""
    from fastetl_spark.operators.curation import maximal_dup_spans
    from fastetl_spark.operators.kmeans import lloyd_kmeans_exact
    from fastetl_spark.operators.packing import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    vecs = read_table(spark, sf_dir, "embeddings")

    cents = lloyd_kmeans_exact(vecs, "vec_id", "embedding", k=4, iterations=1)
    assert cents.columns == ["cell", "dim", "c_val", "n_points"]
    assert cents.count() == 4 * 64

    spans = maximal_dup_spans(docs, k=8)
    assert spans.columns == ["doc_id", "start_tok", "end_tok", "span_len", "n_windows"]
    assert spans.filter(F.col("span_len") < 8).count() == 0

    packed = pack_sequences(docs, capacity=64)
    assert packed.columns == [
        "doc_id", "seq_id", "start_in_seq", "doc_tok_start", "frag_len"
    ]
    # full sequences everywhere except possibly the last
    agg = packed.groupBy("seq_id").agg(F.sum("frag_len").alias("fill"))
    last = agg.agg(F.max("seq_id")).first()[0]
    assert agg.filter((F.col("fill") != 64) & (F.col("seq_id") != last)).count() == 0


def test_engine_round6_facades(spark, sf_dir):
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.operators.dedup import containment_pairs
    from fastetl_spark.operators.graph import neighbor_jaccard_pairs
    from fastetl_spark.operators.heavy_hitters import misra_gries_topk
    from fastetl_spark.operators.retrieval import bm25_topk, stupid_backoff_scores
    from fastetl_spark.operators.vector_sketch import (
        simhash_neardup_pairs,
        simhash_signatures,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)

    top = bm25_topk(docs, terms=("spark", "join"), k=5).collect()
    assert 0 < len(top) <= 5
    assert [r["rank"] for r in top] == list(range(1, len(top) + 1))

    lm = stupid_backoff_scores(docs)
    row = lm.limit(1).collect()[0]
    assert row["n_trigrams"] == row["n_hit3"] + row["n_hit2"] + row["n_floor"]
    assert 0.0 <= row["avg_score"] <= 1.0

    events = read_table(spark, sf_dir, "events")
    hh = misra_gries_topk(
        events.select(F.col("event_type").cast("string").alias("token")), 64, topk=5
    ).collect()
    assert hh and hh[0]["err_bound"] == 0  # k >> distinct event types

    vecs = read_table(spark, sf_dir, "embeddings").limit(100)
    sigs = simhash_signatures(vecs)
    assert set(sigs.columns) == {"vec_id", "simhash"}
    assert sigs.count() == 100
    pairs = simhash_neardup_pairs(vecs, max_hamming=32)
    assert {"vec_a", "vec_b", "hamming"} <= set(pairs.columns)

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3)], ["u", "v"]
    )
    sim = neighbor_jaccard_pairs(edges, topk=10).collect()
    assert sim and all(0.0 < r["jaccard"] <= 1.0 for r in sim)

    cont = containment_pairs(docs)
    assert {"src", "dst", "containment"} <= set(cont.columns)


def test_engine_surface_is_the_etl_job():
    """The facade keeps the ETL job's methods only; every other operator
    is imported from its module. A new public method is a decision to
    make here, not a side effect."""
    public = {name for name in vars(Engine) if not name.startswith("_")}
    assert public == {
        "read", "write", "sql", "full_copy", "sync", "sync_many",
        "clean", "validate_split", "expectations", "checksum", "schema_drift",
        "compact", "storage_report", "bucketize", "generations", "read_at",
        "vacuum", "ingest_new_files",
        "build_dedup_index", "match_new_documents", "index_new_documents",
    }


def _derby_column(spark, url: str, table: str, column: str) -> tuple[str, int]:
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.getMetaData().getColumns(None, None, table, column)
        assert rs.next(), (table, column)
        return rs.getString("TYPE_NAME"), rs.getInt("COLUMN_SIZE")
    finally:
        conn.close()


def test_full_copy_into_jdbc_truncates_then_appends(spark, sf_dir, tmp_path):
    """A JDBC destination (embedded Derby, shipped with pyspark): a
    truncating full_copy run twice keeps the table's definition and holds
    one copy of the source; ``truncate=False`` appends. The load log
    names the table."""
    from fastetl_spark.io.readers import read_jdbc

    url = f"jdbc:derby:{tmp_path / 'db'};create=true"
    engine = Engine(spark, load_log_path=str(tmp_path / "log"))
    src = {"path": f"{sf_dir}/nation.parquet"}
    dest = {"jdbc": {"url": url, "table": "NATION"}}
    first = {"jdbc": {**dest["jdbc"], "create_table_column_types": "n_name VARCHAR(77)"}}
    assert engine.full_copy(src, first) == 25
    assert engine.full_copy(src, dest) == 25
    assert read_jdbc(spark, url=url, table="NATION").count() == 25
    # truncate-and-load: the table made by the first run survives (a
    # drop-and-create would have turned n_name into Derby's CLOB)
    assert _derby_column(spark, url, "NATION", "n_name") == ("VARCHAR", 77)
    assert engine.full_copy(src, dest, truncate=False) == 25
    assert read_jdbc(spark, url=url, table="NATION").count() == 50
    log = [(r.no_tabela, r.tp_carga, r.qt_linhas) for r in engine.load_info.read().collect()]
    assert sorted(log) == [("NATION", "append", 25), ("NATION", "full", 25), ("NATION", "full", 25)]


def test_db_to_db_operator_full_into_jdbc(spark, sf_dir, tmp_path):
    from fastetl_spark.io.readers import read_jdbc

    url = f"jdbc:derby:{tmp_path / 'db'};create=true"
    op = DbToDbOperator(
        source={"path": f"{sf_dir}/region.parquet"},
        destination={"jdbc": {"url": url, "table": "REGION"}},
    )
    assert op.execute(spark) == 5
    assert op.execute(spark) == 5
    back = read_jdbc(spark, url=url, table="REGION")
    assert back.count() == 5
    assert back.select("r_regionkey").distinct().count() == 5


def _jobs_of(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_db_to_csv_operator_counts_on_its_write(spark, sf_dir, tmp_path):
    """The returned row count rides on the CSV write: the operator runs
    the jobs of the write alone, not a second run of the source for
    ``count()``, and the count equals the rows in the extract."""
    from fastetl_spark.io.writers import write_csv

    src = {"path": f"{sf_dir}/orders.parquet"}
    op = DbToCSVOperator(source=src, csv_path=str(tmp_path / "op"))
    n = None

    def run():
        nonlocal n
        n = op.execute(spark)

    def read_and_write():
        write_csv(Engine(spark).read(src), str(tmp_path / "ref"))

    op_jobs = _jobs_of(spark, "csv-op", run)
    write_jobs = _jobs_of(spark, "csv-write", read_and_write)
    df = Engine(spark).read(src)
    assert _jobs_of(spark, "csv-count", df.count) >= 1
    assert op_jobs == write_jobs
    back = spark.read.option("header", "true").csv(str(tmp_path / "op"))
    assert n == back.count() == df.count()
