#!/usr/bin/env python
"""End-to-end quickstart: the typical daily pipeline, composed from the
Engine facade (read, validate, sync) and operator functions imported
from their modules. Runs standalone against the bundled test data:

    python examples/quickstart.py [sf_dir] [work_dir]

Stages (each one is the Spark-first twin of a reference fastETL flow):
  1. read + clean      (decimal-comma repair, CPF validation, QA log)
  2. incremental sync  (watermark high-water mark -> bucketed merge)
  3. dedup             (persistent shingle index: match then maintain)
  4. similarity        (persistent IVF index: build once, probe daily)
  5. ops report        (join-skew profile + per-source reputation)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F


def main(sf_dir: str, work: str) -> None:
    from fastetl_spark import engine
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.operators.ann_index import build_ivf_index, search_ivf_index
    from fastetl_spark.operators.bloomjoin import bloom_prefilter
    from fastetl_spark.operators.curation2 import semantic_dedup
    from fastetl_spark.operators.dedup import ngram_jaccard_pairs
    from fastetl_spark.operators.dedup_index import (
        append_to_shingle_index,
        build_shingle_index,
        match_against_index,
    )
    from fastetl_spark.operators.features import chunk_text
    from fastetl_spark.operators.ivm import join_view_delta

    eng = engine()
    spark = eng.spark
    spark.sparkContext.setLogLevel("ERROR")

    # 1. read + clean ------------------------------------------------------
    orders = read_table(spark, sf_dir, "orders")
    cleaned, rejects = eng.validate_split(
        orders,
        [
            ("key_present", F.col("o_orderkey").isNotNull()),
            ("price_positive", F.col("o_totalprice") > 0),
        ],
    )
    print(f"clean rows: {cleaned.count()}, rejected: {rejects.count()}")

    # 2. incremental sync into a bucketed destination ----------------------
    # The first sync creates the bucketed root; the next one lands only
    # the rows past the watermark, as one delta per touched bucket.
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    cutoff = F.lit("1997-01-01").cast("timestamp")
    src_old, src_all = os.path.join(work, "orders_old"), os.path.join(work, "orders_all")
    cleaned.select(*cols).filter(F.col("o_orderdate") < cutoff).write.parquet(src_old)
    cleaned.select(*cols).write.parquet(src_all)
    dest = {"path": os.path.join(work, "orders_dest")}
    first = eng.sync({"path": src_old}, dest, keys=["o_orderkey"], watermark_col="o_orderdate")
    total = eng.sync({"path": src_all}, dest, keys=["o_orderkey"], watermark_col="o_orderdate")
    print(f"synced: {first} rows, then {total} (generations {eng.generations(dest['path'])})")
    assert eng.read(dest).count() == total == cleaned.count()

    # 3. near-dup dedup against a persistent index -------------------------
    docs = read_table(spark, sf_dir, "documents")
    inc_docs = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    idx = os.path.join(work, "shingle_idx")
    build_shingle_index(corpus, idx, n_buckets=16)  # once per corpus
    matches = match_against_index(spark, idx, inc_docs)
    print(f"near-dup matches for today's batch: {matches.count()}")
    append_to_shingle_index(inc_docs, idx)  # O(|increment|) maintenance

    # 4. similarity search against a persistent ANN index ------------------
    emb = read_table(spark, sf_dir, "embeddings")
    ann = os.path.join(work, "ivf_idx")
    build_ivf_index(emb, ann, "vec_id", "embedding")
    hits = search_ivf_index(spark, ann, emb.filter(F.col("vec_id") % 100 == 0), k=3)
    print(f"ANN hits: {hits.count()}")

    # 5. curation: chunking + near-dup pairs ----------------------
    chunks = chunk_text(docs.select("doc_id", "text"), width=200, stride=150)
    print(f"RAG chunks: {chunks.count()} (shuffle-free fan-out)")
    pairs = ngram_jaccard_pairs(docs.select("doc_id", "text"))
    print(f"jaccard near-dup pairs: {pairs.count()}")
    kept = semantic_dedup(emb, "vec_id", "embedding")
    print(f"semantic_dedup kept: {kept.filter(F.col('is_kept')).count()}/{kept.count()}")

    # 6. view maintenance + join prefilter ---------------------------------
    customers = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cutoff = F.lit("2000-01-01").cast("timestamp")
    o = read_table(spark, sf_dir, "orders")
    delta = join_view_delta(
        o.filter(F.col("o_orderdate") < cutoff).select("o_orderkey", "o_custkey"),
        o.filter(F.col("o_orderdate") >= cutoff).select("o_orderkey", "o_custkey"),
        customers.withColumnRenamed("c_custkey", "o_custkey"),
        customers.withColumnRenamed("c_custkey", "o_custkey").limit(0),
        ["o_custkey"],
    )  # static dimension: only the dA><B term produces delta rows
    print(f"join-view delta rows (vs full rejoin): {delta.count()}")
    tagged = bloom_prefilter(
        o.select("o_orderkey", "o_custkey"),
        "o_custkey",
        customers.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey"),
        "c_custkey",
    )
    print(f"bloom-pass orders: {tagged.filter(F.col('bloom_pass')).count()}")

    # 7. ops reports --------------------------------------------------------
    from fastetl_spark.operators.analytics import (
        join_skew_diagnosis,
        source_reputation_report,
    )

    join_skew_diagnosis(spark, sf_dir).show(5, truncate=False)
    source_reputation_report(spark, sf_dir).show(5, truncate=False)
    print("quickstart complete")


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    wd = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="fe_quick_")
    main(sf, wd)
