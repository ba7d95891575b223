"""Persistent IVF index: the similarity-side twin of the persistent
dedup indexes (operators/dedup_index).

`similarity_ivf` trains + assigns + searches in one job — right for a
one-shot query, wasteful when the corpus is long-lived and queries
arrive daily. This module materializes the IVF structure once:

- **build**: train the deterministic coarse quantizer (id-ordered
  prefix sample, numpy Lloyd on the driver — similarity.py's
  construction), assign every corpus vector to its nearest cell with
  ONE Arrow-batched matmul pass, and write the corpus partitioned by
  ``cell=K`` Hive dirs. Centroids + params land in ``_ivf_meta.json``,
  committed LAST, so a half-built index is never mistaken for a
  complete one (same contract as the bucketed layout's spec file).
- **search**: probe each query's ``nprobe`` nearest cells, scan ONLY
  those cell partitions (partition pruning on the cell dir — at 100 TB
  a query touches nprobe/n_cells of the corpus), exact-cosine rerank,
  window top-k. Identical candidate set and ranking to
  similarity.ivf_topk with the same corpus/params (equality-tested).
- **append**: assign new vectors with the STORED centroids (the cell
  structure is frozen at build time — standard IVF maintenance; re-run
  build when drift matters) and append into the touched cell dirs,
  auto-compacting any cell whose file count creeps past a threshold —
  O(|increment|) per day.

The cell dirs are the Hive layout of io/bucketed with ``cell`` as the
partition column, so one append, compaction and probe read serves all
five append-only index roots: the shingle and minhash indexes, the IVF
cells, and the IVF-PQ ``codes/`` and ``vectors/``. Appends go through
``dedup_index._append_index_rows`` (replay marker, append, compaction
of crept partitions, marker), and a probe reads the probed cells with
``io.bucketed._read_hive``: the schema from one footer, the cells that
exist as literal dirs. The probed cells are observed on the query
frame's one materialisation, not collected by a job of their own.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from fastetl_spark.checkpointing import materialize, observed
from fastetl_spark.io.bucketed import (
    BUCKET_COL,
    DEFAULT_MAX_FILES_PER_BUCKET,
    _read_hive,
    _write_hive_bucketed,
    bucket_id,
    read_buckets_for_keys,
)
from fastetl_spark.io.fsutil import read_text_file, write_text_file
from fastetl_spark.operators.dedup_index import (
    _append_index_rows,
    _scratch_index_path,
    increment_fingerprint,
)
from fastetl_spark.operators.similarity import (
    IVF_K,
    IVF_NPROBE,
    TOP_K,
    _probe_cells_udf,
    as_double,
    dot,
    ivf_train_centroids,
    l2_norm,
)

META_FILE = "_ivf_meta.json"


def _meta_path(path: str) -> str:
    return f"{path.rstrip('/')}/{META_FILE}"


def read_ivf_meta(spark: SparkSession, path: str) -> dict | None:
    """The index's metadata (centroids, params), or None when `path` is
    not a complete IVF index (meta is committed last by build)."""
    text = read_text_file(spark, _meta_path(path))
    return None if text is None else json.loads(text)


def _assign_cells(df: DataFrame, centroids, id_col: str, vec_col: str) -> DataFrame:
    """(vid, vec, norm, cell) rows, ``cell`` the nearest stored centroid."""
    assign1 = _probe_cells_udf(centroids, 1)
    out = df.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("vec")
    ).withColumn("norm", l2_norm(F.col("vec")))
    return out.withColumn("cell", F.element_at(assign1("vec"), 1))


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str,
    n_cells: int = IVF_K,
    centroids: list[list[float]] | None = None,
) -> None:
    """One corpus pass: train quantizer, assign cells, write the corpus
    partitioned by cell, commit meta last. Pass `centroids` to skip
    training and freeze a precomputed quantizer into the index (e.g.
    fixed centroids for reproducibility tests, or a quantizer trained
    on a larger sample elsewhere)."""
    spark = corpus.sparkSession
    if centroids is None:
        centroids = ivf_train_centroids(corpus, vec_col, k=n_cells, id_col=id_col)
    else:
        n_cells = len(centroids)
    assigned = _assign_cells(corpus, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(index_path)
    write_text_file(
        spark,
        _meta_path(index_path),
        json.dumps(
            {
                "version": 1,
                "n_cells": int(n_cells),
                "id_col": id_col,
                "vec_col": vec_col,
                "centroids": centroids,
            }
        ),
    )


def append_to_ivf_index(
    new_vecs: DataFrame,
    index_path: str,
    compact_threshold: int | None = DEFAULT_MAX_FILES_PER_BUCKET,
) -> None:
    """O(|increment|) maintenance: assign with the STORED centroids and
    append into the touched cell dirs; touched cells past
    ``compact_threshold`` data files are rewritten with one coalesce +
    atomic swap (None disables)."""
    meta = read_ivf_meta(new_vecs.sparkSession, index_path)
    if meta is None:
        raise ValueError(f"{index_path} is not a complete IVF index (no {META_FILE})")
    assigned = _assign_cells(new_vecs, meta["centroids"], meta["id_col"], meta["vec_col"])
    _append_index_rows(
        assigned, index_path, "cell", increment_fingerprint(new_vecs), compact_threshold
    )


def _probed(obs: Observation) -> list[int]:
    """The probed cells observed as ``c`` on a query frame's
    materialisation (bounded by n_cells: a handful of ints, not data)."""
    return sorted(observed(obs, {"c": []})["c"])


def search_ivf_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Probe-only search: nprobe nearest cells per query, scan ONLY
    those cell partitions, exact-cosine rerank, top-k per query. A
    probed cell that received no vectors has no dir and contributes no
    candidates. Returns (query_id, neighbor_id, rank) — the same frame
    ivf_topk produces."""
    meta = read_ivf_meta(spark, index_path)
    if meta is None:
        raise ValueError(f"{index_path} is not a complete IVF index (no {META_FILE})")
    probe_n = _probe_cells_udf(meta["centroids"], nprobe)
    obs = Observation()
    q = (
        queries.select(
            F.col(meta["id_col"]).alias("query_id"),
            as_double(F.col(meta["vec_col"])).alias("qv"),
        )
        .withColumn("qn", l2_norm(F.col("qv")))
        .withColumn("probe", F.explode(probe_n("qv")))
        .observe(obs, F.collect_set("probe").alias("c"))
        .transform(materialize)
    )
    cells = _read_hive(spark, index_path, _probed(obs), "cell")
    scored = cells.join(
        broadcast(q),
        (F.col("cell") == F.col("probe")) & (F.col("vid") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        (dot(F.col("qv"), F.col("vec")) / (F.col("qn") * F.col("norm"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def match_semantic_index(
    spark: SparkSession,
    index_path: str,
    increment: DataFrame,
    threshold: float = 0.35,
) -> DataFrame:
    """Persistent-index SemDeDup matching: assign the increment to its
    nearest stored cell, scan ONLY those cell partitions, and flag each
    increment vector whose best same-cell cosine clears `threshold`.
    Candidates are corpus vectors (same id excluded — a crash-retry
    re-match after the append must not self-match) plus smaller-id
    batch-mates in the same cell (twins arriving in ONE batch still
    dedup against each other, and the is_new set is stable across a
    re-run after append, keeping append_to_ivf_index's replay guard
    effective). Returns (vec_id, cell, dup_of, is_new) with dup_of the
    smallest matching id — the persisted, O(|increment|) form of
    curation2.semantic_dedup_increment (which rebuilds cells per run).
    Daily loop: match → keep is_new → append_to_ivf_index(new rows)."""
    meta = read_ivf_meta(spark, index_path)
    if meta is None:
        raise ValueError(f"{index_path} is not a complete IVF index (no {META_FILE})")
    obs = Observation()
    assigned = (
        _assign_cells(increment, meta["centroids"], meta["id_col"], meta["vec_col"])
        .observe(obs, F.collect_set("cell").alias("c"))
        .transform(materialize)
    )
    inc = assigned.select(
        F.col("vid").alias("vec_id"), "cell", "vec", "norm"
    )
    corpus_side = _read_hive(spark, index_path, _probed(obs), "cell")
    sim = dot(F.col("c.vec"), F.col("i.vec")) / (F.col("c.norm") * F.col("i.norm"))

    def scored(cand_side: DataFrame, id_cond) -> DataFrame:
        return (
            cand_side.alias("c")
            .join(
                broadcast(inc.alias("i")),
                (F.col("c.cell") == F.col("i.cell")) & id_cond,
            )
            .select(
                F.col("i.vec_id").alias("vec_id"),
                F.col("c.vid").alias("other"),
                sim.alias("sim"),
            )
        )

    corp_cand = scored(
        corpus_side.select("vid", "vec", "norm", "cell"),
        F.col("c.vid") != F.col("i.vec_id"),
    )
    batch_cand = scored(
        inc.select(F.col("vec_id").alias("vid"), "vec", "norm", "cell"),
        F.col("c.vid") < F.col("i.vec_id"),
    )
    dups = (
        corp_cand.unionByName(batch_cand)
        .filter(F.col("sim") >= threshold)
        .groupBy("vec_id")
        .agg(F.min("other").alias("dup_of"))
    )
    return inc.select("vec_id", "cell").join(dups, "vec_id", "left").select(
        "vec_id", "cell", "dup_of", F.col("dup_of").isNull().alias("is_new")
    )


# --- IVF-PQ persistence ---------------------------------------------------

PQ_META_FILE = "_ivfpq_meta.json"


def read_ivfpq_meta(spark: SparkSession, path: str) -> dict | None:
    text = read_text_file(spark, f"{path.rstrip('/')}/{PQ_META_FILE}")
    return None if text is None else json.loads(text)


def build_ivfpq_index(
    corpus: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str,
    n_cells: int | None = None,
    m: int | None = None,
    ksub: int | None = None,
    vec_buckets: int = 16,
) -> None:
    """The memory-scale ANN layout persisted: ``codes/`` holds
    (vid, cell, m PQ codes) partitioned by cell — ~m bytes per vector,
    the part that must stay hot — and ``vectors/`` holds the raw
    vectors in a vid-bucketed layout touched only by the final
    point-lookup rerank (the same bucket-pruned fetch the dedup
    indexes use for candidate texts). Quantizer + codebooks + params
    land in meta, committed LAST (completeness marker)."""
    from fastetl_spark.operators.similarity import (
        PQ_KSUB,
        PQ_M,
        _pq_encode_udf,
        pq_train_codebooks,
    )

    n_cells, m, ksub = n_cells or IVF_K, m or PQ_M, ksub or PQ_KSUB
    spark = corpus.sparkSession
    base = index_path.rstrip("/")
    centroids = ivf_train_centroids(corpus, vec_col, k=n_cells, id_col=id_col)
    books = pq_train_codebooks(corpus, vec_col, id_col, m=m, ksub=ksub)
    raw = (
        corpus.select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("vec")
        )
        .withColumn("norm", l2_norm(F.col("vec")))
        .transform(materialize)
    )
    assign1 = _probe_cells_udf(centroids, 1)
    encode = _pq_encode_udf(books)
    codes = (
        raw.select("vid", "vec")
        .withColumn("cell", F.element_at(assign1("vec"), 1))
        .withColumn("codes", encode("vec"))
        .drop("vec")
    )
    codes.write.mode("overwrite").partitionBy("cell").parquet(f"{base}/codes")
    _write_hive_bucketed(raw, f"{base}/vectors", ["vid"], vec_buckets)
    write_text_file(
        spark,
        f"{base}/{PQ_META_FILE}",
        json.dumps(
            {
                "version": 1,
                "n_cells": int(n_cells),
                "m": int(m),
                "ksub": int(ksub),
                "id_col": id_col,
                "vec_col": vec_col,
                "vec_buckets": int(vec_buckets),
                "centroids": centroids,
                "codebooks": books,
            }
        ),
    )


def append_to_ivfpq_index(
    new_vecs: DataFrame,
    index_path: str,
    compact_threshold: int | None = DEFAULT_MAX_FILES_PER_BUCKET,
) -> None:
    """O(|increment|) maintenance for both halves: encode with the
    STORED models, append codes into touched cell dirs and raw vectors
    into their vid-buckets (both auto-compacting crept file counts).

    One replay marker per HALF: a retry after the codes committed but
    the vectors crashed appends only the vectors, and a half whose
    marker exists runs no job (the encode included)."""
    from fastetl_spark.operators.similarity import _pq_encode_udf

    meta = read_ivfpq_meta(new_vecs.sparkSession, index_path)
    if meta is None:
        raise ValueError(
            f"{index_path} is not a complete IVF-PQ index (no {PQ_META_FILE})"
        )
    base = index_path.rstrip("/")
    fp = increment_fingerprint(new_vecs)
    raw = new_vecs.select(
        F.col(meta["id_col"]).alias("vid"),
        as_double(F.col(meta["vec_col"])).alias("vec"),
    ).withColumn("norm", l2_norm(F.col("vec")))
    assign1 = _probe_cells_udf(meta["centroids"], 1)
    encode = _pq_encode_udf(meta["codebooks"])
    codes = (
        raw.select("vid", "vec")
        .withColumn("cell", F.element_at(assign1("vec"), 1))
        .withColumn("codes", encode("vec"))
        .drop("vec")
    )
    _append_index_rows(codes, f"{base}/codes", "cell", fp, compact_threshold)
    vecs = raw.withColumn(BUCKET_COL, bucket_id(["vid"], meta["vec_buckets"]))
    _append_index_rows(vecs, f"{base}/vectors", BUCKET_COL, fp, compact_threshold)


def search_ivfpq_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
    refine: int | None = None,
) -> DataFrame:
    """ADC search against the persisted layout: probed cells' CODE
    partitions only -> asymmetric PQ scoring -> top-`refine` shortlist
    -> bucket-pruned point-lookup of the raw vectors -> exact rerank.
    Returns the same (query_id, neighbor_id, rank) frame ivfpq_topk
    builds in one job (equality-tested)."""
    from fastetl_spark.operators.similarity import PQ_REFINE, _pq_approx_sim_udf

    refine = refine or PQ_REFINE
    meta = read_ivfpq_meta(spark, index_path)
    if meta is None:
        raise ValueError(
            f"{index_path} is not a complete IVF-PQ index (no {PQ_META_FILE})"
        )
    base = index_path.rstrip("/")
    probe_n = _probe_cells_udf(meta["centroids"], nprobe)
    obs = Observation()
    q = (
        queries.select(
            F.col(meta["id_col"]).alias("query_id"),
            as_double(F.col(meta["vec_col"])).alias("qv"),
        )
        .withColumn("qn", l2_norm(F.col("qv")))
        .withColumn("probe", F.explode(probe_n("qv")))
        .observe(obs, F.collect_set("probe").alias("c"))
        .transform(materialize)
    )
    codes = _read_hive(spark, f"{base}/codes", _probed(obs), "cell")
    approx = _pq_approx_sim_udf(meta["codebooks"])
    cand = codes.join(
        broadcast(q),
        (F.col("cell") == F.col("probe")) & (F.col("vid") != F.col("query_id")),
    ).withColumn("asim", approx("qv", "codes"))
    w = Window.partitionBy("query_id").orderBy(F.desc("asim"), F.asc("vid"))
    # the shortlist's vector buckets are observed on its one
    # materialisation (hash of the value, so neighbor_id buckets as vid)
    vobs = Observation()
    shortlist = (
        cand.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= refine)
        .select("query_id", F.col("vid").alias("neighbor_id"), "qv", "qn")
        .observe(
            vobs,
            F.collect_set(bucket_id(["neighbor_id"], meta["vec_buckets"])).alias("b"),
        )
        .transform(materialize)
    )
    # no distinct: the lookup's left-semi join keeps a vector row once
    vecs = read_buckets_for_keys(
        spark,
        f"{base}/vectors",
        shortlist.select(F.col("neighbor_id").alias("vid")),
        _touched=observed(vobs, {"b": []})["b"],
    )
    rerank = shortlist.join(
        vecs, shortlist.neighbor_id == vecs.vid
    ).select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("vec")) / (F.col("qn") * F.col("norm"))).alias("sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# --- registered form ------------------------------------------------------

from fastetl_spark.io.readers import ensure_parallelism, read_table  # noqa: E402
from fastetl_spark.operators.similarity import QUERY_STRIDE  # noqa: E402
from fastetl_spark.registry import query  # noqa: E402


@query("similarity_ivf_index")  # approximate ANN — rows-only check
def similarity_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persistent-ANN path: IVF index built once in scratch (reused
    when a complete build exists — meta committed last), then probe-only
    search for the stride query set. Equality with the one-shot
    ivf_topk (same corpus/params) is asserted in tests; pruning is
    proven from the scan's input files."""
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    idx = _scratch_index_path(sf_dir, "ivf_idx")
    if read_ivf_meta(spark, idx) is None:
        build_ivf_index(e, idx, "vec_id", "embedding")
    return search_ivf_index(
        spark, idx, e.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    )


@query("similarity_ivfpq_index")  # approximate ANN — rows-only check
def similarity_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF-PQ path: codes+vectors layouts built once in
    scratch (meta committed last, reused when complete), then ADC
    search with bucket-pruned exact rerank. Equality with the one-shot
    ivfpq_topk is asserted in tests."""
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    idx = _scratch_index_path(sf_dir, "ivfpq_idx")
    if read_ivfpq_meta(spark, idx) is None:
        build_ivfpq_index(e, idx, "vec_id", "embedding")
    return search_ivfpq_index(
        spark, idx, e.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    )


# --- exhaustive-probe configs: the SEARCH machinery under the exact gate --
#
# IVF search with nprobe = n_cells probes every cell, so the candidate
# set is the whole corpus and the exact-cosine rerank makes the result
# IDENTICAL to brute-force cosine top-k — which already has an exact
# DuckDB oracle (similarity._TOPK_SQL). Registering that config puts the
# probe -> partition-prune -> rerank -> top-k code path itself under the
# hash gate, leaving only the quantizer TRAINING approximate-by-design.
# Same for IVF-PQ with refine >= |corpus|: every ADC candidate survives
# the shortlist, and the exact rerank over the bucket-fetched raw
# vectors determines the ranking alone.

from fastetl_spark.operators.similarity import _TOPK_SQL  # noqa: E402


@query("similarity_ivf_exhaustive", _TOPK_SQL)
def similarity_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_ivf_index at nprobe=n_cells — exhaustive probing, so the
    persisted-index search path (cell pruning included, trivially all
    cells) must hash-match the brute-force cosine top-k oracle. Reuses
    the same scratch index as similarity_ivf_index."""
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    idx = _scratch_index_path(sf_dir, "ivf_idx")
    meta = read_ivf_meta(spark, idx)
    if meta is None:
        build_ivf_index(e, idx, "vec_id", "embedding")
        meta = read_ivf_meta(spark, idx)
    return search_ivf_index(
        spark,
        idx,
        e.filter(F.col("vec_id") % QUERY_STRIDE == 0),
        nprobe=meta["n_cells"],
    )


@query("similarity_ivfpq_exhaustive", _TOPK_SQL)
def similarity_ivfpq_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_ivfpq_index at nprobe=n_cells and refine=|corpus| — every
    candidate survives the ADC shortlist, so the bucket-pruned raw-vector
    fetch + exact rerank alone determine the ranking and the persisted
    IVF-PQ search path must hash-match the brute-force oracle. Reuses
    similarity_ivfpq_index's scratch layout."""
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    idx = _scratch_index_path(sf_dir, "ivfpq_idx")
    meta = read_ivfpq_meta(spark, idx)
    if meta is None:
        build_ivfpq_index(e, idx, "vec_id", "embedding")
        meta = read_ivfpq_meta(spark, idx)
    # a bare parquet-scan count collapses to footer row counts —
    # deliberately NOT e.count(), which would execute the
    # ensure_parallelism repartition just to count
    n = read_table(spark, sf_dir, "embeddings").count()
    return search_ivfpq_index(
        spark,
        idx,
        e.filter(F.col("vec_id") % QUERY_STRIDE == 0),
        nprobe=meta["n_cells"],
        refine=n,
    )
