"""Dense-vector sign sketches (SimHash for embeddings, Charikar 2002):
random-hyperplane bit signatures over the `embeddings` table, plus
banded Hamming near-dup candidate pairs — the bit-sketch counterpart of
the text-side simhash in operators/dedup.py, and the memory-lean cousin
of the cosine near-dup scan in similarity.py (a 64-float vector becomes
one BIGINT).

Exactness: components are integer-quantized (floor(x * 1e6), float ->
double is exact), hyperplane weights are +-1 from md5 parity (the
portable hash both engines reproduce bit-for-bit), so every bit is the
sign of an exact BIGINT dot product — no float fold anywhere.

Scale shape: signature build is one groupBy(vec_id) with 32 map-side-
combinable partial sums (explode x broadcast weight table, no wide
shuffle); candidate generation groups by (band, band_value) exactly
like MinHash-LSH banding — cost proportional to true collisions, never
all-pairs. No counterpart in the reference.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fastetl_spark.io.readers import ensure_parallelism, read_table
from fastetl_spark.registry import query

_VS_BITS = 32
_VS_DIM = 64  # fixture embedding dimension (embeddings.parquet)
_VS_SCALE = 1e6
_VS_BANDS = 4
_VS_BAND_BITS = _VS_BITS // _VS_BANDS
_VS_MAX_HAMMING = 6

# weight(b, d) = +1 if md5("b:d") has even low-60-bit parity else -1 —
# row-independent, so both engines derive the same 32 x 64 table.
_VS_WEIGHTS_SQL = f"""
  SELECT b.b, d.d,
         CASE WHEN ('0x' || substr(md5(b.b || ':' || d.d), 1, 15))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS w
  FROM (SELECT unnest(generate_series(0, {_VS_BITS - 1})) AS b) b
  CROSS JOIN (SELECT unnest(generate_series(1, {_VS_DIM})) AS d) d
"""

_VS_SIG_SQL = f"""
WITH weights AS ({_VS_WEIGHTS_SQL}),
q AS (
  SELECT vec_id, d.d,
         CAST(floor(CAST(embedding[d.d] AS DOUBLE) * {_VS_SCALE}) AS BIGINT) AS qv
  FROM embeddings
  CROSS JOIN (SELECT unnest(generate_series(1, {_VS_DIM})) AS d) d
), sums AS (
  SELECT q.vec_id, w.b, CAST(SUM(w.w * q.qv) AS BIGINT) AS s
  FROM q JOIN weights w ON w.d = q.d
  GROUP BY q.vec_id, w.b
), sigs AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM sums GROUP BY vec_id
)
"""


@query(
    "embedding_simhash_bits",
    _VS_SIG_SQL
    + """
SELECT vec_id, simhash FROM sigs
""",
)
def embedding_simhash_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector 32-bit sign sketch: bit b is the sign of the exact
    integer dot product between the quantized embedding and the +-1
    hyperplane derived from md5 parity."""
    return _signatures(spark, sf_dir).select("vec_id", "simhash")


def simhash_signatures(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = _VS_DIM,
    bits: int = _VS_BITS,
) -> DataFrame:
    """(id, simhash) sign sketches over any (id, array<float>) frame —
    the reusable core behind the gated queries."""
    spark = vectors.sparkSession
    q = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda d: F.struct(
                    d.alias("d"),
                    F.floor(
                        F.element_at(F.col(vec_col), d).cast("double")
                        * F.lit(_VS_SCALE)
                    )
                    .cast("long")
                    .alias("qv"),
                ),
            )
        ).alias("x"),
    ).select("vec_id", "x.d", "x.qv")
    bits_df = spark.range(bits).select(F.col("id").cast("int").alias("b"))
    dims = spark.range(1, dim + 1).select(F.col("id").cast("int").alias("d"))
    weights = bits_df.crossJoin(dims).select(
        "b",
        "d",
        F.when(
            F.conv(
                F.substring(F.md5(F.concat_ws(":", F.col("b"), F.col("d"))), 1, 15),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("w"),
    )
    sums = (
        q.join(F.broadcast(weights), "d")
        .groupBy("vec_id", "b")
        .agg(F.sum(F.col("w") * F.col("qv")).alias("s"))
    )
    return sums.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("simhash"),
    )


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    return simhash_signatures(e).join(e.select("vec_id", "label"), "vec_id")


_VS_PAIRS_SQL = (
    _VS_SIG_SQL
    + f""", banded AS (
  SELECT s.vec_id, s.simhash, bd.bd,
         (s.simhash >> (bd.bd * {_VS_BAND_BITS})) & {(1 << _VS_BAND_BITS) - 1} AS bv
  FROM sigs s
  CROSS JOIN (SELECT unnest(generate_series(0, {_VS_BANDS - 1})) AS bd) bd
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM banded a JOIN banded b
    ON a.bd = b.bd AND a.bv = b.bv AND a.vec_id < b.vec_id
), lab AS (SELECT vec_id, label FROM embeddings)
SELECT c.vec_a, c.vec_b,
       CAST(bit_count(xor(c.sh_a, c.sh_b)) AS BIGINT) AS hamming,
       (la.label = lb.label) AS same_label
FROM cand c
JOIN lab la ON la.vec_id = c.vec_a
JOIN lab lb ON lb.vec_id = c.vec_b
WHERE bit_count(xor(c.sh_a, c.sh_b)) <= {_VS_MAX_HAMMING}
"""
)


@query("embedding_simhash_neardup", _VS_PAIRS_SQL)
def embedding_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming near-dup pairs from the banded sign sketch: candidates
    collide on one of {_VS_BANDS} {_VS_BAND_BITS}-bit bands, survivors
    have bit_count(xor) <= {_VS_MAX_HAMMING}. The same
    candidates-then-verify LSH shape as MinHash banding, with a BIGINT
    Hamming verify instead of a shingle-set Jaccard."""
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    pairs = simhash_hamming_pairs(simhash_signatures(e))
    la = e.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"))
    lb = e.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"))
    return (
        pairs.join(la, "vec_a")
        .join(lb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "hamming",
            (F.col("label_a") == F.col("label_b")).alias("same_label"),
        )
    )


def simhash_hamming_pairs(
    sigs: DataFrame,
    bands: int = _VS_BANDS,
    band_bits: int = _VS_BAND_BITS,
    max_hamming: int = _VS_MAX_HAMMING,
) -> DataFrame:
    """(vec_a, vec_b, hamming) near-dup candidates from an (vec_id,
    simhash) frame: band-bucket collision generation + exact
    bit_count(xor) verify — the reusable LSH core."""
    from fastetl_spark.checkpointing import materialize

    # the band table self-joins below — materialize the signatures so
    # the explode + two-groupBy sketch pipeline runs once, not once per
    # join side
    sigs = materialize(sigs)
    spark = sigs.sparkSession
    bands_df = spark.range(bands).select(F.col("id").cast("int").alias("bd"))
    banded = sigs.crossJoin(F.broadcast(bands_df)).select(
        "vec_id",
        "simhash",
        "bd",
        F.expr(f"shiftright(simhash, bd * {band_bits}) & {(1 << band_bits) - 1}")
        .alias("bv"),
    )
    right = banded.select(
        F.col("bd").alias("bd_r"),
        F.col("bv").alias("bv_r"),
        F.col("vec_id").alias("vec_b"),
        F.col("simhash").alias("sh_b"),
    )
    cand = (
        banded.join(
            right,
            (F.col("bd") == F.col("bd_r"))
            & (F.col("bv") == F.col("bv_r"))
            & (F.col("vec_id") < F.col("vec_b")),
        )
        .select(
            F.col("vec_id").alias("vec_a"),
            "vec_b",
            F.col("simhash").alias("sh_a"),
            "sh_b",
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "vec_a", "vec_b", ham.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = _VS_DIM,
    max_hamming: int = _VS_MAX_HAMMING,
) -> DataFrame:
    """(vec_a, vec_b, hamming) near-dup pairs of an embedding frame:
    ``simhash_signatures``, then ``simhash_hamming_pairs`` — banded
    candidates verified by exact Hamming distance, never all-pairs."""
    sigs = simhash_signatures(vectors, id_col=id_col, vec_col=vec_col, dim=dim)
    return simhash_hamming_pairs(sigs, max_hamming=max_hamming)


# --- Johnson-Lindenstrauss random projection (gated) ------------------------
#
# The dimensionality-reduction primitive of the curation stack (Achlioptas
# 2003: +-1 entries satisfy the JL lemma with the same guarantees as
# Gaussian matrices): project the 64-dim embeddings onto K=16 +-1
# hyperplanes derived from md5 parity — the SAME portable weight table
# construction as the sign sketch above, but keeping the exact BIGINT
# dot products instead of their signs. Downstream cosine/L2 comparisons
# are invariant to the constant 1/sqrt(K) JL scaling, so components stay
# raw integers and the gate needs no float argument at all.
#
# Scale shape: explode(embedding) x broadcast 16x64 weight table ->
# groupBy(vec_id, k) with map-side combine — identical exchange profile
# to the simhash signature build.

_JL_K = 16

_JL_SQL = f"""
WITH weights AS (
  SELECT k.k, d.d,
         CASE WHEN ('0x' || substr(md5('jl:' || k.k || ':' || d.d), 1, 15))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS w
  FROM (SELECT unnest(generate_series(0, {_JL_K - 1})) AS k) k
  CROSS JOIN (SELECT unnest(generate_series(1, {_VS_DIM})) AS d) d
), q AS (
  SELECT vec_id, d.d,
         CAST(floor(CAST(embedding[d.d] AS DOUBLE) * {_VS_SCALE}) AS BIGINT) AS qv
  FROM embeddings
  CROSS JOIN (SELECT unnest(generate_series(1, {_VS_DIM})) AS d) d
)
SELECT q.vec_id, w.k, CAST(SUM(w.w * q.qv) AS BIGINT) AS comp
FROM q JOIN weights w ON w.d = q.d
GROUP BY q.vec_id, w.k
ORDER BY q.vec_id, w.k
"""


def _jl_weights(spark: SparkSession, k_dims: int, dim: int) -> DataFrame:
    ks = spark.range(0, k_dims).select(F.col("id").cast("int").alias("k"))
    ds = spark.range(1, dim + 1).select(F.col("id").cast("int").alias("d"))
    return ks.crossJoin(ds).select(
        "k",
        "d",
        F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("jl:"), F.col("k"), F.lit(":"), F.col("d"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("w"),
    )


def jl_project(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_dims: int = _JL_K,
    dim: int | None = None,
) -> DataFrame:
    """Project (id, array<float>) rows onto `k_dims` +-1 hyperplanes:
    returns (vec_id, k, comp) with comp the exact integer dot product of
    the quantized vector with hyperplane k. One explode + broadcast
    weight join + map-side-combined groupBy — no wide shuffle.

    `dim` defaults to the FIRST row's vector length (a one-row probe —
    deriving the true max would cost a full pass over the array column
    before the real job). Truncation can still never be silent: every
    exploded position is guarded in-plan, so a ragged input with a
    vector LONGER than the derived/passed dim fails the job with a
    clear message instead of quietly dropping trailing components
    through the inner weight join; shorter rows just contribute fewer
    terms. Pass dim explicitly for ragged inputs (the gated query pins
    the fixture's {_VS_DIM})."""
    spark = vectors.sparkSession
    if dim is None:
        row = vectors.select(F.size(vec_col).alias("d")).first()
        if row is None or row["d"] is None:
            dim = _VS_DIM  # empty input: any table works, output empty
        else:
            dim = int(row["d"])
    guard = (
        f"CASE WHEN d0 < {int(dim)} THEN 0 ELSE CAST(assert_true("
        f"false, 'jl_project: vector longer than dim={int(dim)} — pass "
        f"dim= explicitly for ragged inputs') AS INT) END"
    )
    q = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(vec_col).alias("d0", "x"),
    ).select(
        "vec_id",
        (F.col("d0") + 1 + F.expr(guard)).cast("int").alias("d"),
        F.floor(F.col("x").cast("double") * F.lit(_VS_SCALE))
        .cast("long")
        .alias("qv"),
    )
    w = _jl_weights(spark, k_dims, dim)
    return (
        q.join(F.broadcast(w), "d")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("w") * F.col("qv")).alias("comp"))
        .select("vec_id", "k", "comp")
    )


@query("jl_random_projection", _JL_SQL)
def jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every embedding projected to {_JL_K} dims via the md5-parity +-1
    JL matrix — exact BIGINT components under the hash gate. Distance
    preservation is property-tested in tests/test_vector_sketch.py."""
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    return jl_project(e, dim=_VS_DIM).orderBy("vec_id", "k")


# --- int8 scalar quantization (SQ8) ---------------------------------------
#
# The standard ANN memory-compression step (FAISS's SQ8): each dimension
# is affinely mapped onto 0..255 using per-dimension corpus min/max, so
# a float32 vector becomes one byte per dim (4x smaller, cache-friendly
# scans). Made hash-gateable the house way: components quantize to 1e-6
# integers FIRST, the code is then the pure-integer
# ((q - min_q) * 255) div (max_q - min_q) — truncating division in both
# engines — and the per-dim bounds come from one map-side-combinable
# groupBy(dim). Reconstruction error <= range/255 by construction
# (property-tested).

_SQ8_SCALE = 1_000_000

_SQ8_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), q AS (
  SELECT vec_id, s.dim AS dim, s.qv AS qv
  FROM (
    SELECT vec_id, unnest(list_transform(
             generate_series(1, len(ev)),
             i -> struct_pack(dim := i - 1,
                              qv := CAST(floor(ev[i] * {_SQ8_SCALE}) AS BIGINT))
           )) AS s
    FROM v
  )
), b AS (
  SELECT dim, MIN(qv) AS min_q, MAX(qv) AS max_q FROM q GROUP BY dim
)
SELECT q.vec_id, q.dim,
       CAST(CASE WHEN b.max_q = b.min_q THEN 0
            ELSE ((q.qv - b.min_q) * 255) // (b.max_q - b.min_q)
            END AS INT) AS code,
       b.min_q, b.max_q
FROM q JOIN b USING (dim)
"""


def sq8_codes(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-(vector, dim) SQ8 codes + the per-dim integer bounds needed
    to dequantize: (id, dim, code 0..255, min_q, max_q) over
    1e-6-quantized components. One posexplode + one groupBy(dim) for
    bounds (|dims| rows, broadcast back) + one code projection — no
    vector-count-sized shuffle beyond the dim-keyed bounds join.
    Dequantize: (min_q + code * (max_q - min_q) / 255) / 1e6, error
    <= range/255 per dim."""
    q = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("dim", "x"),
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("x") * _SQ8_SCALE).cast("long").alias("qv"),
    )
    b = q.groupBy("dim").agg(
        F.min("qv").alias("min_q"), F.max("qv").alias("max_q")
    )
    return q.join(F.broadcast(b), "dim").select(
        "vec_id",
        "dim",
        F.when(F.col("max_q") == F.col("min_q"), F.lit(0))
        .otherwise(
            F.expr("((qv - min_q) * 255) div (max_q - min_q)")
        )
        .cast("int")
        .alias("code"),
        "min_q",
        "max_q",
    )


@query("embedding_sq8_codes", _SQ8_SQL)
def embedding_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization of the embedding corpus — every
    (vector, dim) mapped to one byte against per-dimension corpus
    bounds, the 4x-compression step an ANN index applies before IVF/PQ.
    Exact integers end to end (quantize -> integer affine -> truncating
    div), so the full code table sits under the hash gate."""
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    return sq8_codes(e)


# --- SQ8 quality gate: recall of code-space search vs exact ----------------
#
# Quantization is only useful if search quality survives it, so the
# codes get the same treatment the IVF/LSH tiers got (ann_recall_at_k /
# dedup_lsh_eval): top-k by inner product computed FROM THE CODES
# against top-k from the exact vectors, per-probe overlap under the
# hash gate. Both rankings are pure-integer argmaxes: the exact side
# scores with 1e-6-quantized components (int64-safe), the SQ8 side with
# the integer reconstruction rq = 255*min_q + code*(max_q - min_q)
# (the dequantized value scaled by 255e6 — order-preserving), whose
# pairwise products need DECIMAL(38)/HUGEINT — both engines sum them
# exactly. No float enters either ranking, so recall is deterministic.

_SQ8_K = 5
_SQ8_STRIDE = 50  # probe set = vec_id % stride == 0 (matches cosine gate)

_SQ8_RECALL_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), q AS (
  SELECT vec_id, s.dim AS dim, s.qv AS qv
  FROM (
    SELECT vec_id, unnest(list_transform(
             generate_series(1, len(ev)),
             i -> struct_pack(dim := i - 1,
                              qv := CAST(floor(ev[i] * {_SQ8_SCALE}) AS BIGINT))
           )) AS s
    FROM v
  )
), b AS (
  SELECT dim, MIN(qv) AS min_q, MAX(qv) AS max_q FROM q GROUP BY dim
), rq AS (
  SELECT q.vec_id, q.dim,
         255 * b.min_q + (CASE WHEN b.max_q = b.min_q THEN 0
             ELSE ((q.qv - b.min_q) * 255) // (b.max_q - b.min_q) END)
           * (b.max_q - b.min_q) AS r
  FROM q JOIN b USING (dim)
), probes AS (
  SELECT vec_id FROM v WHERE vec_id % {_SQ8_STRIDE} = 0
), ex_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY SUM(CAST(a.qv AS HUGEINT) * c.qv) DESC, c.vec_id)
           AS BIGINT) AS rnk
    FROM q a JOIN probes p ON a.vec_id = p.vec_id
    JOIN q c USING (dim)
    WHERE c.vec_id <> a.vec_id
    GROUP BY a.vec_id, c.vec_id
  ) WHERE rnk <= {_SQ8_K}
), sq_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY SUM(CAST(a.r AS HUGEINT) * c.r) DESC, c.vec_id)
           AS BIGINT) AS rnk
    FROM rq a JOIN probes p ON a.vec_id = p.vec_id
    JOIN rq c USING (dim)
    WHERE c.vec_id <> a.vec_id
    GROUP BY a.vec_id, c.vec_id
  ) WHERE rnk <= {_SQ8_K}
)
SELECT p.vec_id AS query_id,
       CAST(COALESCE(o.n_hit, 0) AS BIGINT) AS n_hit,
       CAST({_SQ8_K} AS BIGINT) AS k
FROM probes p LEFT JOIN (
  SELECT e.query_id, COUNT(*) AS n_hit
  FROM ex_top e JOIN sq_top s USING (query_id, neighbor_id)
  GROUP BY e.query_id
) o ON o.query_id = p.vec_id
ORDER BY query_id
"""


def _int_dot_topk(
    comp: DataFrame, probes: DataFrame, val_col: str, k: int, decimal: bool
) -> DataFrame:
    """Per-probe top-k by exact integer inner product over per-dim
    component rows (vec_id, dim, val): dim-keyed join + one map-side
    combinable sum per (probe, neighbor) + per-probe window. ``decimal``
    routes the products through DECIMAL(38,0) when int64 would
    overflow (the SQ8 reconstruction scale)."""
    a = probes.join(comp, "vec_id").select(
        F.col("vec_id").alias("query_id"), "dim",
        F.col(val_col).alias("__a"),
    )
    c = comp.select(
        F.col("vec_id").alias("neighbor_id"), "dim",
        F.col(val_col).alias("__c"),
    )
    if decimal:
        prod = F.col("__a").cast("decimal(20,0)") * F.col("__c").cast(
            "decimal(20,0)"
        )
    else:
        prod = F.col("__a") * F.col("__c")
    scored = (
        a.join(c, "dim")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(prod).alias("s"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("s"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id")
    )


@query("sq8_recall_eval", _SQ8_RECALL_SQL)
def sq8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_SQ8_K} of inner-product search FROM THE SQ8 CODES
    against exact-vector search, per probe (every {_SQ8_STRIDE}th
    vector) — the quantization-quality gate, fully integer on both
    rankings so the overlap counts are hash-exact. The measured
    number a deployment reads before swapping 4x-smaller codes into
    its ANN tier."""
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    q = e.select(
        "vec_id",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("dim", "x"),
    ).select(
        "vec_id", "dim",
        F.floor(F.col("x") * _SQ8_SCALE).cast("long").alias("qv"),
    )
    codes = sq8_codes(e)
    rq = codes.select(
        "vec_id", "dim",
        (
            F.lit(255) * F.col("min_q")
            + F.col("code").cast("long") * (F.col("max_q") - F.col("min_q"))
        ).alias("r"),
    )
    probes = e.filter(F.col("vec_id") % _SQ8_STRIDE == 0).select("vec_id")
    ex_top = _int_dot_topk(q, probes, "qv", _SQ8_K, decimal=False)
    sq_top = _int_dot_topk(rq, probes, "r", _SQ8_K, decimal=True)
    hits = (
        ex_top.join(sq_top, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        probes.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.lit(_SQ8_K).cast("long").alias("k"),
        )
        .orderBy("query_id")
    )


# --- exact embedding covariance / correlation (PCA & whitening prep) --------
#
# The second-moment statistics a PCA/whitening/ZCA step trains on:
# sample covariance and Pearson correlation for every dim pair
# (i <= j). embedding_dim_zscore_params covers the DIAGONAL (per-dim
# mean/std); the off-diagonal structure is what decides whether
# whitening matters at all and feeds any eigendecomposition.
# Components quantize to 1e-6 ints once, so all moment sums are exact
# integers; the covariance numerator n*Sxy - Sx*Sy needs DECIMAL(38)/
# HUGEINT widening (n*Sxy alone can pass 2^63), and each emitted float
# is ONE pinned IEEE shape over those exact integers. Correlation's
# sqrt is IEEE-correctly-rounded (portable, unlike ln/exp).
#
# Scale shape: one posexplode scan, one vec_id-keyed self-join that
# expands each vector to its d*(d+1)/2 dim pairs (the Gram outer
# product, shuffle keyed by vec_id), one map-side-combinable
# groupBy((i, j)) down to 2,080 rows at d=64, then two broadcast joins
# against the d-row diagonal frame. At extreme scale the explode+join
# can be replaced by a mapInPandas per-partition Gram accumulation
# (d*d ints per partition, one final tree-reduce) — the byte-profile
# twin pattern; the relational form here is the gateable one and is
# already corpus-linear.

_COV_Q = 1_000_000


def embedding_cov(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Exact (dim_i <= dim_j) sample covariance + correlation over a
    vector column: (dim_i, dim_j, n, cov, corr). Quantized-exact: both
    moments are integer sums; cov = num / (n*(n-1)) / 1e12 with
    num = n*Sxy - Sx*Sy carried in DECIMAL(38,0); corr = num_ij /
    (sqrt(num_ii) * sqrt(num_jj)) (0.0 for a zero-variance dim)."""
    dec = "decimal(38,0)"
    q = df.select(
        F.col(id_col).alias("__v"),
        F.posexplode(vec_col).alias("dim", "__x"),
    ).select(
        "__v",
        "dim",
        F.floor(F.col("__x").cast("double") * _COV_Q + F.lit(0.5))
        .cast("long")
        .alias("qx"),
    )
    a = q.select("__v", F.col("dim").alias("dim_i"), F.col("qx").alias("qa"))
    b = q.select("__v", F.col("dim").alias("dim_j"), F.col("qx").alias("qb"))
    pairs = a.join(b, "__v").filter(F.col("dim_i") <= F.col("dim_j"))
    # widen BEFORE the sums: each qa*qb product is ~1e12, so an int64
    # accumulator would silently wrap around 1e7-1e9 vectors per pair —
    # inside this module's stated scale — while DuckDB's SUM(BIGINT)
    # widens to HUGEINT and stays exact (round-10 review finding)
    g = pairs.groupBy("dim_i", "dim_j").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("qa").cast(dec) * F.col("qb")).cast(dec).alias("sxy"),
    )
    sums = q.groupBy("dim").agg(
        F.sum(F.col("qx").cast(dec)).cast(dec).alias("sx")
    )
    return _cov_finish(g, sums)


def _cov_finish(g: DataFrame, sums: DataFrame) -> DataFrame:
    """Shared covariance tail: combine pairwise second moments g =
    (dim_i, dim_j, n, sxy DECIMAL) and first moments sums = (dim, sx
    DECIMAL) into (dim_i, dim_j, n, cov, corr) — both the relational
    Gram expansion and the Arrow per-partition accumulator end here,
    so the emitted IEEE shapes are identical by construction."""
    dec = "decimal(38,0)"
    si = sums.select(F.col("dim").alias("dim_i"), F.col("sx").alias("sxi"))
    sj = sums.select(F.col("dim").alias("dim_j"), F.col("sx").alias("sxj"))
    num = (
        F.col("n").cast(dec) * F.col("sxy")
        - F.col("sxi") * F.col("sxj")
    )
    wide = (
        g.join(F.broadcast(si), "dim_i")
        .join(F.broadcast(sj), "dim_j")
        .select("dim_i", "dim_j", "n", num.alias("num"))
    )
    diag = wide.filter(F.col("dim_i") == F.col("dim_j")).select(
        F.col("dim_i").alias("__d"), F.col("num").alias("__dnum")
    )
    di = diag.select(F.col("__d").alias("dim_i"), F.col("__dnum").alias("ni"))
    dj = diag.select(F.col("__d").alias("dim_j"), F.col("__dnum").alias("nj"))
    denom = F.sqrt(F.col("ni").cast("double")) * F.sqrt(
        F.col("nj").cast("double")
    )
    return (
        wide.join(F.broadcast(di), "dim_i")
        .join(F.broadcast(dj), "dim_j")
        .select(
            F.col("dim_i").cast("int").alias("dim_i"),
            F.col("dim_j").cast("int").alias("dim_j"),
            "n",
            (
                F.col("num").cast("double")
                # n*(n-1) through decimal: the long product wraps past
                # ~3e9 rows (same review finding as the moment sums)
                / (F.col("n").cast(dec) * (F.col("n").cast(dec) - 1))
                .cast("double")
                / F.lit(float(_COV_Q) * float(_COV_Q))
            ).alias("cov"),
            F.when(
                (F.col("ni") > 0) & (F.col("nj") > 0),
                F.col("num").cast("double") / denom,
            )
            .otherwise(F.lit(0.0))
            .alias("corr"),
        )
    )


_COV_SQL = f"""
WITH q AS (
  SELECT vec_id AS v, u.i - 1 AS dim,
         CAST(FLOOR(CAST(u.x AS DOUBLE) * {_COV_Q} + 0.5) AS BIGINT) AS qx
  FROM (
    SELECT vec_id,
           unnest(list_transform(generate_series(1, len(embedding)),
                                 i -> struct_pack(i := i,
                                                  x := embedding[i]))) AS u
    FROM embeddings)
), g AS (
  SELECT a.dim AS dim_i, b.dim AS dim_j,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(a.qx * b.qx) AS sxy
  FROM q a JOIN q b ON a.v = b.v AND a.dim <= b.dim
  GROUP BY 1, 2
), sums AS (
  SELECT dim, SUM(qx) AS sx FROM q GROUP BY 1
), wide AS (
  SELECT dim_i, dim_j, n,
         n * sxy - si.sx * sj.sx AS num
  FROM g
  JOIN sums si ON si.dim = g.dim_i
  JOIN sums sj ON sj.dim = g.dim_j
), diag AS (
  SELECT dim_i AS d, num AS dnum FROM wide WHERE dim_i = dim_j
)
SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j, n,
       CAST(num AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
         / {float(_COV_Q) * float(_COV_Q)!r} AS cov,
       CASE WHEN di.dnum > 0 AND dj.dnum > 0
            THEN CAST(num AS DOUBLE)
                 / (sqrt(CAST(di.dnum AS DOUBLE))
                    * sqrt(CAST(dj.dnum AS DOUBLE)))
            ELSE 0.0 END AS corr
FROM wide
JOIN diag di ON di.d = wide.dim_i
JOIN diag dj ON dj.d = wide.dim_j
"""


@query("embedding_cov_matrix", _COV_SQL)
def embedding_cov_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact upper-triangle covariance + correlation of the embeddings
    table (d=64 -> 2,080 rows): the PCA/whitening training statistics,
    quantized-exact with DECIMAL(38)/HUGEINT numerators and pinned
    IEEE divisions (sqrt only — portable). Complements the gated
    per-dim z-score params with the cross-dim structure."""
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    return embedding_cov(e)


def embedding_cov_pandas(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """The 100 TB shape of embedding_cov: vectors NEVER expand to dim
    pairs — each Arrow batch accumulates one integer Gram matrix
    (X^T X via numpy int64 matmul, exact: |qx| <= 1e6 so per-batch
    sums stay far under 2^63) plus the first-moment vector, and emits
    d*(d+1)/2 + d partial rows PER BATCH instead of d*(d+1)/2 rows per
    VECTOR. The keyed combine over partials and the closing arithmetic
    run through the same _cov_finish tail as the gated relational
    form, so results are bit-identical (equality-tested)."""
    from collections.abc import Iterator as _It

    part_schema = T.StructType(
        [
            T.StructField("dim_i", T.IntegerType()),
            T.StructField("dim_j", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.LongType()),
        ]
    )

    def gram(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            vecs = [
                np.floor(np.asarray(v, dtype=np.float64) * _COV_Q + 0.5)
                .astype(np.int64)
                for v in pdf[vec_col]
                if v is not None and len(v) > 0
            ]
            if not vecs:
                continue
            X = np.stack(vecs)
            b, d = X.shape
            G = X.T @ X  # exact int64 matmul at this quantization
            S = X.sum(axis=0)
            iu, ju = np.triu_indices(d)
            rows = pd.DataFrame(
                {
                    "dim_i": iu.astype("int32"),
                    "dim_j": ju.astype("int32"),
                    "n": np.int64(b),
                    "s": G[iu, ju],
                }
            )
            moments = pd.DataFrame(
                {
                    "dim_i": np.arange(d, dtype="int32"),
                    "dim_j": np.int32(-1),  # first-moment marker rows
                    "n": np.int64(b),
                    "s": S,
                }
            )
            yield pd.concat([rows, moments], ignore_index=True)

    dec = "decimal(38,0)"
    parts = df.select(id_col, vec_col).mapInPandas(gram, part_schema)
    g = (
        parts.filter(F.col("dim_j") >= 0)
        .groupBy("dim_i", "dim_j")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum(F.col("s").cast(dec)).cast(dec).alias("sxy"),
        )
        .select(
            F.col("dim_i").cast("long").alias("dim_i"),
            F.col("dim_j").cast("long").alias("dim_j"),
            "n",
            "sxy",
        )
    )
    sums = (
        parts.filter(F.col("dim_j") == -1)
        .groupBy(F.col("dim_i").cast("long").alias("dim"))
        .agg(F.sum(F.col("s").cast(dec)).cast(dec).alias("sx"))
    )
    return _cov_finish(g, sums)
