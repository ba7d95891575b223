"""Deduplication operators over the `documents` table — the LLM-data
extension (BASELINE north star; no counterpart in the reference, which
only dedups by PK — patchwork.py:380-412).

Scale design:
- exact dedup = hash-groupBy on a 128-bit fingerprint: one shuffle of
  (fingerprint, doc_id) pairs only, never the text bodies;
- n-gram Jaccard = shingle-explode + equi-join on shingle. The join key
  is the shingle, so common-shingle skew is the risk at 100 TB —
  mitigate by dropping ultra-frequent shingles (document-frequency cap,
  like a stopword filter) before the join; AQE skew-join covers the rest;
- MinHash+LSH = the scale path: signature length k, banded into b
  groups; candidate pairs come from a groupBy on (band_id, band_hash),
  so cost is proportional to true near-duplicates, not n².
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fastetl_spark.checkpointing import materialize
from fastetl_spark.io.readers import ensure_parallelism, read_table
from fastetl_spark.registry import query

# --- shingling helpers (shared by jaccard / minhash / simhash) ----------


def word_tokens(c: Column) -> Column:
    return F.split(c, " ")


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct n-word shingles; empty array when the doc is too short.
    element_at chain (1-based) keeps the construction portable."""
    gen = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(tokens, i + k) for k in range(n)]),
    )
    return F.when(F.size(tokens) >= n, F.array_distinct(gen)).otherwise(
        F.expr("CAST(array() AS ARRAY<STRING>)")
    )


def shingle_hashes(tokens: Column, n: int = 3) -> Column:
    """Distinct n-word shingles as 64-bit hashes: multi-arg xxhash64 over
    the token window — no shingle-string allocation, long join keys.
    Jaccard counts over hashed shingles equal string-shingle counts up to
    64-bit collisions (~1e-11 at corpus scale). `tokens` must be a bound
    column (see minhash_signature_from_hashes)."""
    gen = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.xxhash64(*[F.element_at(tokens, i + k) for k in range(n)]),
    )
    return F.when(F.size(tokens) >= n, F.array_distinct(gen)).otherwise(
        F.expr("CAST(array() AS ARRAY<BIGINT>)")
    )


def normalize_text(c: Column) -> Column:
    """Canonical form for near-exact dedup: lowercase, collapse runs of
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))


def md5_prefix_hash(c: Column) -> Column:
    """60-bit deterministic string hash that DuckDB reproduces
    bit-for-bit: the first 15 hex chars of md5 parsed base-16
    (DuckDB twin: ``('0x' || substr(md5(s),1,15))::BIGINT``).
    Costlier than xxhash64 (md5 + hex parse), so it is used ONLY where
    a registered query needs the ORACLE to replicate hash-dependent
    results exactly (LSH banding, simhash bit folds) — production
    paths keep xxhash64."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# --- exact / normalized dedup -------------------------------------------

_EXACT_SQL = """
SELECT md5(text) AS fingerprint,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@query("dedup_exact", _EXACT_SQL)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint groupBy; only (hash, id) shuffles."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return (
        d.select(F.md5("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


_NORM_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@query("dedup_normalized", _NORM_SQL)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return (
        d.select(F.md5(normalize_text(F.col("text"))).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


# --- n-gram Jaccard near-dup pairs --------------------------------------

_JACCARD_THRESHOLD = 0.35
_SHINGLE_N = 3
# Document-frequency cap: shingles appearing in more than this many
# documents are stopword-like (they produce O(df^2) pair combos — a skew
# bomb on real text — and almost exclusively false pairs). The cap is
# mirrored in the oracle SQL so both engines drop the same buckets.
_JACCARD_DF_CAP = 64

_JACCARD_SQL = f"""
WITH shingled AS (
  SELECT doc_id,
         CASE WHEN len(tokens) >= {_SHINGLE_N}
              THEN list_distinct(list_transform(
                     generate_series(1, len(tokens) - {_SHINGLE_N - 1}),
                     i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))
              ELSE [] END AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents) t
), exploded AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM shingled
), kept AS (
  SELECT shingle FROM exploded GROUP BY shingle
  HAVING COUNT(*) BETWEEN 2 AND {_JACCARD_DF_CAP}
), pair_counts AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         MAX(a.n_sh) AS n_a, MAX(b.n_sh) AS n_b, COUNT(*) AS shared
  FROM exploded a JOIN exploded b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.shingle IN (SELECT shingle FROM kept)
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, shared,
       shared * 1.0 / (n_a + n_b - shared) AS jaccard
FROM pair_counts
WHERE shared * 1.0 / (n_a + n_b - shared) >= {_JACCARD_THRESHOLD}
"""


@query("dedup_ngram_jaccard", _JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by {_SHINGLE_N}-word shingle Jaccard >= threshold.
    Shingle-explode + group-by-shingle pair combos; jaccard computed
    from exact integer counts (deterministic division)."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(d)


def shingle_pair_counts(
    d: DataFrame,
    shingle_n: int = _SHINGLE_N,
    df_cap: int | None = _JACCARD_DF_CAP,
    observation=None,
) -> DataFrame:
    """Undirected per-pair shingle-overlap counts over a (doc_id, text)
    DataFrame: (doc_a, n_a, doc_b, n_b, shared) with doc_a < doc_b —
    the shared core under Jaccard AND containment scoring.

    `df_cap` drops shingle buckets with document frequency above the cap
    before the pair combos — pair work scales with sum(df^2) per shingle,
    so one stopword-like shingle otherwise produces a quadratic bucket
    (the 100 TB skew bomb). Pass `observation` (pyspark Observation) to
    record `dropped_buckets`/`max_df` on the same job — the drop is
    logged, not silent.
    """
    # tokens materialized as a column: inside higher-order lambdas Spark
    # re-evaluates expression subtrees per element, so passing split()
    # inline costs O(shingles * n) re-splits per row
    tok = d.select("doc_id", word_tokens(F.col("text")).alias("tokens"))
    # shingles as 64-bit hashes (shingle_hashes): long keys shuffle and
    # compare ~5x cheaper than shingle strings, same jaccard counts
    sh = tok.select("doc_id", shingle_hashes(F.col("tokens"), shingle_n).alias("shingles"))
    # group-by-shingle + in-bucket pair combos instead of a self-join:
    # the expensive shingle construction is evaluated once (a self-join
    # recomputes its whole input on both sides), and pair work scales
    # with sum(df^2) per shingle, bounded by df_cap.
    # explode_outer, NOT explode: Catalyst's InferFiltersFromGenerate
    # would add a size(shingles)>0 filter and push it below the
    # repartition, re-evaluating the whole shingle expression on the
    # unsplit scan partition (single-threaded)
    ex = (
        sh.select(
            F.struct(F.col("doc_id"), F.size("shingles").alias("n_sh")).alias("doc"),
            F.explode_outer("shingles").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        # materialize: the shingle table feeds two shuffles; at 100 TB a
        # dedup pipeline persists this stage (reliable checkpoint dir on
        # a cluster; executor-local here)
        .transform(materialize)
    )
    # two-phase df-cap: count each shingle's document frequency FIRST
    # (cheap map-side-combinable count shuffle), keep only 2 <= df <= cap,
    # and semi-join survivors back before collect_list. The order matters
    # at scale: filtering on size(docs) AFTER collect_list bounds the
    # OUTPUT but not the aggregation BUFFER — one stopword-grade shingle
    # in 10^8 docs would materialize a multi-GB array in a single task
    # before being dropped. Here the hot bucket is eliminated as a
    # (shingle, count) row and never aggregates its doc list; the
    # collect_list buffer is bounded by df_cap (and singleton shingles —
    # the vast majority — never reach it either).
    counts = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if observation is not None and df_cap is not None:
        counts = counts.observe(
            observation,
            F.sum((F.col("df") > df_cap).cast("long")).alias("dropped_buckets"),
            F.max("df").alias("max_df"),
        )
    keep = F.col("df") >= 2
    if df_cap is not None:
        keep = keep & (F.col("df") <= df_cap)
    survivors = counts.filter(keep).select("shingle")
    groups = (
        ex.join(survivors, "shingle", "left_semi")
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc")).alias("docs"))
    )
    docs = F.col("docs")
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(docs) - 1),
            lambda i: F.transform(
                F.slice(docs, i + 1, F.size(docs)),
                lambda dd: F.struct(F.element_at(docs, i).alias("a"), dd.alias("b")),
            ),
        )
    )
    flat = groups.select(F.explode(combos).alias("p")).select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.a.n_sh").alias("n_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.b.n_sh").alias("n_b"),
    )
    return flat.groupBy("doc_a", "doc_b").agg(
        F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"), F.count("*").alias("shared")
    )


def ngram_jaccard_pairs(
    d: DataFrame,
    shingle_n: int = _SHINGLE_N,
    threshold: float = _JACCARD_THRESHOLD,
    df_cap: int | None = _JACCARD_DF_CAP,
    observation=None,
) -> DataFrame:
    """Shingle-Jaccard near-dup pairs over a (doc_id, text) DataFrame.
    See shingle_pair_counts for the df-cap scale notes."""
    pairs = shingle_pair_counts(d, shingle_n, df_cap, observation)
    jac = F.col("shared") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return pairs.select(
        "doc_a", "doc_b", "shared", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


# --- prefix-filtered exact similarity join (PPJoin-style) ----------------

# Prefix filtering (Chaudhuri et al. 2006 / PPJoin, Xiao et al. 2008):
# for Jaccard >= t, two sets MUST share an element among each set's
# first (L - ceil(t*L) + 1) elements under ANY fixed global order — so
# only that prefix needs indexing, and candidate generation provably
# misses nothing. The completeness proof needs no portable order, so
# the canonical order here is ascending shingle hash. At t=0.5 the
# prefix is floor(L/2)+1 elements: half the index explode volume and a
# quadratically smaller candidate surface, with bit-identical results
# to the full inverted index (the gate below shares a complete
# no-prefix oracle; tests measure the candidate reduction).
_PREFIX_JACCARD_T = 0.5

_PREFIX_JACCARD_SQL = f"""
WITH shingled AS (
  SELECT doc_id,
         CASE WHEN len(tokens) >= {_SHINGLE_N}
              THEN list_distinct(list_transform(
                     generate_series(1, len(tokens) - {_SHINGLE_N - 1}),
                     i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))
              ELSE [] END AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents) t
), exploded AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM shingled
), pair_counts AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         MAX(a.n_sh) AS n_a, MAX(b.n_sh) AS n_b, COUNT(*) AS shared
  FROM exploded a JOIN exploded b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, shared,
       shared * 1.0 / (n_a + n_b - shared) AS jaccard
FROM pair_counts
WHERE shared * 1.0 / (n_a + n_b - shared) >= {_PREFIX_JACCARD_T}
"""


def prefix_filtered_candidates(d: DataFrame, shingle_n: int = _SHINGLE_N) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs for Jaccard >= {_PREFIX_JACCARD_T}
    via prefix filtering: each doc indexes only the first
    floor(L/2)+1 of its hash-sorted shingles. Returns distinct ordered
    pairs — a provable superset of the >= t pairs, strictly smaller
    than the full-index candidate set."""
    tok = d.select("doc_id", word_tokens(F.col("text")).alias("tokens"))
    sh = tok.select(
        "doc_id",
        F.array_sort(shingle_hashes(F.col("tokens"), shingle_n)).alias("shingles"),
    ).withColumn("n_sh", F.size("shingles"))
    # prefix length for t = 1/2: L - ceil(L/2) + 1 == L DIV 2 + 1
    pre = sh.filter(F.col("n_sh") > 0).select(
        "doc_id",
        F.slice(
            F.col("shingles"), 1, F.expr("n_sh DIV 2 + 1").cast("int")
        ).alias("prefix"),
    )
    ex = pre.select("doc_id", F.explode("prefix").alias("shingle"))
    groups = ex.groupBy("shingle").agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
    docs = F.col("docs")
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(docs) - 1),
            lambda i: F.transform(
                F.slice(docs, i + 1, F.size(docs)),
                lambda dd: F.struct(
                    F.element_at(docs, i).alias("doc_a"), dd.alias("doc_b")
                ),
            ),
        )
    )
    return (
        groups.filter(F.size(docs) >= 2)
        .select(F.explode(combos).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


@query("dedup_jaccard_prefix", _PREFIX_JACCARD_SQL)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= {_PREFIX_JACCARD_T} pairs via prefix filtering +
    array-intersect verification. The oracle is the COMPLETE (un-capped,
    un-prefixed) inverted-index self-join — so a prefix that misses any
    true pair fails the hash; the candidate-reduction claim is measured
    in tests/test_retrieval_sketches.py. Production would compose the
    prefix filter WITH the df-cap of dedup_ngram_jaccard (orthogonal
    bounds: the cap handles hot-shingle skew, the prefix shrinks every
    doc's index footprint)."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", word_tokens(F.col("text")).alias("tokens"))
    sh = tok.select(
        "doc_id",
        F.array_sort(shingle_hashes(F.col("tokens"))).alias("shingles"),
    ).withColumn("n_sh", F.size("shingles"))
    cand = prefix_filtered_candidates(d)
    sa = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .select(
            "doc_a",
            "doc_b",
            "shared",
            (
                F.col("shared") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= _PREFIX_JACCARD_T)


# --- shingle containment (asymmetric near-dup) ---------------------------

# Containment C(src -> dst) = |S(src) ∩ S(dst)| / |S(src)| — the
# asymmetric cousin of Jaccard (Broder's resemblance/containment pair).
# It catches SUB-document duplication that Jaccard structurally cannot:
# a 100-shingle doc fully embedded in a 10,000-shingle doc has
# containment 1.0 but Jaccard ~0.01, far below any usable threshold.
# Exactly the quote/boilerplate-inclusion case train-corpus dedup cares
# about. Same inverted-index + df-cap core as Jaccard (shared shingle
# never aggregates), so the 100 TB story is identical.
_CONTAINMENT_THRESHOLD = 0.5

_CONTAINMENT_SQL = f"""
WITH shingled AS (
  SELECT doc_id,
         CASE WHEN len(tokens) >= {_SHINGLE_N}
              THEN list_distinct(list_transform(
                     generate_series(1, len(tokens) - {_SHINGLE_N - 1}),
                     i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))
              ELSE [] END AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents) t
), exploded AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM shingled
), kept AS (
  SELECT shingle FROM exploded GROUP BY shingle
  HAVING COUNT(*) BETWEEN 2 AND {_JACCARD_DF_CAP}
), pair_counts AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         MAX(a.n_sh) AS n_a, MAX(b.n_sh) AS n_b, COUNT(*) AS shared
  FROM exploded a JOIN exploded b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.shingle IN (SELECT shingle FROM kept)
  GROUP BY a.doc_id, b.doc_id
), directed AS (
  SELECT doc_a AS src, doc_b AS dst, shared, n_a AS n_src FROM pair_counts
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst, shared, n_b AS n_src FROM pair_counts
)
SELECT src, dst, shared, n_src,
       shared * 1.0 / n_src AS containment
FROM directed
WHERE shared * 1.0 / n_src >= {_CONTAINMENT_THRESHOLD}
"""


def containment_pairs(
    d: DataFrame,
    shingle_n: int = _SHINGLE_N,
    threshold: float = _CONTAINMENT_THRESHOLD,
    df_cap: int | None = _JACCARD_DF_CAP,
    observation=None,
) -> DataFrame:
    """Directed containment pairs (src, dst, shared, n_src, containment)
    with containment = shared/n_src >= threshold. Both orientations of
    each undirected overlap are scored — a short doc swallowed by a long
    one surfaces as (short -> long) even though the reverse direction
    (and the Jaccard score) stay far below threshold."""
    pairs = shingle_pair_counts(d, shingle_n, df_cap, observation)
    # both orientations from ONE pass over the pair counts (a unionAll
    # of two selects would re-execute the whole pair-count subtree)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"),
                    F.col("doc_b").alias("dst"),
                    F.col("shared").alias("shared"),
                    F.col("n_a").alias("n_src"),
                ),
                F.struct(
                    F.col("doc_b").alias("src"),
                    F.col("doc_a").alias("dst"),
                    F.col("shared").alias("shared"),
                    F.col("n_b").alias("n_src"),
                ),
            )
        ).alias("p")
    ).select("p.src", "p.dst", "p.shared", "p.n_src")
    cont = F.col("shared") * 1.0 / F.col("n_src")
    return directed.select(
        "src", "dst", "shared", "n_src", cont.alias("containment")
    ).filter(F.col("containment") >= threshold)


@query("dedup_containment", _CONTAINMENT_SQL)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup: directed (src, dst)
    pairs where >= {_CONTAINMENT_THRESHOLD:.0%} of src's shingles also
    occur in dst. Exact integer counts; containment is one exact-integer
    division (bit-deterministic)."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return containment_pairs(d)


# --- MinHash + LSH (banded) ---------------------------------------------

_MINHASH_K = 32  # signature length
_MINHASH_BANDS = 8  # rows per band = k / bands
_M31 = (1 << 31) - 1  # Mersenne prime; keeps affine products within long range


def minhash_signature_from_hashes(base: Column, k: int = _MINHASH_K) -> Column:
    """k minhash values via affine re-hashes of pre-hashed shingles.
    `base` MUST be a bound column of pmod(xxhash64(shingle), 2^31-1)
    values: a column of the frame the signature is selected from, not
    the hash expression inline, which would be evaluated once per
    reference. A bound column is enough, and materialising it is not
    needed: the optimizer does not inline a non-trivial projection into
    a consumer that references it more than once. Coefficients are small odd
    constants (deterministic, seedless); mod 2^31-1 keeps h * a + b in
    long range (ANSI-safe).

    Computed as ONE aggregate pass over the shingle array with a k-wide
    running-minimum accumulator (zip_with against a constant coefficient
    array), instead of k separate transform+array_min passes — same
    values (equality asserted in tests), ~12% faster on the signature
    stage and k-1 fewer intermediate array allocations per row.

    A doc with ZERO shingles gets a NULL signature (not the untouched
    sentinel accumulator): the sentinel would give every too-short doc
    one shared well-defined signature and deterministically band them
    all together, while the portable oracle emits no signature rows for
    such docs. NULL preserves the original per-i transform+array_min
    contract (array_min over empty → NULL) and lsh_candidate_pairs
    filters NULL signatures out before banding."""
    # the accumulator (k copies of 2^31-1) and the k affine coefficient
    # pairs as one SQL literal: one driver call, where F.struct/F.lit
    # calls cost ~100, each one or more py4j round trips
    coefs = ", ".join(f"named_struct('a', {2 * i + 1}L, 'b', {i * 7919}L)" for i in range(k))
    consts = F.expr(f"named_struct('acc', array_repeat({_M31}L, {k}), 'p', array({coefs}))")
    sig = F.aggregate(
        base,
        consts["acc"],
        lambda acc, h: F.zip_with(
            acc, consts["p"], lambda m, p: F.least(m, (h * p["a"] + p["b"]) % _M31)
        ),
    )
    return F.when(F.size(base) > 0, sig)


def minhash_signature(shingles: Column, k: int = _MINHASH_K) -> Column:
    """Convenience wrapper when `shingles` is a bound column."""
    return minhash_signature_from_hashes(
        F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_M31))), k
    )


def lsh_candidate_pairs(df: DataFrame, id_col: str, sig_col: str, bands: int = _MINHASH_BANDS) -> DataFrame:
    """Band the signature; docs sharing any band bucket become candidate
    pairs. groupBy on (band, bucket) — cost scales with collisions, not n².
    NULL signatures (zero-shingle docs) are dropped before banding."""
    k = _MINHASH_K
    rows = k // bands
    banded = df.filter(F.col(sig_col).isNotNull()).select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", *[F.element_at(sig_col, b * rows + r + 1).cast("string") for r in range(rows)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


@query("dedup_minhash_lsh")  # engine-hash based — rows-only check (no oracle)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + 8-band LSH candidate pairs, verified by true shingle
    Jaccard — the 100 TB near-dup path (brute-force pair join never runs)."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(d)


def minhash_lsh_pairs(d: DataFrame) -> DataFrame:
    """MinHash+LSH near-dup pairs over a (doc_id, text) frame — the
    df-shaped core behind dedup_minhash_lsh."""
    # the short-doc filter tests token count, not the shingle array: the
    # predicate that gets pushed to the scan is then a single cheap
    # split(), not the full shingle construction
    tok = d.select("doc_id", word_tokens(F.col("text")).alias("tokens")).filter(
        F.size(F.col("tokens")) >= _SHINGLE_N
    )
    sh = tok.select("doc_id", shingle_hashes(F.col("tokens"), _SHINGLE_N).alias("shingles"))
    hashed = sh.select(
        "doc_id",
        "shingles",
        F.transform("shingles", lambda s: F.pmod(s, F.lit(_M31))).alias("hs"),
    ).transform(materialize)  # feeds both the signature and the verify branch
    sigs = hashed.select("doc_id", minhash_signature_from_hashes(F.col("hs")).alias("sig"))
    cands = lsh_candidate_pairs(sigs, "doc_id", "sig")
    # verify candidates with exact jaccard (small candidate set)
    shn = hashed.select("doc_id", F.col("shingles").alias("sh"), F.size("shingles").alias("n_sh"))
    verified = (
        cands.join(shn.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(shn.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.col("shared") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("shared")))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )
    return verified.select("id_a", "id_b", "shared", "jaccard")


# The portable twin of the one-shot LSH path: md5-prefix shingle hashes
# + decimal band keys make the ENTIRE pipeline — signatures, banding,
# candidate generation, exact-Jaccard verify — reproducible in DuckDB
# bit-for-bit, so LSH recall AND precision are both hash-gated (same
# construction the persistent index's minhash_index_match uses, here
# over all intra-corpus pairs instead of increment-vs-corpus).
_MINHASH_LSH_PORTABLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), shingled AS (
  SELECT doc_id,
         CASE WHEN len(tokens) >= {_SHINGLE_N}
              THEN list_distinct(list_transform(
                     generate_series(1, len(tokens) - {_SHINGLE_N - 1}),
                     i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))
              ELSE [] END AS shingles
  FROM toks
), hashed AS (
  SELECT doc_id, shingles,
         list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {_M31}) AS hs
  FROM shingled WHERE len(shingles) > 0
), sigs AS (
  SELECT doc_id,
         list_transform(range(0, {_MINHASH_K}),
           i -> list_min(list_transform(hs,
                  h -> (h * (2*i + 1) + i * 7919) % {_M31}))) AS sig
  FROM hashed
), banded AS (
  SELECT doc_id, b AS band,
         array_to_string(list_transform(
           range(b*{_MINHASH_K // _MINHASH_BANDS},
                 (b+1)*{_MINHASH_K // _MINHASH_BANDS}),
           r -> CAST(sig[r + 1] AS VARCHAR)), '_') AS band_key
  FROM sigs, (SELECT unnest(range(0, {_MINHASH_BANDS})) AS b) bands
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), verified AS (
  SELECT cand.id_a, cand.id_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS shared,
         len(sa.shingles) AS n_a, len(sb.shingles) AS n_b
  FROM cand
  JOIN hashed sa ON sa.doc_id = cand.id_a
  JOIN hashed sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b, shared,
       shared * 1.0 / (n_a + n_b - shared) AS jaccard
FROM verified
WHERE shared * 1.0 / (n_a + n_b - shared) >= {_JACCARD_THRESHOLD}
"""


@query("dedup_minhash_lsh_portable", _MINHASH_LSH_PORTABLE_SQL)
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh with the portable hash pair (md5-prefix shingle
    hash, decimal band keys) instead of xxhash64 — identical pipeline
    shape, every stage DuckDB-reproducible, so the one-shot LSH path is
    hash-proven end to end (production keeps the faster xxhash64 form
    above; recall equivalence between the two hash families is covered
    by the planted-twin tests)."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", word_tokens(F.col("text")).alias("tokens")).filter(
        F.size(F.col("tokens")) >= _SHINGLE_N
    )
    sh = tok.select(
        "doc_id", word_shingles(F.col("tokens"), _SHINGLE_N).alias("shingles")
    )
    hashed = sh.select(
        "doc_id",
        "shingles",
        F.transform(
            "shingles", lambda s: F.pmod(md5_prefix_hash(s), F.lit(_M31))
        ).alias("hs"),
    ).transform(materialize)
    sigs = hashed.select(
        "doc_id", minhash_signature_from_hashes(F.col("hs")).alias("sig")
    )
    cands = lsh_candidate_pairs(sigs, "doc_id", "sig")
    shn = hashed.select(
        "doc_id", F.col("shingles").alias("sh"), F.size("shingles").alias("n_sh")
    )
    verified = (
        cands.join(shn.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(shn.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.col("shared") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("shared")))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )
    return verified.select("id_a", "id_b", "shared", "jaccard")


# --- SimHash -------------------------------------------------------------


def simhash64_from_hashes(hashes: Column, bits: int = 64) -> Column:
    """SimHash over pre-hashed tokens (bound column — see
    minhash_signature_from_hashes for why), as pure expressions: bit b
    of the result is set iff more token-hashes have bit b set than
    unset. JVM-side, no UDF.

    ONE aggregate pass over the hash array with a bits-wide counter
    accumulator (zip_with against a constant power-of-two array —
    shiftleft/shiftright need literal shift amounts, hence the mask
    test), instead of ``bits`` separate filter+size passes: same
    integers (equality asserted in tests), ~24% faster and bits-1
    fewer intermediate arrays per row. Use bits=60 with
    md5_prefix_hash inputs (60-bit hashes; the top 4 bits would always
    fold to 0 anyway)."""
    n = F.size(hashes)
    # bit 63's mask is Long.MIN_VALUE in signed representation — a
    # plain 1<<63 literal overflows a long
    pows = F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            for b in range(bits)
        ]
    )
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    counts = F.aggregate(
        hashes,
        F.array_repeat(zero, bits),
        lambda acc, h: F.zip_with(
            acc,
            pows,
            lambda c, p: c + F.when(h.bitwiseAND(p) != zero, one).otherwise(zero),
        ),
    )
    bitvals = F.zip_with(counts, pows, lambda c, p: F.when(c * 2 > n, p).otherwise(zero))
    return F.aggregate(bitvals, zero, lambda a, v: a.bitwiseOR(v))


def simhash64(tokens: Column) -> Column:
    """Convenience wrapper: hashes tokens then folds bits."""
    return simhash64_from_hashes(F.transform(tokens, lambda t: F.xxhash64(t)))


# 60-bit simhash (md5-prefix portable hashes), 4 segments of 15 bits:
# any pair within Hamming distance 3 shares at least one exact segment
# (pigeonhole). The oracle replicates signature, blocking, and distance
# bit-for-bit, so this formerly rows-only query is now hash-gated.
_SIMHASH_BITS = 60
_SIMHASH_SEG = _SIMHASH_BITS // 4

_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokens FROM documents
), hashed AS (
  SELECT doc_id,
         list_transform(tokens, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
  FROM toks
), sims AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, {_SIMHASH_BITS}),
           b -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
                     THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS sim
  FROM hashed
), seg AS (
  SELECT doc_id, sim, s AS seg_id,
         (sim >> (s * {_SIMHASH_SEG})) & {(1 << _SIMHASH_SEG) - 1} AS seg
  FROM sims, (SELECT unnest(range(0, 4)) AS s) ss
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sim AS sim_a, b.sim AS sim_b
  FROM seg a JOIN seg b
    ON a.seg_id = b.seg_id AND a.seg = b.seg AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(sim_a, sim_b)) <= 3
"""


@query("dedup_simhash", _SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= 3, found by
    4-segment pigeonhole blocking (any pair within distance 3 shares at
    least one exact {_SIMHASH_SEG}-bit segment) — join on segments, not
    n² pairs. Portable md5-prefix token hashes (60-bit) let the DuckDB
    oracle reproduce signatures and blocking exactly."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return simhash_pairs(d)


def simhash_pairs(d: DataFrame) -> DataFrame:
    """SimHash Hamming<=3 near-dup pairs over a (doc_id, text) frame —
    the df-shaped core behind dedup_simhash."""
    tok = d.select("doc_id", F.array_distinct(word_tokens(F.col("text"))).alias("tokens"))
    hashed = tok.select(
        "doc_id", F.transform("tokens", lambda t: md5_prefix_hash(t)).alias("hs")
    )
    sims = hashed.select(
        "doc_id", simhash64_from_hashes(F.col("hs"), bits=_SIMHASH_BITS).alias("sim")
    ).transform(materialize)  # 60-expression fold; never recompute it per join side
    seg_mask = (1 << _SIMHASH_SEG) - 1
    seg = sims.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seg_id"),
                        F.shiftrightunsigned(F.col("sim"), s * _SIMHASH_SEG)
                        .bitwiseAND(F.lit(seg_mask))
                        .alias("seg"),
                    )
                    for s in range(4)
                ]
            )
        ).alias("ss"),
    ).select("doc_id", "sim", "ss.seg_id", "ss.seg")
    a, b = seg.alias("a"), seg.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.seg_id") == F.col("b.seg_id"))
            & (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= 3)
    )
    return pairs.select("doc_a", "doc_b", "hamming")


# --- canonical assignment (dedup groups -> keep list) -------------------

_KEEP_SQL = """
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint,
       doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS is_canonical
FROM fp
"""


@query("dedup_keep_list", _KEEP_SQL)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keep/drop flag (min doc_id per fingerprint wins) — the
    form a training-data pipeline actually consumes."""
    from pyspark.sql.window import Window

    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    fp = d.select("doc_id", F.md5(normalize_text(F.col("text"))).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return fp.withColumn("is_canonical", F.col("doc_id") == F.min("doc_id").over(w))


# --- connected components (pair list -> dedup clusters) ------------------


_CC_DRIVER_EDGE_CAP = 2_000_000


def _union_find_components(
    edge_rows, id_col: str, spark, value_type: str = "bigint"
) -> DataFrame:
    """Exact union-find over a collected edge list (path compression +
    union by min representative). Returns (id_col, component) with
    component = min reachable node — identical semantics to the
    distributed fixpoint."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # min representative wins so labels match min-propagation
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    return spark.createDataFrame(
        rows, f"{id_col} {value_type}, component {value_type}"
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_col: str = "doc_id",
    max_iterations: int = 25,
    driver_edge_cap: int = _CC_DRIVER_EDGE_CAP,
    nodes_unique: bool = False,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: (doc_id, component) where
    component is the smallest doc_id reachable through the pair graph —
    the step a real dedup pipeline runs between candidate generation
    (minhash/simhash/jaccard) and canonical selection.

    Size-adaptive strategy. The edge list is the OUTPUT of candidate
    generation — orders of magnitude smaller than the corpus — so it is
    counted first (the count rides the edge materialize via observe():
    zero extra jobs). At or under `driver_edge_cap` edges the components come from
    an exact driver-side union-find (milliseconds, zero extra jobs);
    above it, iterative min-label propagation on DataFrames: each round
    every node takes the min of its own label and its neighbors'
    labels; rounds needed = graph diameter (near-dup clusters are
    shallow, typically <= 3-4). Each round is one shuffle on the node
    id; lineage is cut with localCheckpoint per round (use a reliable
    checkpoint dir on a cluster). Convergence is detected by a
    changed-count folded into each round's materialize action via
    observe() — no separate aggregate job per round. No GraphFrames/RDD
    dependency. Both paths produce identical labels (min reachable
    node).

    Only the EDGE-INDUCED subgraph iterates: a node with no pair edge
    can never change label, so isolated nodes (the overwhelming majority
    of a corpus) are attached once at the end as their own component.
    At 100 TB this is the difference between shuffling the whole corpus
    every round and shuffling only the near-dup subgraph every round.

    ``nodes_unique=True`` declares the ``nodes`` frame already unique
    on ``id_col`` (a primary key, or a frame the caller has already
    deduplicated): the isolated-node attach then skips its
    ``distinct()`` — at corpus scale that distinct is a full shuffle
    of every node id just to re-prove a uniqueness the caller already
    guarantees (r15, guide §2.1: remove shuffles outright).
    """
    spark = pairs.sparkSession
    # the size probe rides the materialize action itself (observe), so
    # choosing the strategy costs zero extra jobs — same fold as the
    # kcore/LPA fixpoint loops
    eobs = Observation()
    edges = materialize(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .observe(eobs, F.count(F.lit(1)).alias("n"))
    )
    if int(eobs.get["n"]) <= driver_edge_cap:
        resolved = _union_find_components(
            [(r["src"], r["dst"]) for r in edges.collect()],
            id_col,
            spark,
            value_type=edges.schema["src"].dataType.simpleString(),
        )
        if nodes is None:
            return resolved
        base = nodes.select(F.col(id_col))
        # broadcast the attach: `resolved` is driver-bounded BY
        # CONSTRUCTION on this path (the union-find just ran over it in
        # driver memory), but createDataFrame hands it back as a
        # stats-less RDD scan, so the planner shuffled the FULL corpus
        # against it (r15, guide §3.1: force the strategy when the
        # estimate is known-wrong — plan: ShuffledHashJoin + corpus
        # Exchange -> BroadcastHashJoin, zero corpus exchanges)
        return (
            (base if nodes_unique else base.distinct())
            .join(F.broadcast(resolved), id_col, "left")
            .select(id_col, F.coalesce("component", F.col(id_col)).alias("component"))
        )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .transform(materialize)
    )
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        obs = Observation()
        new_labels = materialize(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.coalesce("nbr_label", "label") < F.col("label")).cast("long").alias("chg"),
            )
            # changed-count rides the materialize action — no separate
            # aggregate job per round
            .observe(
                obs, F.coalesce(F.sum("chg"), F.lit(0)).alias("changed")
            )
        )
        changed = int(obs.get["changed"])
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    if changed != 0:
        # exhausting the round budget mid-propagation would silently
        # return WRONG components (split clusters -> kept duplicates);
        # fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds "
            f"({changed} labels still changing); raise max_iterations — rounds "
            "needed equal the pair-graph diameter"
        )
    resolved = labels.select(F.col("node").alias(id_col), F.col("label").alias("component"))
    if nodes is None:
        return resolved
    base = nodes.select(F.col(id_col))
    return (
        (base if nodes_unique else base.distinct())
        .join(resolved, id_col, "left")
        .select(id_col, F.coalesce("component", F.col(id_col)).alias("component"))
    )


# Shared CTE chain ending in `comp(doc_id, component)` — the SQL twin of
# doc_dup_pairs + connected_components. curation.py builds on the same
# fragment so "component" can never mean different things in different
# operators.
_COMPONENTS_CTES_SQL = f"""jacc AS ({_JACCARD_SQL.strip()}),
norm_fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
fp_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM norm_fp a JOIN norm_fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jacc
  UNION SELECT doc_b, doc_a FROM jacc
  UNION SELECT doc_a, doc_b FROM fp_pairs
  UNION SELECT doc_b, doc_a FROM fp_pairs
),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, w.label FROM walk w JOIN edges e ON e.dst = w.node
),
comp AS (
  SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
)"""

_CC_SQL = f"""
WITH RECURSIVE {_COMPONENTS_CTES_SQL}
SELECT doc_id, component, component = doc_id AS is_canonical FROM comp
"""


def doc_dup_pairs(d: DataFrame) -> DataFrame:
    """Union of the two standard duplicate-pair sources over a
    (doc_id, text) frame: normalized-fingerprint exact dups + shingle
    Jaccard near dups. The single definition both cluster operators
    (dedup_connected_components, cluster_canonical_best_quality) share.

    The (doc_id, fingerprint) projection is materialized ONCE
    (localCheckpoint; reliable checkpoint dir on a cluster) before the
    equi-self-join: a bare self-join would evaluate md5+normalize over
    the full text corpus twice — at 100 TB, a second complete scan —
    while the join itself only ever shuffles the 48-byte projection."""
    jacc = ngram_jaccard_pairs(d).select("doc_a", "doc_b")
    return jacc.union(exact_dup_pairs(d))


def exact_dup_pairs(d: DataFrame) -> DataFrame:
    """Normalized-fingerprint exact-duplicate pairs over (doc_id, text):
    the fingerprint projection is materialized once, the equi-self-join
    shuffles only the 48-byte (id, fp) rows."""
    fp = d.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("fp")
    ).transform(materialize)
    a, b = fp.alias("a"), fp.alias("b")
    return a.join(
        b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))


def resolve_doc_components(d: DataFrame) -> DataFrame:
    """(doc_id, component) for every document via label propagation over
    doc_dup_pairs — the Spark twin of the `comp` CTE."""
    # doc_id is the documents table's key — unique by contract, so the
    # attach join skips the corpus-wide distinct (r15)
    return connected_components(
        doc_dup_pairs(d), nodes=d.select("doc_id"), nodes_unique=True
    )


@query("dedup_connected_components", _CC_SQL)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end cluster resolution over the union of two pair sources
    (normalized-fingerprint exact dups + shingle-Jaccard near dups):
    every document gets a component id (min reachable doc_id) and an
    is_canonical flag. Oracle: DuckDB recursive-CTE transitive closure —
    the Spark side is iterative label propagation, the SQL side is the
    same fixpoint declaratively."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    comp = resolve_doc_components(d)
    return comp.withColumn("is_canonical", F.col("component") == F.col("doc_id"))


# --- incremental dedup: new batch vs existing corpus ---------------------

_INC_SPLIT_MOD = 7  # stand-in split for the registered query: doc_id % 7

_INC_DEDUP_SQL = f"""
WITH shingled AS (
  SELECT doc_id,
         CASE WHEN len(tokens) >= {_SHINGLE_N}
              THEN list_distinct(list_transform(
                     generate_series(1, len(tokens) - {_SHINGLE_N - 1}),
                     i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))
              ELSE [] END AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents) t
), ex AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM shingled
), corpus AS (
  SELECT * FROM ex WHERE doc_id % {_INC_SPLIT_MOD} != 0
), inc AS (
  SELECT * FROM ex WHERE doc_id % {_INC_SPLIT_MOD} = 0
), kept AS (
  SELECT shingle FROM corpus GROUP BY shingle
  HAVING COUNT(*) <= {_JACCARD_DF_CAP}
), pair_counts AS (
  SELECT c.doc_id AS corpus_doc, i.doc_id AS new_doc,
         MAX(c.n_sh) AS n_c, MAX(i.n_sh) AS n_i, COUNT(*) AS shared
  FROM corpus c JOIN inc i ON c.shingle = i.shingle
  WHERE c.shingle IN (SELECT shingle FROM kept)
  GROUP BY c.doc_id, i.doc_id
)
SELECT new_doc, corpus_doc, shared,
       shared * 1.0 / (n_c + n_i - shared) AS jaccard
FROM pair_counts
WHERE shared * 1.0 / (n_c + n_i - shared) >= {_JACCARD_THRESHOLD}
"""


def incremental_jaccard_matches(
    corpus: DataFrame,
    increment: DataFrame,
    shingle_n: int = _SHINGLE_N,
    threshold: float = _JACCARD_THRESHOLD,
    df_cap: int | None = _JACCARD_DF_CAP,
) -> DataFrame:
    """Near-dup matches of a NEW document batch against an EXISTING
    corpus — the shape continuous corpus curation actually runs: the
    corpus is 100 TB, the increment is a day's crawl, and the job must
    cost O(|increment|), never O(|corpus|^2) or a corpus self-join.

    Scale order of operations (each step shrinks the corpus side):
    1. the increment's distinct shingle set (small — bounded by the
       batch) semi-joins the exploded corpus FIRST, so corpus shingles
       that cannot match anything are dropped at the scan;
    2. the df-cap count-filters the PRUNED corpus shingles before any
       pairing (two-phase, same rationale as ngram_jaccard_pairs — a
       stopword shingle never builds its pair bucket);
    3. only then does the equi-join on shingle produce candidate pairs,
       grouped to exact jaccard from integer counts.

    Both inputs are (doc_id, text) frames; sides must be key-disjoint.
    Returns (new_doc, corpus_doc, shared, jaccard >= threshold).
    """
    def explode_side(d: DataFrame, id_alias: str, n_alias: str) -> DataFrame:
        tok = d.select("doc_id", word_tokens(F.col("text")).alias("tokens"))
        sh = tok.select(
            "doc_id", shingle_hashes(F.col("tokens"), shingle_n).alias("shingles")
        )
        return (
            sh.select(
                F.col("doc_id").alias(id_alias),
                F.size("shingles").alias(n_alias),
                F.explode_outer("shingles").alias("shingle"),
            )
            .filter(F.col("shingle").isNotNull())
        )

    ex_i = explode_side(increment, "new_doc", "n_i").transform(materialize)
    ex_c = explode_side(corpus, "corpus_doc", "n_c")
    # step 1: prune the corpus explode to shingles the increment has.
    # The distinct increment shingle set is batch-bounded; AQE
    # broadcasts it when it fits, so the corpus side is filtered
    # without shuffling the corpus.
    inc_shingles = ex_i.select("shingle").distinct()
    ex_c = ex_c.join(inc_shingles, on="shingle", how="left_semi").transform(materialize)
    # step 2: df-cap on the pruned corpus side, counts before any pairing
    if df_cap is not None:
        survivors = (
            ex_c.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("shingle")
        )
        ex_c = ex_c.join(survivors, on="shingle", how="left_semi")
    # step 3: candidate pairs by shingle equi-join, exact jaccard
    pairs = (
        ex_c.join(ex_i, on="shingle")
        .groupBy("new_doc", "corpus_doc")
        .agg(
            F.max("n_c").alias("n_c"),
            F.max("n_i").alias("n_i"),
            F.count(F.lit(1)).alias("shared"),
        )
    )
    jac = F.col("shared") * 1.0 / (F.col("n_c") + F.col("n_i") - F.col("shared"))
    return pairs.select(
        "new_doc", "corpus_doc", "shared", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


@query("dedup_increment_vs_corpus", _INC_DEDUP_SQL)
def dedup_increment_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of incremental_jaccard_matches: every 7th doc is
    'the new batch', the rest are 'the corpus'."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    inc = d.filter(F.col("doc_id") % _INC_SPLIT_MOD == 0)
    corpus = d.filter(F.col("doc_id") % _INC_SPLIT_MOD != 0)
    return incremental_jaccard_matches(corpus, inc)


# --- LSH quality evaluation under the gate -------------------------------

# The dedup twin of ann_recall_at_k: precision AND recall of the
# portable MinHash-LSH candidate generator, measured against the
# REACHABLE exact-Jaccard truth set (pairs sharing at least one
# df-capped shingle, verified with full-set Jaccard — the same
# stopword-shingle cap discipline both candidate generators live
# under; a pair similar ONLY through ultra-common shingles is outside
# both, identically in both engines).
_LSH_EVAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), shingled AS (
  SELECT doc_id,
         CASE WHEN len(tokens) >= {_SHINGLE_N}
              THEN list_distinct(list_transform(
                     generate_series(1, len(tokens) - {_SHINGLE_N - 1}),
                     i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))
              ELSE [] END AS shingles
  FROM toks
), hashed AS (
  SELECT doc_id, shingles,
         list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {_M31}) AS hs
  FROM shingled WHERE len(shingles) > 0
), sigs AS (
  SELECT doc_id,
         list_transform(range(0, {_MINHASH_K}),
           i -> list_min(list_transform(hs,
                  h -> (h * (2*i + 1) + i * 7919) % {_M31}))) AS sig
  FROM hashed
), banded AS (
  SELECT doc_id, b AS band,
         array_to_string(list_transform(
           range(b*{_MINHASH_K // _MINHASH_BANDS},
                 (b+1)*{_MINHASH_K // _MINHASH_BANDS}),
           r -> CAST(sig[r + 1] AS VARCHAR)), '_') AS band_key
  FROM sigs, (SELECT unnest(range(0, {_MINHASH_BANDS})) AS b) bands
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), cand_j AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.shingles, sb.shingles)) * 1.0
           / (len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
  FROM cand c
  JOIN hashed sa ON sa.doc_id = c.id_a
  JOIN hashed sb ON sb.doc_id = c.id_b
), exploded AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM hashed
), kept AS (
  SELECT shingle FROM exploded GROUP BY shingle
  HAVING COUNT(*) BETWEEN 2 AND {_JACCARD_DF_CAP}
), reach AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM exploded a JOIN exploded b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.shingle IN (SELECT shingle FROM kept)
), truth AS (
  SELECT r.id_a, r.id_b
  FROM reach r
  JOIN hashed sa ON sa.doc_id = r.id_a
  JOIN hashed sb ON sb.doc_id = r.id_b
  WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0
          / (len(sa.shingles) + len(sb.shingles)
             - len(list_intersect(sa.shingles, sb.shingles)))
        >= {_JACCARD_THRESHOLD}
), cstats AS (
  SELECT COUNT(*) AS n_cand,
         SUM(CASE WHEN jaccard >= {_JACCARD_THRESHOLD} THEN 1 ELSE 0 END) AS n_tp
  FROM cand_j
), tstats AS (
  SELECT COUNT(*) AS n_truth,
         SUM(CASE WHEN c.id_a IS NULL THEN 1 ELSE 0 END) AS n_missed
  FROM truth t LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
)
SELECT CAST(n_cand AS BIGINT) AS n_cand,
       CAST(n_tp AS BIGINT) AS n_tp,
       CAST(n_cand - n_tp AS BIGINT) AS n_fp,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_missed AS BIGINT) AS n_missed
FROM cstats, tstats
"""


@query("dedup_lsh_eval", _LSH_EVAL_SQL)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the portable MinHash-LSH candidate generator
    against the reachable exact-Jaccard truth set, in one row of exact
    integers: candidates, true/false positives (full-set Jaccard >=
    threshold), truth pairs, and truth pairs the banding MISSED. The
    dedup twin of ann_recall_at_k — the quality of the approximate
    path itself is hash-gated, not asserted.

    Scale shape: truth generation is the df-capped shared-shingle join
    (never all-pairs); the LSH side is the banding pipeline. Run on a
    SAMPLED document stratum in production — the metric needs a truth
    set, and truth costs more than the LSH it evaluates.

    r14 shared-support rewrite: candidate pairs and reachable pairs
    are unioned into ONE distinct pair set tagged (in_cand, in_reach),
    the shingle arrays are attached and the exact Jaccard computed
    ONCE per pair, and all five counters fall out of a single
    aggregation — where the r13 form attached arrays and computed
    Jaccard separately per side (5 joins + 2 aggs + a truth-vs-cand
    anti-probe; candidates overwhelmingly ARE reachable, so the two
    Jaccard passes overlapped almost completely). Pure refactor of the
    same integer counters: n_cand/n_tp sum over in_cand pairs,
    n_truth/n_missed over in_reach pairs with the identical full-set
    Jaccard threshold — proven by the unchanged DuckDB oracle hash."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", word_tokens(F.col("text")).alias("tokens")).filter(
        F.size(F.col("tokens")) >= _SHINGLE_N
    )
    sh = tok.select(
        "doc_id", word_shingles(F.col("tokens"), _SHINGLE_N).alias("shingles")
    ).filter(F.size("shingles") > 0)
    hashed = sh.select(
        "doc_id",
        "shingles",
        F.transform(
            "shingles", lambda s: F.pmod(md5_prefix_hash(s), F.lit(_M31))
        ).alias("hs"),
    ).transform(materialize)
    sigs = hashed.select(
        "doc_id", minhash_signature_from_hashes(F.col("hs")).alias("sig")
    )
    cands = lsh_candidate_pairs(sigs, "doc_id", "sig")

    exploded = hashed.select("doc_id", F.explode("shingles").alias("shingle"))
    kept = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _JACCARD_DF_CAP))
        .select("shingle")
    )
    ek = exploded.join(kept, "shingle")
    reach = (
        ek.select(F.col("doc_id").alias("id_a"), "shingle")
        .join(ek.select(F.col("doc_id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        # no .distinct(): the pair-set groupBy below dedups (one
        # shuffle instead of two)
    )

    # one distinct pair set, tagged with which side(s) produced it
    pairs = (
        cands.select(
            "id_a", "id_b", F.lit(1).alias("in_cand"), F.lit(0).alias("in_reach")
        )
        .unionAll(
            reach.select(
                "id_a", "id_b", F.lit(0).alias("in_cand"), F.lit(1).alias("in_reach")
            )
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.max("in_cand").alias("in_cand"),
            F.max("in_reach").alias("in_reach"),
        )
    )

    shn = hashed.select("doc_id", F.col("shingles").alias("sh"))
    a = shn.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = shn.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    pj = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter * F.lit(1.0) / (F.size("sh_a") + F.size("sh_b") - inter)
    scored = pj.select(
        "in_cand",
        "in_reach",
        (jac >= _JACCARD_THRESHOLD).cast("long").alias("hit"),
    )
    return scored.agg(
        F.sum("in_cand").alias("n_cand"),
        F.sum(F.col("in_cand") * F.col("hit")).alias("n_tp"),
        F.sum(F.col("in_cand") * (1 - F.col("hit"))).alias("n_fp"),
        F.sum(F.col("in_reach") * F.col("hit")).alias("n_truth"),
        F.sum(
            F.col("in_reach") * F.col("hit") * (1 - F.col("in_cand"))
        ).alias("n_missed"),
    )
