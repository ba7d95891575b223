"""Feature-engineering / data-mixture operators (LLM-data family):

- ``doc_chunk_overlap`` — fixed-width overlapping character chunks (the
  RAG / long-context preprocessing split); pure generate+substring
  expressions, no Python.
- ``value_decile_bins`` — NTILE decile binning per event_type (feature
  discretization) with per-bin ranges.
- ``mixture_temperature_weights`` — temperature-based source sampling
  weights w ~ tokens^0.5 (the multinomial mixture-reweighting step from
  multilingual/data-mixture training recipes), exact via integer-
  quantized sqrt numerators.
- ``decayed_user_scores`` — half-life time-decayed per-user engagement
  score. Decay is 2^-floor(age_days/30): a power-of-two division of an
  integer-quantized value is EXACT in binary floating point, so the
  whole aggregation is an integer sum — hash-gateable, unlike a naive
  sum(value*exp(-l*age)) whose libm exp and fold order both vary.
- ``bpe_first_merges`` / ``hard_negative_band`` — tokenizer-training
  merge candidates; contrastive-training negatives from the gate-proven
  cosine ranking.
- ``oov_rate_by_vocab_k`` / ``seq_length_buckets`` /
  ``embedding_dim_zscore_params`` — training-planning reports: vocab
  sizing, max_seq_len selection, embedding whitening parameters.
- ``chunk_dup_rate`` / ``user_rfm_features`` — chunk-granularity
  boilerplate measurement; classic recency/frequency/monetary features
  with exact integer money.

Determinism: every aggregate here is an exact integer sum or a
passthrough double; shares are a single identical div shape over exact
integers (see registry module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fastetl_spark.io.readers import ensure_parallelism, read_table
from fastetl_spark.registry import query

# --- overlapping character chunks ----------------------------------------

_CHUNK_W = 200
_CHUNK_STRIDE = 150  # 50-char overlap

_CHUNK_SQL = f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(length(text), 1), {_CHUNK_STRIDE})) AS start
  FROM documents
)
SELECT doc_id,
       CAST((start - 1) / {_CHUNK_STRIDE} + 1 AS INT) AS chunk_idx,
       CAST(start AS INT) AS start,
       length(substring(text, start, {_CHUNK_W})) AS chunk_len,
       md5(substring(text, start, {_CHUNK_W})) AS chunk_md5
FROM starts
"""


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    width: int = _CHUNK_W,
    stride: int = _CHUNK_STRIDE,
) -> DataFrame:
    """Split `text_col` into overlapping `width`-char chunks at `stride`,
    carrying all other columns. Adds chunk_idx / start / chunk — a pure
    generator fan-out (no shuffle), safe at any scale. Input columns
    named like the added ones are rejected up front (carrying them
    through would be ambiguous or silently duplicated)."""
    other = [c for c in df.columns if c != text_col]
    clash = sorted({"chunk_idx", "start", "chunk"} & set(other))
    if clash:
        raise ValueError(
            f"chunk_text adds columns {clash} which already exist in the "
            "input — rename them before chunking"
        )
    starts = df.select(
        *other,
        F.col(text_col),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(text_col), F.lit(1)), F.lit(stride))
        ).alias("start"),
    )
    chunk = F.expr(f"substring({text_col}, start, {width})")
    return starts.select(
        *other,
        (((F.col("start") - 1) / stride).cast("int") + 1).alias("chunk_idx"),
        F.col("start").cast("int").alias("start"),
        chunk.alias("chunk"),
    )


@query("doc_chunk_overlap", _CHUNK_SQL)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping {_CHUNK_W}-char chunks at stride {_CHUNK_STRIDE}.
    generate_series + substring stay whole-stage-codegen'd; the fan-out
    is a generator, not a join, so chunking 100 TB is an embarrassingly
    parallel map with no shuffle at all."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return chunk_text(d.select("doc_id", "text")).select(
        "doc_id",
        "chunk_idx",
        "start",
        F.length("chunk").alias("chunk_len"),
        F.md5("chunk").alias("chunk_md5"),
    )


# --- decile binning ------------------------------------------------------

_NBINS = 10

_BINS_SQL = f"""
WITH b AS (
  SELECT event_type, value,
         NTILE({_NBINS}) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
  FROM events
)
SELECT event_type, bin, COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v
FROM b GROUP BY 1, 2
"""


@query("value_decile_bins", _BINS_SQL)
def value_decile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE({_NBINS}) feature discretization per event_type with
    per-bin ranges. The (value, event_id) order is total, so both
    engines' standard NTILE row distribution is identical; bin edges
    are parquet-passthrough doubles.

    Scale shape (r14): the NTILE window partitioned by the 5-value
    event_type dictionary (5 tasks sorting ~20 TB each at 100 TB — the
    r13 VERDICT finding) is replaced by exact ranks on
    ranks.grouped_row_ranks (cumulative counts partitioned by
    (event_type, bucket), cluster-wide parallelism) + NTILE's
    floor/remainder row distribution as pure integer arithmetic on
    (r, n): with q = n div B and rem = n mod B the first rem buckets
    take q+1 rows — bin = (r-1) div (q+1) + 1 while r <= (q+1)*rem,
    else rem + (r - (q+1)*rem - 1) div q + 1.  Both engines implement
    exactly this distribution (larger buckets first), so the rewrite
    is bit-identical — hash-gated at every SF."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    from fastetl_spark.operators.ranks import grouped_row_ranks

    ranked, _sup, _bounds, _totals = grouped_row_ranks(
        ev, "event_type", "value", "event_id"
    )
    b = ranked.withColumn(
        "bin",
        F.expr(
            f"CAST(CASE WHEN r <= (n DIV {_NBINS} + 1) * (n % {_NBINS})"
            f" THEN (r - 1) DIV (n DIV {_NBINS} + 1) + 1"
            f" ELSE n % {_NBINS}"
            f" + (r - (n DIV {_NBINS} + 1) * (n % {_NBINS}) - 1)"
            f" DIV (n DIV {_NBINS}) + 1 END AS INT)"
        ),
    )
    return (
        b.groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )


# --- temperature mixture weights -----------------------------------------

_MIX_SCALE = 1_000_000

_MIX_SQL = f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), num AS (
  SELECT source, n_docs, tokens,
         CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * {_MIX_SCALE}) AS BIGINT) AS w_num
  FROM per_source
)
SELECT source, n_docs, tokens, w_num,
       CAST(w_num AS DOUBLE) / CAST(SUM(w_num) OVER () AS DOUBLE) AS share
FROM num
"""


@query("mixture_temperature_weights", _MIX_SQL)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source sampling weights at temperature 0.5 (w ~ tokens^0.5,
    normalized): sqrt is IEEE-correctly-rounded in both engines, so the
    integer-quantized numerators and their sum are exact; the share is
    one identical division shape. The unpartitioned window runs over
    one row per *source* — already aggregated, never row-scale."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("tokens"),
    )
    num = per_source.withColumn(
        "w_num",
        F.floor(F.sqrt(F.col("tokens").cast("double")) * _MIX_SCALE).cast("long"),
    )
    return num.select(
        "source",
        "n_docs",
        "tokens",
        "w_num",
        (
            F.col("w_num").cast("double")
            / F.sum("w_num").over(Window.partitionBy()).cast("double")
        ).alias("share"),
    )


# --- half-life decayed engagement scores ---------------------------------

_HALF_LIFE_DAYS = 30
_DECAY_SCALE = 1_000_000
_MAX_SHIFT = 62

_DECAY_SQL = f"""
WITH anchor AS (
  SELECT MAX(CAST(ts AS DATE)) AS d0 FROM events
), c AS (
  SELECT user_id,
         LEAST(CAST(date_diff('day', CAST(ts AS DATE), d0) AS BIGINT)
                 // {_HALF_LIFE_DAYS}, {_MAX_SHIFT}) AS k,
         CAST(floor(value * {_DECAY_SCALE}) AS BIGINT) AS q
  FROM events, anchor
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(CAST(q AS DOUBLE) / power(2.0, k)) AS BIGINT)) AS BIGINT)
         AS decayed_score
FROM c GROUP BY user_id
"""


@query("decayed_user_scores", _DECAY_SQL)
def decayed_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement score with a {_HALF_LIFE_DAYS}-day half-life,
    anchored at the corpus max date. The decay 2^-k is applied as a
    power-of-two division of the integer-quantized value — exact in
    binary FP — then floored back to integers, so the per-user sum is
    an exact integer aggregate (order-independent), unlike exp()-decay
    folds. Anchor is a broadcast scalar subquery; one scan + one
    groupBy shuffle on user_id."""
    ev = read_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("d0"))
    k = F.least(
        (F.datediff(F.col("d0"), F.to_date("ts")).cast("long") / _HALF_LIFE_DAYS).cast(
            "long"
        ),
        F.lit(_MAX_SHIFT).cast("long"),
    )
    q = F.floor(F.col("value") * _DECAY_SCALE).cast("long")
    c = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.floor(q.cast("double") / F.pow(F.lit(2.0), k)).cast("long").alias("dq"),
    )
    return c.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("dq").cast("long").alias("decayed_score"),
    )


# --- BPE first-merge candidates ------------------------------------------

_BPE_TOP = 50

_BPE_SQL = f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), p AS (
  SELECT unnest(CASE WHEN length(word) >= 2
           THEN list_transform(generate_series(1, length(word) - 1),
                               i -> substring(word, i, 2))
           ELSE [] END) AS pair
  FROM w
), counts AS (
  SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
), ranked AS (
  SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rank FROM counts
)
SELECT pair, n, rank FROM ranked WHERE rank <= {_BPE_TOP}
"""


@query("bpe_first_merges", _BPE_SQL)
def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_BPE_TOP} adjacent character-pair counts across the corpus —
    the first merge-candidate table of BPE tokenizer training. Counting
    is a generator fan-out + one map-side-combinable groupBy; the global
    top-k is a single-reducer sort over the already-aggregated pair
    table (bounded by |alphabet|^2 rows, never corpus-scale)."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    words = d.select(F.explode(F.split("text", " ")).alias("word"))
    pairs_gen = F.when(
        F.length("word") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.expr("word").substr(i, F.lit(2)),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    counts = (
        words.select(F.explode(pairs_gen).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BPE_TOP)
        .select("pair", "n", "rank")
    )


# --- BPE merge LOOP (3 unrolled training iterations, gated) ----------------
#
# bpe_first_merges stops at the candidate table; this is the training
# loop itself — the kmeans_lloyd_exact pattern applied to the tokenizer:
# a fixed number of merges, each iteration = (count adjacent token
# pairs weighted by word frequency) -> (argmax with a deterministic
# n DESC, x, y tie-break) -> (apply the merge to every word), unrolled
# as generated CTEs in the oracle.
#
# Token sequences are carried as guard-wrapped strings: each token is
# \x1f<tok>\x1f and the sequence is their concatenation, so applying a
# merge (x, y) -> xy is ONE literal string replace of \x1fx\x1f\x1fy\x1f
# with \x1fxy\x1f — and because standard replace() scans left-to-right
# over NON-overlapping matches in both engines (verified identical),
# the application IS BPE's leftmost-greedy merge, including the "aaa"
# -> [aa, a] overlap case. The guards make false sub-token matches
# impossible. Like all string-valued BPE, two merge paths that produce
# the same surface string become indistinguishable afterwards (real
# tokenizers use ids); both engines share the simplification, and the
# argmax tie-break makes the whole loop deterministic.
#
# Scale shape: everything after the first groupBy runs on the WORD
# VOCABULARY (distinct words + frequencies), never the corpus — the
# classic BPE trainer's working set. Pair counting is a bounded
# generator fan-out + map-side-combinable sum; each argmax collects ONE
# row (the model, exactly as lloyd collects k*d centroid sums); merge
# application is a pure per-row expression. \x1f never occurs in the
# fixture corpus (ASCII text), matching real trainers' reserved-byte
# assumption.

# 5 unrolled merges (round 8; was 3): the oracle CTE chain stays
# manageable and the gate now covers two more genuinely-later merges —
# PERF.md #38 carries the depth evidence to 64
_BPE_LOOP_ITERS = 5
_BPE_LOOP_TOP = 30
_BPE_SEP = "\x1f"


def _bpe_chain_sql() -> str:
    """The shared WITH-chain: trained vocabulary v{N+1} (word, seq,
    freq) after _BPE_LOOP_ITERS unrolled merges — both BPE oracles
    (merge loop, corpus encode) build their tails on it."""
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    parts = [
        f"""v1 AS (
  SELECT word,
         regexp_replace(word, '(?s)(.)', {sep}||'\\1'||{sep}, 'g') AS seq,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0
  GROUP BY 1
)"""
    ]
    for t in range(1, _BPE_LOOP_ITERS + 1):
        parts.append(
            f"""tok{t} AS (
  SELECT freq, string_split(substring(seq, 2, length(seq) - 2), {sep2}) AS toks
  FROM v{t}
), pc{t} AS (
  SELECT toks[i] AS x, toks[i+1] AS y, CAST(SUM(freq) AS BIGINT) AS n
  FROM tok{t}, unnest(generate_series(1, len(toks) - 1)) AS g(i)
  GROUP BY 1, 2
), best{t} AS (
  SELECT x, y FROM pc{t} ORDER BY n DESC, x, y LIMIT 1
), v{t + 1} AS (
  SELECT v.word,
         replace(v.seq, {sep}||b.x||{sep}||{sep}||b.y||{sep},
                 {sep}||b.x||b.y||{sep}) AS seq,
         v.freq
  FROM v{t} v CROSS JOIN best{t} b
)"""
        )
    return ",\n".join(parts)


def _bpe_loop_sql() -> str:
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    last = _BPE_LOOP_ITERS + 1
    return (
        "WITH "
        + _bpe_chain_sql()
        + f""",
final_tok AS (
  SELECT unnest(string_split(substring(seq, 2, length(seq) - 2), {sep2}))
           AS token,
         freq
  FROM v{last}
), counts AS (
  SELECT token, CAST(SUM(freq) AS BIGINT) AS n FROM final_tok GROUP BY 1
)
SELECT token, n, rank FROM (
  SELECT token, n,
         CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
  FROM counts
) WHERE rank <= {_BPE_LOOP_TOP}
ORDER BY rank
"""
    )


def _bpe_train(
    docs: DataFrame, iterations: int, timings: list | None = None
) -> DataFrame:
    """Train `iterations` BPE merges; return the tokenized vocabulary
    (word, seq, freq) with seq the guard-wrapped token sequence after
    all merges — the reusable core behind the merge-loop gate and the
    corpus encoder.

    ``timings`` (optional, a caller-owned list) collects one dict per
    merge: {"iter", "seconds", "pair", "pair_count"} — the wall of each
    model step. Per-merge cost is VOCABULARY-sized (distinct words, not
    corpus rows), so the walls should stay flat as the merge count
    grows; PERF.md #38 records the 64-merge profile."""
    import time

    from fastetl_spark.checkpointing import materialize

    sep = _BPE_SEP
    vocab = materialize(
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            F.regexp_replace("word", r"(?s)(.)", f"{sep}$1{sep}").alias("seq"),
            "freq",
        )
    )
    for it in range(iterations):
        t0 = time.monotonic()
        toks = vocab.select(
            "freq",
            F.split(
                F.expr("substring(seq, 2, length(seq) - 2)"), sep + sep
            ).alias("toks"),
        )
        # guard: Spark sequence(1, 0) infers a NEGATIVE step and yields
        # [1, 0], so a single-token word would index past the array
        pair_gen = F.when(
            F.size("toks") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("x"),
                    F.element_at("toks", i + 1).alias("y"),
                ),
            ),
        ).otherwise(
            F.expr("CAST(array() AS ARRAY<STRUCT<x: STRING, y: STRING>>)")
        )
        pairs = toks.select("freq", F.explode(pair_gen).alias("p")).select(
            "freq", "p.x", "p.y"
        )
        best_rows = (
            pairs.groupBy("x", "y")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "x", "y")
            .limit(1)
            .collect()  # ONE row: the model step, as lloyd collects sums
        )
        if not best_rows:
            # every word is a single token: no pair left to merge.
            # NOTE the gated oracle cannot express this early stop (its
            # CROSS JOIN of an empty best would empty the vocabulary) —
            # the gate fixture always has pairs; this branch protects
            # the public API on degenerate corpora.
            break
        best = best_rows[0]
        # materialize per merge: keeps each pair-count job linear in
        # the iteration count instead of re-running t stacked replaces
        vocab = materialize(
            vocab.select(
                "word",
                F.replace(
                    "seq",
                    F.lit(f"{sep}{best['x']}{sep}{sep}{best['y']}{sep}"),
                    F.lit(f"{sep}{best['x']}{best['y']}{sep}"),
                ).alias("seq"),
                "freq",
            )
        )
        if timings is not None:
            timings.append(
                {
                    "iter": it + 1,
                    "seconds": time.monotonic() - t0,
                    "pair": f"{best['x']}+{best['y']}",
                    "pair_count": int(best["n"]),
                }
            )
    return vocab


def bpe_merge_loop_tokens(
    docs: DataFrame, iterations: int = _BPE_LOOP_ITERS, top: int = _BPE_LOOP_TOP
) -> DataFrame:
    """Run `iterations` BPE merges over the corpus vocabulary and return
    the top-`top` resulting token frequencies (token, n, rank) — the
    distribution gates every argmax AND every merge application, since
    any wrong pick or wrong replacement changes downstream counts."""
    sep = _BPE_SEP
    vocab = _bpe_train(docs, iterations)
    counts = (
        vocab.select(
            F.explode(
                F.split(F.expr("substring(seq, 2, length(seq) - 2)"), sep + sep)
            ).alias("token"),
            "freq",
        )
        .groupBy("token")
        .agg(F.sum("freq").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), "token")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top)
        .select("token", "n", "rank")
        .orderBy("rank")
    )


@query("bpe_merge_loop", _bpe_loop_sql())
def bpe_merge_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_BPE_LOOP_TOP} token frequencies after {_BPE_LOOP_ITERS}
    exact BPE merges over the corpus vocabulary — the tokenizer
    TRAINING loop under the hash gate (candidate counting alone is
    bpe_first_merges)."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return bpe_merge_loop_tokens(d)


def _bpe_encode_sql() -> str:
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    last = _BPE_LOOP_ITERS + 1
    return (
        "WITH "
        + _bpe_chain_sql()
        + f""",
wtok AS (
  SELECT word,
         CAST(len(string_split(substring(seq, 2, length(seq) - 2), {sep2}))
              AS BIGINT) AS n_tok
  FROM v{last}
), dw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM dw JOIN wtok USING (word)
GROUP BY doc_id
ORDER BY doc_id
"""
    )


def bpe_encode_counts(
    docs: DataFrame, iterations: int = _BPE_LOOP_ITERS
) -> DataFrame:
    """ENCODE the corpus with the trained merges: per-doc BPE token
    counts (doc_id, n_words, n_tokens). The apply side of the
    tokenizer: token counts per word come from the trained vocabulary
    (a vocabulary-sized frame), and encoding is ONE broadcast-friendly
    join of the corpus word stream against it — exactly how production
    tokenizer fertility/budget passes run, with the model as a lookup
    side, never re-deriving per document."""
    sep = _BPE_SEP
    vocab = _bpe_train(docs, iterations)
    wtok = vocab.select(
        "word",
        F.size(
            F.split(F.expr("substring(seq, 2, length(seq) - 2)"), sep + sep)
        )
        .cast("long")
        .alias("n_tok"),
    )
    dw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    return (
        dw.join(wtok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@query("bpe_encode_corpus", _bpe_encode_sql())
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts after encoding with the
    {_BPE_LOOP_ITERS}-merge trained BPE — train-then-APPLY under the
    hash gate (bpe_merge_loop gates training; this gates the encoder
    path a token-budget/packing pipeline consumes)."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return bpe_encode_counts(d)


# --- hard-negative mining band -------------------------------------------

_NEG_LO = 6
_NEG_HI = 15


def _neg_sql() -> str:
    from fastetl_spark.operators.similarity import QUERY_STRIDE

    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM c, q WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank
FROM ranked WHERE rank BETWEEN {_NEG_LO} AND {_NEG_HI}
"""


@query("hard_negative_band", _neg_sql())
def hard_negative_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    cosine neighbors ranked {_NEG_LO}-{_NEG_HI} — similar enough to be
    informative, far enough to be non-positives. Reuses the gate-proven
    brute-force ranking (cosine_topk); at scale the band comes from the
    ANN index search with k={_NEG_HI} instead."""
    from fastetl_spark.operators.similarity import QUERY_STRIDE, cosine_topk

    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    topk = cosine_topk(
        e, e.filter(F.col("vec_id") % QUERY_STRIDE == 0), "vec_id", "embedding", k=_NEG_HI
    )
    return topk.filter(F.col("rank") >= _NEG_LO).select("query_id", "neighbor_id", "rank")


# --- vocabulary sizing: OOV rate vs vocab cutoff -------------------------

_OOV_KS = (8, 16, 24)

_OOV_SQL = f"""
WITH tf AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
), counts AS (
  SELECT term, COUNT(*)::BIGINT AS cnt FROM tf GROUP BY term
), ranked AS (
  SELECT term, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rnk FROM counts
), ks AS (
  SELECT unnest([{', '.join(str(k) for k in _OOV_KS)}]) AS vocab_k
)
SELECT vocab_k,
       (SELECT CAST(SUM(cnt) AS BIGINT) FROM counts) AS total_tokens,
       CAST(COALESCE(SUM(CASE WHEN rnk > vocab_k THEN cnt END), 0) AS BIGINT)
         AS oov_tokens,
       CAST(COALESCE(SUM(CASE WHEN rnk > vocab_k THEN cnt END), 0) AS DOUBLE)
         / (SELECT SUM(cnt) FROM counts) AS oov_rate
FROM ks CROSS JOIN ranked
GROUP BY vocab_k
"""


@query("oov_rate_by_vocab_k", _OOV_SQL)
def oov_rate_by_vocab_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary sizing: for each candidate vocab size k
    (top-k terms by frequency), the fraction of corpus tokens that
    would fall out-of-vocabulary.  Exact integer token counts.

    The (cnt DESC, term ASC) row_number no longer runs through a
    global window — an OPEN vocabulary at web scale is corpus-sized,
    so rank decomposes through the distributed prefix sums of
    operators/ranks instead: rnk(term) = #terms with a higher count
    (a suffix sum over the tiny count-value support) + the term's
    ASC position within its count group (string-keyed cum partitioned
    by (cnt, byte-prefix bucket) — the cnt=1 long tail spreads over
    buckets instead of one task).  Tie-INVARIANT per-k masses come
    from vocab_oov_from_histogram (the gated histogram twin); this
    query keeps the per-term-exact rank convention of its oracle."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    from fastetl_spark.operators.ranks import (
        bucketed_cum_sum,
        materialize_with_bounds,
        range_bounds,
    )

    counts = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    counts, term_bounds = materialize_with_bounds(counts, "term")
    csup = counts.groupBy("cnt").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms")
    )
    csup = bucketed_cum_sum(
        csup,
        "cnt",
        "n_terms",
        bounds=range_bounds(csup, "cnt"),
        inclusive=True,
        out_col="cum_le",
    )
    tt = counts.agg(F.count(F.lit(1)).cast("long").alias("t_terms"))
    rk_in = bucketed_cum_sum(
        counts.withColumn("__one", F.lit(1).cast("long")),
        "term",
        "__one",
        bounds=term_bounds,
        partition_cols=["cnt"],
        inclusive=True,
        out_col="rk_in",
    )
    ranked = (
        rk_in.join(F.broadcast(csup.select("cnt", "cum_le")), "cnt")
        .crossJoin(F.broadcast(tt))
        .withColumn(
            "rnk",
            (F.col("t_terms") - F.col("cum_le") + F.col("rk_in")).cast(
                "long"
            ),
        )
    )
    ks = spark.range(0).sparkSession.createDataFrame(
        [(k,) for k in _OOV_KS], "vocab_k int"
    )
    joined = ks.crossJoin(ranked)
    return joined.groupBy("vocab_k").agg(
        F.sum("cnt").alias("total_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("rnk") > F.col("vocab_k"), F.col("cnt"))), F.lit(0)
        ).alias("oov_tokens"),
        (
            F.coalesce(
                F.sum(F.when(F.col("rnk") > F.col("vocab_k"), F.col("cnt"))), F.lit(0)
            ).cast("double")
            / F.sum("cnt").cast("double")
        ).alias("oov_rate"),
    )


def vocab_oov_from_histogram(
    counts: DataFrame, ks: tuple[int, ...] = _OOV_KS, max_buckets: int = 4096
) -> DataFrame:
    """OOV rates per candidate vocab size WITHOUT ranking the vocabulary
    (round-8 VERDICT ask #7): the per-k output is TIE-INVARIANT — every
    term at the top-k boundary shares the same count, so top-k token
    mass is T_above(C_k) + (k - A_above(C_k)) * C_k regardless of which
    boundary terms a rank sort would have admitted. That reduces the
    whole report to suffix sums over the FREQUENCY HISTOGRAM
    (cnt -> n_terms), never a per-term global sort.

    Input: (term, cnt). Scale shape: one keyed groupBy(cnt) for the
    histogram; suffix sums via the two-level prefix-sum pattern
    (sequence_packing_layout precedent) — per-bucket windows
    PARTITIONED by cnt-range bucket (keyed exchange, parallel) plus a
    <= max_buckets-row bucket-total collect (bounded, documented — the
    model step, like the kmeans/BPE argmax collects). No
    single-partition exchange anywhere; histogram size itself is
    bounded by sqrt(2 * total_tokens) for ANY corpus (distinct counts
    summing to T), so every post-histogram frame is vanishingly small
    next to the corpus."""
    from fastetl_spark.checkpointing import materialize

    spark = counts.sparkSession
    # materialize: three downstream actions (scalar stats, bucket-total
    # collect, the returned plan) must not each re-run the corpus-scale
    # term aggregation feeding `counts`
    hist = materialize(
        counts.groupBy("cnt").agg(
            F.count(F.lit(1)).alias("nt"),
            F.sum("cnt").alias("tok"),
        )
    )
    row = hist.agg(
        F.max("cnt").alias("mx"),
        F.sum("tok").alias("total"),
        F.sum("nt").alias("v"),
    ).first()
    if row is None or row["mx"] is None:
        return spark.createDataFrame(
            [(int(k), 0, 0, float("nan")) for k in ks],
            "vocab_k int, total_tokens long, oov_tokens long, oov_rate double",
        )
    total, nterms = int(row["total"]), int(row["v"])
    step = max(1, (int(row["mx"]) + max_buckets) // max_buckets)
    hb = hist.withColumn("bucket", F.expr(f"cnt div {step}"))
    # within-bucket strict-suffix sums, keyed by bucket (parallel)
    wdesc = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("cnt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = hb.select(
        "cnt",
        "nt",
        "tok",
        "bucket",
        F.coalesce(F.sum("nt").over(wdesc), F.lit(0)).alias("a_loc"),
        F.coalesce(F.sum("tok").over(wdesc), F.lit(0)).alias("t_loc"),
    )
    # bucket totals: <= max_buckets rows to the driver, suffix-cumulated
    btot = {
        int(r["bucket"]): (int(r["nt"]), int(r["tok"]))
        for r in hb.groupBy("bucket")
        .agg(F.sum("nt").alias("nt"), F.sum("tok").alias("tok"))
        .collect()
    }
    above: dict[int, tuple[int, int]] = {}
    acc_n = acc_t = 0
    for b in sorted(btot, reverse=True):
        above[b] = (acc_n, acc_t)
        acc_n += btot[b][0]
        acc_t += btot[b][1]
    base = spark.createDataFrame(
        [(b, n, t) for b, (n, t) in above.items()],
        "bucket long, a_base long, t_base long",
    )
    ranked = local.join(F.broadcast(base), "bucket").select(
        "cnt",
        "nt",
        (F.col("a_loc") + F.col("a_base")).alias("a_above"),
        (F.col("t_loc") + F.col("t_base")).alias("t_above"),
    )
    ks_df = spark.createDataFrame([(int(k),) for k in ks], "vocab_k int")
    # boundary row per k: the unique cnt with a_above < k <= a_above+nt;
    # k >= |vocab| keeps every term (left join, zero fallback)
    hit = (
        ks_df.join(
            F.broadcast(ranked),
            (F.col("a_above") < F.col("vocab_k"))
            & (F.col("vocab_k") <= F.col("a_above") + F.col("nt")),
            "left",
        )
        .select(
            "vocab_k",
            F.when(
                F.col("cnt").isNotNull(),
                F.lit(total)
                - (
                    F.col("t_above")
                    + (F.col("vocab_k") - F.col("a_above")) * F.col("cnt")
                ),
            )
            .otherwise(
                # no boundary row joined <=> vocab_k >= the vocabulary
                # size (nterms): everything is in-vocabulary
                F.lit(0)
            )
            .alias("oov_tokens"),
        )
    )
    del nterms  # only used for the invariant documented above
    return hit.select(
        "vocab_k",
        F.lit(total).cast("long").alias("total_tokens"),
        F.coalesce(F.col("oov_tokens"), F.lit(0)).cast("long").alias("oov_tokens"),
        (
            F.coalesce(F.col("oov_tokens"), F.lit(0)).cast("double")
            / F.lit(float(total))
        ).alias("oov_rate"),
    )


@query("oov_rate_histogram", _OOV_SQL)
def oov_rate_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`oov_rate_by_vocab_k` recomputed through the histogram/suffix-sum
    SCALE plan (vocab_oov_from_histogram — no per-term global rank, no
    single-partition exchange) under the SAME exact oracle: the top-k
    boundary is tie-invariant in token mass, so the sort-free form is
    bit-equal to the ranked twin, not an approximation."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return vocab_oov_from_histogram(counts)


# --- sequence-length planning buckets ------------------------------------

_LEN_BOUNDS = (2048, 1024, 512, 256, 128, 64, 32, 16)


def _len_bucket_expr(n):
    out = F.lit(0).cast("long")
    for b in reversed(_LEN_BOUNDS):  # ascending: later WHENs win via fold order
        out = F.when(n >= b, F.lit(b).cast("long")).otherwise(out)
    return out


_LEN_CASE = " ".join(
    f"WHEN n_tok >= {b} THEN {b}" for b in _LEN_BOUNDS
)

_LEN_SQL = f"""
WITH lens AS (
  SELECT len(string_split(text, ' '))::BIGINT AS n_tok FROM documents
), bucketed AS (
  SELECT n_tok, CASE {_LEN_CASE} ELSE 0 END AS bucket FROM lens
), agg AS (
  SELECT bucket, COUNT(*)::BIGINT AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens
  FROM bucketed GROUP BY bucket
)
SELECT bucket, n_docs, tokens,
       CAST(tokens AS DOUBLE) / (SELECT SUM(tokens) FROM agg) AS token_share,
       CAST(SUM(tokens) OVER (ORDER BY bucket) AS DOUBLE)
         / (SELECT SUM(tokens) FROM agg) AS cum_token_share
FROM agg
"""


@query("seq_length_buckets", _LEN_SQL)
def seq_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length planning: docs and token mass per power-of-two
    length bucket plus the cumulative token share — the table that
    picks max_seq_len (e.g. the smallest bucket boundary covering 99%
    of tokens). Explicit integer boundaries, no float log2 (whose
    last-ulp at exact powers is not guaranteed across libms)."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    lens = d.select(F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    agg = (
        lens.select("n_tok", _len_bucket_expr(F.col("n_tok")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("tokens"))
    )
    total = F.sum("tokens").over(Window.partitionBy())
    cum = F.sum("tokens").over(Window.orderBy("bucket"))
    return agg.select(
        "bucket",
        "n_docs",
        "tokens",
        (F.col("tokens").cast("double") / total.cast("double")).alias("token_share"),
        (cum.cast("double") / total.cast("double")).alias("cum_token_share"),
    )


# --- per-dimension embedding standardization params ----------------------

_ZS_SCALE = 1_000_000

_ZSCORE_SQL = f"""
WITH v AS (
  SELECT embedding::DOUBLE[] AS ev FROM embeddings
), q AS (
  SELECT s.dim AS dim, s.qv AS qv
  FROM (
    SELECT unnest(list_transform(
             generate_series(1, len(ev)),
             i -> struct_pack(dim := i - 1,
                              qv := CAST(floor(ev[i] * {_ZS_SCALE}) AS BIGINT))
           )) AS s
    FROM v
  )
), agg AS (
  SELECT dim, COUNT(*)::BIGINT AS n,
         CAST(SUM(qv) AS BIGINT) AS sum_q,
         CAST(SUM(qv*qv) AS BIGINT) AS sumsq_q
  FROM q GROUP BY dim
)
SELECT dim, n, sum_q, sumsq_q,
       CAST(sum_q AS DOUBLE) / n AS mean_q,
       sqrt(CAST(sumsq_q AS DOUBLE) / n
            - (CAST(sum_q AS DOUBLE) / n) * (CAST(sum_q AS DOUBLE) / n)) AS std_q
FROM agg
"""


@query("embedding_dim_zscore_params", _ZSCORE_SQL)
def embedding_dim_zscore_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization parameters (the whitening step
    before ANN/clustering): exact integer sums of quantized components,
    mean/std derived through ONE identical IEEE shape on both engines.
    One posexplode + one groupBy(dim) — |dims| result rows. The int64
    sumsq is safe to ~1e9 rows per dim at this quantization; larger
    corpora should aggregate per-partition partials into DECIMAL."""
    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    q = e.select(
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("dim", "x")
    ).select("dim", F.floor(F.col("x") * _ZS_SCALE).cast("long").alias("qv"))
    agg = q.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").alias("sum_q"),
        F.sum(F.col("qv") * F.col("qv")).alias("sumsq_q"),
    )
    mean = F.col("sum_q").cast("double") / F.col("n")
    return agg.select(
        "dim",
        "n",
        "sum_q",
        "sumsq_q",
        mean.alias("mean_q"),
        F.sqrt(F.col("sumsq_q").cast("double") / F.col("n") - mean * mean).alias("std_q"),
    )


# --- chunk-granularity duplication rate ----------------------------------

_CHUNK_DUP_SQL = f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(length(text), 1), {_CHUNK_STRIDE})) AS start
  FROM documents
), chunks AS (
  SELECT doc_id, md5(substring(text, start, {_CHUNK_W})) AS h FROM starts
), per_hash AS (
  SELECT h, COUNT(*)::BIGINT AS n_copies, COUNT(DISTINCT doc_id)::BIGINT AS n_docs
  FROM chunks GROUP BY h
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
       CAST(SUM(n_copies) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN n_docs > 1 THEN n_copies ELSE 0 END) AS BIGINT)
         AS cross_doc_copies,
       CAST(SUM(CASE WHEN n_docs > 1 THEN n_copies ELSE 0 END) AS DOUBLE)
         / SUM(n_copies) AS dup_rate
FROM per_hash
"""


@query("chunk_dup_rate", _CHUNK_DUP_SQL)
def chunk_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate measured at chunk granularity: the share of chunks
    whose content hash also appears in another document — the number a
    dedup plan is judged against before/after. Hash-groupBy over chunk
    md5s (map-side combinable), one aggregate row out."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    per_hash = (
        chunk_text(d.select("doc_id", "text"))
        .select("doc_id", F.md5("chunk").alias("h"))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    cross = F.sum(F.when(F.col("n_docs") > 1, F.col("n_copies")).otherwise(F.lit(0)))
    return per_hash.agg(
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum("n_copies").alias("n_chunks"),
        cross.alias("cross_doc_copies"),
        (cross.cast("double") / F.sum("n_copies").cast("double")).alias("dup_rate"),
    )


# --- RFM features ---------------------------------------------------------

_RFM_SQL = """
WITH anchor AS (
  SELECT MAX(CAST(ts AS DATE)) AS d0 FROM events
)
SELECT user_id,
       CAST(MIN(date_diff('day', CAST(ts AS DATE), d0)) AS BIGINT) AS recency_days,
       COUNT(*)::BIGINT AS frequency,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
FROM events, anchor
GROUP BY user_id
"""


@query("user_rfm_features", _RFM_SQL)
def user_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM features per user: days since last event (vs the
    corpus max date), event count, and money as exact integer cents
    (floor(value*100) — an order-independent integer sum, where a
    double SUM(value) would be fold-order-dependent). One scan, one
    groupBy(user_id) shuffle."""
    ev = read_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("d0"))
    return (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.min(F.datediff(F.col("d0"), F.to_date("ts"))).cast("long").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).cast("long").alias("monetary_cents"),
        )
    )


# --- leave-one-out target encoding -----------------------------------------

# The classic high-cardinality categorical encoder with the classic
# leakage fix: encode each row's category by the mean target of the
# OTHER rows in its category, (sum_cat - own) / (n_cat - 1).  Targets
# quantize to integer cents first, so the per-category sums are exact
# BIGINTs under any partitioning and the encode is one pinned division
# — no double-summation order hazard, no fold.  One groupBy + one
# broadcast join back; the category table is k rows.

_LOO_SQL = """
WITH base AS (
  SELECT event_id, event_type,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), cat AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cat,
         CAST(SUM(cents) AS BIGINT) AS sum_cat
  FROM base GROUP BY 1
)
SELECT b.event_id, b.event_type, b.cents,
       CASE WHEN c.n_cat > 1
            THEN CAST(c.sum_cat - b.cents AS DOUBLE)
                 / CAST(c.n_cat - 1 AS DOUBLE)
       END AS loo_mean_cents
FROM base b JOIN cat c USING (event_type)
"""


@query("target_encode_loo", _LOO_SQL)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against the value
    column (integer cents): each event gets the mean target of its
    category EXCLUDING itself — the leakage-safe categorical feature
    every tabular training pipeline derives.  Singleton categories
    encode NULL (no honest LOO value exists)."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events"))
    base = ev.filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).select(
        "event_id", "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cat = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_cat"),
        F.sum("cents").cast("long").alias("sum_cat"),
    )
    return base.join(F.broadcast(cat), "event_type").select(
        "event_id", "event_type", "cents",
        F.when(
            F.col("n_cat") > 1,
            (F.col("sum_cat") - F.col("cents")).cast("double")
            / (F.col("n_cat") - 1).cast("double"),
        ).alias("loo_mean_cents"),
    )
