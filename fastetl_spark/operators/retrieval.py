"""Retrieval / language-model scoring operators over the corpus:

- BM25 ranking: the standard lexical retrieval score (Robertson/
  Sparck Jones probabilistic model); complements the tf-cosine ranking
  in sparse_cosine_shingles with the dl-normalized saturation form
  every search stack actually ships.
- Stupid-backoff trigram scoring: the web-scale LM score (Brants et
  al. 2007) used for corpus quality filtering (CCNet-style "how
  LM-like is this doc" ranking) — count ratios with a fixed backoff
  penalty, no smoothing to tune, embarrassingly distributable.

No counterpart in the reference (pandas/DBAPI ETL); these extend
SURVEY §2's LLM-data north star.

Exactness strategy (the registry's determinism rule): every count is
an exact integer; each float score is produced by ONE pinned sequence
of IEEE ops over exactly-representable inputs, identical in Spark and
DuckDB. BM25's k1/b are chosen dyadic (1.25, 0.75) so the folded
constants (2.25, 0.3125, 0.9375) are exact; stupid-backoff scores are
floored to 2^-30 fixed point BEFORE summation so per-doc totals are
exact BIGINT sums (accumulation-order independent).

Cross-libm caveat: the BM25 idf uses natural log, and java.lang.Math.log
(Spark) vs DuckDB's libm ln are each allowed ~1 ulp and not guaranteed
bit-identical across platforms/JDKs — the gate passes on this
environment but can flake elsewhere (same exposure as the
unigram_surprisal fold). If a platform mismatch ever surfaces, register
an exact-config twin (rational idf approximation or fixed-point ln
table) per the established twin pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fastetl_spark.io.readers import ensure_parallelism, read_table
from fastetl_spark.registry import query

# --- BM25 ----------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window", "filter")
_BM25_K1_PLUS1 = 2.25  # k1 + 1        (k1 = 1.25, exactly representable)
_BM25_K1_1MB = 0.3125  # k1 * (1 - b)  (b = 0.75)
_BM25_K1_B = 0.9375  # k1 * b
_BM25_TOPK = 20

_BM25_TERM_SQL = "\n".join(
    f"         len(list_filter(tokens, x -> x = '{t}')) AS tf_{t}," for t in _BM25_TERMS
)
_BM25_DF_SQL = ",\n".join(
    f"         SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS
)
_BM25_SCORE_SQL = "\n".join(
    f"""       ln((CAST(n_docs - df_{t} AS DOUBLE) + 0.5) / (CAST(df_{t} AS DOUBLE) + 0.5))
         * (CAST(tf_{t} AS DOUBLE) * {_BM25_K1_PLUS1})
         / (CAST(tf_{t} AS DOUBLE)
            + ({_BM25_K1_1MB} + {_BM25_K1_B} * (CAST(dl AS DOUBLE) / avgdl))) AS s_{t},"""
    for t in _BM25_TERMS
)
_BM25_SUM_SQL = " + ".join(f"s_{t}" for t in _BM25_TERMS)

_BM25_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), base AS (
  SELECT doc_id,
{_BM25_TERM_SQL}
         len(tokens) AS dl
  FROM tok
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
{_BM25_DF_SQL}
  FROM base
), scored AS (
  SELECT doc_id, dl,
{_BM25_SCORE_SQL}
         0 AS _z
  FROM base CROSS JOIN stats
), totals AS (
  SELECT doc_id, dl, {_BM25_SUM_SQL} AS score FROM scored
)
SELECT doc_id, dl, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM totals
ORDER BY score DESC, doc_id
LIMIT {_BM25_TOPK}
"""


def _bm25_term_score(t: str) -> Column:
    """One term's BM25 contribution — the IEEE op sequence mirrors the
    oracle SQL token for token."""
    idf = F.log(
        ((F.col("n_docs") - F.col(f"df_{t}")).cast("double") + F.lit(0.5))
        / (F.col(f"df_{t}").cast("double") + F.lit(0.5))
    )
    tf = F.col(f"tf_{t}").cast("double")
    norm = F.lit(_BM25_K1_1MB) + F.lit(_BM25_K1_B) * (
        F.col("dl").cast("double") / F.col("avgdl")
    )
    return idf * (tf * F.lit(_BM25_K1_PLUS1)) / (tf + norm)


def bm25_topk(
    d: DataFrame, terms: tuple[str, ...] = _BM25_TERMS, k: int = _BM25_TOPK
) -> DataFrame:
    """Top-k documents by BM25 over a fixed term set.

    Scale shape: one scan builds per-doc (tf..., dl); corpus stats are a
    single broadcast scalar row; scoring is a pure per-row expression;
    the global top-k is TakeOrdered (no full sort materialization).
    The per-term score sum is evaluated left-to-right in a pinned order
    (term list order), so float totals are bit-deterministic."""
    tok = d.select("doc_id", F.split("text", " ").alias("tokens"))

    def tf(t: str) -> Column:
        # factory, not a default-arg lambda: a two-parameter lambda would
        # be read by F.filter as an (element, index) function
        return F.size(F.filter("tokens", lambda x: x == F.lit(t))).alias(f"tf_{t}")

    base = tok.select(
        "doc_id",
        *[tf(t) for t in terms],
        F.size("tokens").alias("dl"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in terms
        ],
    )
    scored = base.crossJoin(F.broadcast(stats)).select(
        "doc_id", "dl", *[_bm25_term_score(t).alias(f"s_{t}") for t in terms]
    )
    total = scored.select(
        "doc_id",
        "dl",
        sum((F.col(f"s_{t}") for t in terms[1:]), F.col(f"s_{terms[0]}")).alias("score"),
    )
    top = total.orderBy(F.desc("score"), "doc_id").limit(k)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@query("bm25_topk_docs", _BM25_SQL)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_BM25_TOPK} docs by BM25 (k1=1.25, b=0.75) for the fixed
    query terms {_BM25_TERMS} — idf * saturated-tf with document-length
    normalization, all constants dyadic so both engines fold them
    exactly."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return bm25_topk(d)


# --- BM25 over arbitrary query sets (inverted-index join) -----------------
#
# The fixed-term bm25_topk above expands each term into a generated
# column — a scoring demo that is O(#terms) in plan WIDTH and cannot take
# a query workload. The production shape is an inverted index:
#   posting (doc_id, term, tf, dl)  — ONE explode+groupBy scan
#   dft     (term, df)              — groupBy over posting
#   queries (query_id, term)        — exploded query table (broadcast)
# scored = queries |><| posting |><| dft on term, per-row BM25 term score,
# then SUM per (query_id, doc_id) and top-k per query. Terms absent from
# a doc contribute exactly 0 (they simply don't join), matching the
# formula's tf=0 term.
#
# Exactness: a groupBy SUM over doubles is accumulation-order dependent,
# so per-term scores are floored to 2^-30 fixed point BEFORE the sum
# (the stupid-backoff pattern) — totals are exact BIGINT sums and the
# per-query ranking orders by an integer, no float tie risk.

_BM25_QK = 10  # top docs kept per query
_QJ_FP = 1_073_741_824.0  # 2^30 fixed-point scale (exact power of two)
_BM25_QUERY_SET: tuple[tuple[int, tuple[str, ...]], ...] = (
    (1, ("spark", "join")),
    (2, ("window", "filter", "spark")),
    (3, ("join", "filter")),
    (4, ("spark", "zz_unseen_term")),  # df=0 term: drops out of the join
)

_BM25_Q_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in _BM25_QUERY_SET for t in terms
)

_BM25_QJ_SQL = f"""
WITH q(query_id, term) AS (VALUES {_BM25_Q_VALUES}),
tok AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), posting AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM tok)
  GROUP BY 1, 2, 3
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(tokens)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM tok
), dft AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM posting GROUP BY 1
), scored AS (
  SELECT q.query_id, p.doc_id,
         CAST(floor(
           ln((CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(p.tf AS DOUBLE) * {_BM25_K1_PLUS1})
           / (CAST(p.tf AS DOUBLE)
              + ({_BM25_K1_1MB} + {_BM25_K1_B} * (CAST(p.dl AS DOUBLE) / s.avgdl)))
           * {_QJ_FP}) AS BIGINT) AS s_fp
  FROM q
  JOIN posting p USING (term)
  JOIN dft d USING (term)
  CROSS JOIN stats s
), totals AS (
  SELECT query_id, doc_id,
         CAST(SUM(s_fp) AS BIGINT) AS score_fp,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM scored GROUP BY 1, 2
)
SELECT query_id, doc_id, score_fp, n_terms_hit,
       CAST(score_fp AS DOUBLE) / {_QJ_FP} AS score,
       rank
FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score_fp DESC, doc_id)
         AS BIGINT) AS rank
  FROM totals
) WHERE rank <= {_BM25_QK}
ORDER BY query_id, rank
"""


def doc_posting(docs: DataFrame) -> DataFrame:
    """The inverted-index rows of a (doc_id, text) frame: (doc_id, dl,
    term, tf) — one explode + groupBy scan. This is also the UNIT an
    incremental index maintains: a new document contributes exactly its
    own posting rows, independent of the rest of the corpus, so a
    streaming ingest appends per-batch postings with no read-modify-
    write (gated by streaming_posting_index_state)."""
    tok = docs.select("doc_id", F.split("text", " ").alias("tokens"))
    return (
        tok.select(
            "doc_id",
            F.size("tokens").alias("dl"),
            F.explode("tokens").alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _zipf_terms_expr(tag: str, vocab: int, n_terms_expr: str) -> str:
    """The ONE Zipf token sampler both generators share: per position j,
    u ~ U(0,1) from a 60-bit md5 slice of (tag, row id, j), rank =
    floor((V+1)^u) in [1, V] — the classic log-uniform inverse, P(r) =
    ln((r+1)/r)/ln(V+1) ~ 1/(r ln(V+1)), i.e. Zipf s=1. Returns a SQL
    transform() producing the token array; corpus and queries MUST draw
    from this same expression or the head/tail premise of the max_df
    evidence silently breaks."""
    import math

    ln_v1 = math.log(vocab + 1)
    u = (
        f"conv(substring(md5(concat('{tag}', ':', id, ':', j)), 1, 15),"
        " 16, 10)"
    )
    rank = (
        f"cast(exp(cast({u} as double) / {2 ** 60}.0"
        f" * {ln_v1!r}) as bigint)"
    )
    return (
        f"transform(sequence(1, {n_terms_expr}),"
        f" j -> concat('t', least({rank}, {vocab})))"
    )


def zipf_corpus(
    spark: SparkSession,
    n_docs: int,
    doc_len: int,
    vocab: int,
    tag: str = "z",
) -> DataFrame:
    """Deterministic Zipf-distributed synthetic corpus: (doc_id, text)
    with ``doc_len`` tokens per doc drawn from a ``vocab``-term
    reciprocal (Zipf s=1) distribution — the document-frequency shape
    real text has (a few stopword-grade head terms, a long rare tail),
    which the TPC-H-ish documents fixture lacks (its 31-term vocabulary
    is ALL head — PERF.md #39). Pure JVM expressions (md5 + conv + exp
    per token, one transform per doc — see _zipf_terms_expr) —
    generation itself scales like any projection."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.expr(_zipf_terms_expr(tag, vocab, str(doc_len))), " "
        ).alias("text"),
    )


def zipf_queries(
    spark: SparkSession,
    n_queries: int,
    n_terms: int,
    vocab: int,
    tag: str = "q",
) -> DataFrame:
    """Query workload drawn from the SAME reciprocal distribution as
    zipf_corpus (query logs share the corpus's head/tail shape; the
    shared _zipf_terms_expr guarantees it): (query_id, terms
    array<string>)."""
    return spark.range(n_queries).select(
        F.col("id").alias("query_id"),
        F.expr(_zipf_terms_expr(tag, vocab, str(n_terms))).alias("terms"),
    )


def zipf_maxdf_evidence(
    spark: SparkSession,
    n_docs: int,
    vocab: int,
    doc_len: int = 40,
    n_queries: int = 10_000,
    q_terms: int = 3,
    cap: float = 0.01,
    reps: int = 2,
    k: int = 10,
) -> dict:
    """The max_df evidence harness behind the bench guard and PERF.md
    #41 (one implementation — the release gate and the recorded
    evidence can never disagree about the same claim): build
    the Zipf corpus + workload, time the capped and uncapped runs
    (best of ``reps``), count scored pairs (k=inf row counts), and
    bit-compare every query containing no capped term. Returns
    {uncapped_sec, capped_sec, uncapped_pairs, capped_pairs, n_head,
    n_tail_queries, tail_rows, tail_bit_equal, ok}."""
    import time as _time

    posting = doc_posting(
        zipf_corpus(spark, n_docs, doc_len, vocab)
    ).localCheckpoint()
    queries = zipf_queries(spark, n_queries, q_terms, vocab).localCheckpoint()
    walls: dict[str, float] = {}
    pairs: dict[str, int] = {}
    for tag, mdf in (("uncapped", None), ("capped", cap)):
        best = float("inf")
        for _ in range(max(1, reps)):
            t0 = _time.perf_counter()
            bm25_from_posting(
                posting, queries, k=k, broadcast_queries=False, max_df=mdf
            ).write.format("noop").mode("overwrite").save()
            best = min(best, _time.perf_counter() - t0)
        walls[tag] = round(best, 3)
        pairs[tag] = bm25_from_posting(
            posting, queries, k=10**9, broadcast_queries=False, max_df=mdf
        ).count()
    # head terms EXACTLY as the operator classifies them (df > the
    # int-truncated cap), so the tail set can never straddle the
    # operator's own boundary
    head = [
        r["term"]
        for r in posting.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max(1, int(cap * n_docs)))
        .collect()
    ]
    qt = queries.select("query_id", F.explode("terms").alias("term"))
    tail_q = queries.join(
        qt.filter(F.col("term").isin(head)).select("query_id").distinct(),
        "query_id",
        "left_anti",
    ).localCheckpoint()
    t_rows = sorted(map(tuple, bm25_from_posting(
        posting, tail_q, k=k, broadcast_queries=False).collect()))
    c_rows = sorted(map(tuple, bm25_from_posting(
        posting, tail_q, k=k, broadcast_queries=False,
        max_df=cap).collect()))
    bit_equal = t_rows == c_rows and len(t_rows) > 0
    # correctness (tail bit-equality — a violation is ALWAYS a bug) and
    # prune strength (>5x pairs — a property of the chosen
    # n_docs/vocab/cap combo) are SEPARATE claims: other combos can
    # legitimately prune less than 5x, and that must not read as a
    # correctness failure. The bench guard runs a pinned combo where
    # both are expected, so its `ok` stays the conjunction.
    ok_prune = pairs["capped"] * 5 < pairs["uncapped"]
    return {
        "uncapped_sec": walls["uncapped"],
        "capped_sec": walls["capped"],
        "uncapped_pairs": pairs["uncapped"],
        "capped_pairs": pairs["capped"],
        "n_head": len(head),
        "n_tail_queries": tail_q.count(),
        "tail_rows": len(t_rows),
        "tail_bit_equal": bit_equal,
        "ok_correctness": bit_equal,
        "ok_prune": ok_prune,
        "ok": ok_prune and bit_equal,
    }


def bm25_from_posting(
    posting: DataFrame,
    queries: DataFrame,
    k: int = _BM25_QK,
    assume_unique: bool = True,
    broadcast_queries: bool = True,
    max_df: float | None = None,
) -> DataFrame:
    """BM25 top-k per query evaluated over a PRE-BUILT posting frame
    (doc_id, dl, term, tf) — corpus statistics (n_docs, avgdl, df) are
    re-derived from the index itself, so a maintained index scores
    identically to a from-scratch build.

    ``max_df`` (fraction of n_docs, e.g. 0.3) is the candidate-volume
    throttle for machine-sized workloads: query terms whose df exceeds
    the cap are EXCLUDED from scoring. Candidate pairs are
    sum(df(term)) over query terms, so one stopword-grade term drags in
    the whole corpus while contributing the formula's SMALLEST (at
    df > n/2, negative) idf weight — the standard stopword-pruning
    approximation; PERF.md #39 measures it (116M -> 8.3M pairs at 0.3
    on the 10k-query workload). Stats (n_docs, avgdl, df) are computed
    BEFORE the cap, so retained terms score identically to the exact
    form; None (default) scores every term exactly.

    UNIQUENESS CONTRACT (``assume_unique=True``, the default): posting
    must hold at most one row per (doc_id, term) and a single dl per
    doc_id — what ``doc_posting`` and the marker-deduped incremental
    appends produce. An index where a document was RE-ingested in a
    later batch violates it (df, n_docs and tf all double-count, no
    error); pass ``assume_unique=False`` to consolidate first — one
    extra (doc_id, term)-keyed shuffle taking MAX(tf) and MAX(dl) per
    key. MAX, not SUM: for the redelivery/re-ingestion case the
    duplicate rows carry the SAME tf, so max is the true count where
    sum would double it; for a genuinely UPDATED document neither is
    recoverable without version metadata (max is then an upper bound —
    rebuild the doc's postings if exact re-scoring of edits matters)."""
    if not assume_unique:
        posting = posting.groupBy("doc_id", "term").agg(
            F.max("tf").alias("tf"), F.max("dl").alias("dl")
        )
        dl_fix = posting.groupBy("doc_id").agg(F.max("dl").alias("dl"))
        posting = posting.drop("dl").join(dl_fix, "doc_id")
    docs_dl = posting.select("doc_id", "dl").distinct()
    stats = docs_dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    dft = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        # df cap AFTER stats: retained terms keep their exact weights;
        # the join below then never materializes a capped term's
        # corpus-sized posting slice
        n_docs_v = docs_dl.count()
        # max(1, ...): int() truncation on a small corpus would floor
        # the cap to 0 and silently prune EVERY term
        dft = dft.filter(F.col("df") <= max(1, int(max_df * n_docs_v)))
    qt = queries.select("query_id", F.explode("terms").alias("term"))
    idf = F.log(
        ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    norm = F.lit(_BM25_K1_1MB) + F.lit(_BM25_K1_B) * (
        F.col("dl").cast("double") / F.col("avgdl")
    )
    s_fp = F.floor(
        idf * (tf * F.lit(_BM25_K1_PLUS1)) / (tf + norm) * F.lit(_QJ_FP)
    ).cast("long")
    # dft joins FIRST: it is term-cardinality (tiny vs posting), its
    # output is still |qt| rows, and under max_df the inner join IS the
    # prune — a capped term never touches its corpus-sized posting
    # slice. The broadcast hint goes on the qt+dft RESULT, not on qt:
    # a hint on qt alone is consumed by the first join and the
    # corpus-sized posting join would be left to size estimates.
    if broadcast_queries:
        # hint BOTH levels: qt for the dft join, and the joined result
        # for the corpus-sized posting join (a hint on qt alone is
        # consumed by the first join and posting would fall back to a
        # size-estimated sort-merge join)
        qtd = F.broadcast(F.broadcast(qt).join(dft, "term"))
    else:
        qtd = qt.join(dft, "term")
    scored = (
        qtd
        .join(posting, "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", s_fp.alias("s_fp"))
    )
    totals = scored.groupBy("query_id", "doc_id").agg(
        F.sum("s_fp").alias("score_fp"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score_fp"), "doc_id")
    return (
        totals.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "score_fp",
            "n_terms_hit",
            (F.col("score_fp").cast("double") / F.lit(_QJ_FP)).alias("score"),
            "rank",
        )
    )


def bm25_query_scores(
    docs: DataFrame,
    queries: DataFrame,
    k: int = _BM25_QK,
    broadcast_queries: bool = True,
) -> DataFrame:
    """BM25 top-k docs per query over arbitrary (query_id, terms
    array<string>) query sets via an inverted-index join.

    Scale shape: the posting list (doc_id, dl, term, tf) is built by ONE
    explode+groupBy scan of the corpus and is the only corpus-sized
    shuffle (keyed by (doc_id, term) then term for df — exactly the
    shuffles an inverted index IS). The query table is broadcast (query
    workloads are human-sized; remove the hint for machine-generated
    millions and AQE picks the join side). Candidate rows are only
    (query term x matching doc) pairs — never |queries| x |corpus|. The
    per-(query, doc) sum is fixed-point BIGINT (order-independent), and
    the final top-k runs per query partition, parallel across queries.
    ``broadcast_queries=False`` drops the hint for machine-generated
    workloads (10k+ queries): every join stays a keyed equi-join on
    `term` — a shuffle join, never a nested loop — and AQE picks the
    build side (PERF.md #39 carries the 10k-query evidence).

    Plan-width is O(1) in #terms — contrast bm25_topk's per-term
    generated columns."""
    return bm25_from_posting(
        doc_posting(docs), queries, k=k, broadcast_queries=broadcast_queries
    )


@query("bm25_query_join", _BM25_QJ_SQL)
def bm25_query_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over a 4-query workload (one with a df=0 term) through the
    inverted-index join — the arbitrary-query-set retrieval shape the
    fixed-term bm25_topk_docs cannot express. Fixed-point per-term
    scores make the per-(query, doc) totals exact integer sums."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    qrows = [(qid, list(terms)) for qid, terms in _BM25_QUERY_SET]
    queries = spark.createDataFrame(
        qrows, "query_id int, terms array<string>"
    )
    return bm25_query_scores(d, queries)


# --- reciprocal-rank-fusion hybrid retrieval (BM25 + dense) ---------------
#
# The standard hybrid-search combiner (Cormack/Clarke/Buettcher, SIGIR
# 2009): fuse the lexical (BM25) and dense (cosine) rankings of the
# same query set with RRF(d) = sum over systems of 1/(K + rank_s(d)).
# The fusion consumes only the systems' INTEGER ranks — both already
# hash-gated (`bm25_query_join`, `embedding_cosine_topk`) — so the
# fused score is a small rational of exact integers evaluated through
# one fixed two-term IEEE shape; no ln/sqrt enters the emitted values.
# Scale shape: the per-system top-k frames are query-keyed and tiny
# relative to the corpus; fusion is one full-outer keyed join + one
# per-query window over <= 2k rows per query.

_RRF_K = 60  # the paper's canonical constant


def rrf_fuse(a: DataFrame, b: DataFrame, k: int = _RRF_K) -> DataFrame:
    """Reciprocal-rank fusion of two (query_id, doc_id, rank) rankings:
    (query_id, doc_id, in_a, in_b, rrf_score, fused_rank). A doc absent
    from one system contributes 0 for it (the RRF convention); ties
    break by doc_id — and one-sided vs two-sided scores cannot collide
    for ranks <= K/6 (1/(K+r) < 2/(K+r') ranges are disjoint), so the
    fused order is deterministic."""
    ar = a.select("query_id", "doc_id", F.col("rank").alias("__ra"))
    br = b.select("query_id", "doc_id", F.col("rank").alias("__rb"))
    f = ar.join(br, ["query_id", "doc_id"], "full_outer")
    term = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(k) + F.col(c)).cast("double"), F.lit(0.0)
    )
    scored = f.select(
        "query_id",
        "doc_id",
        F.col("__ra").isNotNull().alias("in_a"),
        F.col("__rb").isNotNull().alias("in_b"),
        (term("__ra") + term("__rb")).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), "doc_id"
    )
    return scored.withColumn(
        "fused_rank", F.row_number().over(w).cast("long")
    )


def _rrf_sql() -> str:
    # probe ids derive from the SAME query set as the Spark side, so
    # adding/renumbering a workload query cannot desynchronize the
    # oracle's dense half from the BM25 VALUES list
    probe_ids = ", ".join(str(qid) for qid, _ in _BM25_QUERY_SET)
    return f"""
WITH q(query_id, term) AS (VALUES {_BM25_Q_VALUES}),
tok AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), posting AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM tok)
  GROUP BY 1, 2, 3
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(tokens)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM tok
), dft AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM posting GROUP BY 1
), bscored AS (
  SELECT q.query_id, p.doc_id,
         CAST(floor(
           ln((CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(p.tf AS DOUBLE) * {_BM25_K1_PLUS1})
           / (CAST(p.tf AS DOUBLE)
              + ({_BM25_K1_1MB} + {_BM25_K1_B} * (CAST(p.dl AS DOUBLE) / s.avgdl)))
           * {_QJ_FP}) AS BIGINT) AS s_fp
  FROM q
  JOIN posting p USING (term)
  JOIN dft d USING (term)
  CROSS JOIN stats s
), btotals AS (
  SELECT query_id, doc_id, CAST(SUM(s_fp) AS BIGINT) AS score_fp
  FROM bscored GROUP BY 1, 2
), bm25 AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id, CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY score_fp DESC, doc_id)
           AS BIGINT) AS rank
    FROM btotals
  ) WHERE rank <= {_BM25_QK}
), vq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN ({probe_ids})
), vc AS (
  SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cv FROM embeddings
), vscored AS (
  SELECT query_id, doc_id,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
           AS sim
  FROM vc, vq WHERE doc_id <> query_id
), dense AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id, CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY sim DESC, doc_id)
           AS BIGINT) AS rank
    FROM vscored
  ) WHERE rank <= {_BM25_QK}
), fused AS (
  SELECT query_id, doc_id,
         b.rank IS NOT NULL AS in_a,
         d.rank IS NOT NULL AS in_b,
         COALESCE(1.0 / CAST({_RRF_K} + b.rank AS DOUBLE), 0.0)
           + COALESCE(1.0 / CAST({_RRF_K} + d.rank AS DOUBLE), 0.0)
           AS rrf_score
  FROM bm25 b FULL JOIN dense d USING (query_id, doc_id)
)
SELECT query_id, doc_id, in_a, in_b, rrf_score,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY rrf_score DESC, doc_id)
       AS BIGINT) AS fused_rank
FROM fused
ORDER BY query_id, fused_rank
"""


@query("rrf_hybrid_retrieval", _rrf_sql())
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search over the shared 4-query workload: BM25 top-10 from
    the inverted-index join (lexical) fused with cosine top-10 over the
    query ids' embeddings (dense) by reciprocal-rank fusion — the
    RAG-stack combiner, gated end-to-end. Only integer ranks cross the
    fusion boundary, so the fused scores/ranks are exact rationals both
    engines evaluate identically."""
    from fastetl_spark.operators.similarity import cosine_topk

    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    qrows = [(qid, list(terms)) for qid, terms in _BM25_QUERY_SET]
    queries = spark.createDataFrame(
        qrows, "query_id int, terms array<string>"
    )
    bm25 = bm25_query_scores(d, queries).select(
        F.col("query_id").cast("long").alias("query_id"), "doc_id", "rank"
    )
    emb = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    probes = emb.filter(F.col("vec_id").isin([q for q, _ in _BM25_QUERY_SET]))
    dense = cosine_topk(emb, probes, "vec_id", "embedding", k=_BM25_QK).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("rank"),
    )
    return rrf_fuse(bm25, dense).orderBy("query_id", "fused_rank")


# --- stupid-backoff trigram scoring --------------------------------------

_SB_ALPHA = 0.4  # canonical backoff penalty (Brants et al.)
_SB_FP = 1_073_741_824.0  # 2^30 fixed-point scale (exact power of two)

# Per trigram position (w1 w2 w3):
#   S = c3/c2ctx                 if the trigram was seen
#     = a * (c23/c1w2)           else if the (w2 w3) bigram was seen
#     = a * (a * (c1w3/n_tok))   otherwise (unigram floor; c1w3 >= 1
#                                since w3 itself comes from the corpus)
# floor(S * 2^30) BEFORE the per-doc sum => exact integer accumulation.
_SB_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), pos AS (
  SELECT doc_id, tokens[i] AS w1, tokens[i+1] AS w2, tokens[i+2] AS w3
  FROM tok, unnest(generate_series(1, len(tokens) - 2)) AS g(i)
  WHERE len(tokens) >= 3
), uni AS (
  SELECT w1 AS w, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(tokens) AS w1 FROM tok) GROUP BY 1
), n_tok AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni
), big AS (
  SELECT w1, w2, COUNT(*) AS c FROM (
    SELECT tokens[i] AS w1, tokens[i+1] AS w2
    FROM tok, unnest(generate_series(1, len(tokens) - 1)) AS g(i)
    WHERE len(tokens) >= 2) GROUP BY 1, 2
), tri AS (
  SELECT w1, w2, w3, COUNT(*) AS c FROM pos GROUP BY 1, 2, 3
), scored AS (
  SELECT p.doc_id,
         t.c AS c3, b1.c AS c2ctx, b2.c AS c23, u2.c AS c1w2, u3.c AS c1w3,
         CAST(floor(
           CASE
             WHEN t.c IS NOT NULL THEN
               (CAST(t.c AS DOUBLE) / CAST(b1.c AS DOUBLE)) * {_SB_FP}
             WHEN b2.c IS NOT NULL THEN
               ({_SB_ALPHA} * (CAST(b2.c AS DOUBLE) / CAST(u2.c AS DOUBLE))) * {_SB_FP}
             ELSE
               ({_SB_ALPHA} * ({_SB_ALPHA} * (CAST(u3.c AS DOUBLE)
                 / CAST(nt.n AS DOUBLE)))) * {_SB_FP}
           END) AS BIGINT) AS s_fp
  FROM pos p
  LEFT JOIN tri t ON t.w1 = p.w1 AND t.w2 = p.w2 AND t.w3 = p.w3
  LEFT JOIN big b1 ON b1.w1 = p.w1 AND b1.w2 = p.w2
  LEFT JOIN big b2 ON b2.w1 = p.w2 AND b2.w2 = p.w3
  LEFT JOIN uni u2 ON u2.w = p.w2
  LEFT JOIN uni u3 ON u3.w = p.w3
  CROSS JOIN n_tok nt
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(CASE WHEN c3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
       CAST(SUM(CASE WHEN c3 IS NULL AND c23 IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit2,
       CAST(SUM(CASE WHEN c3 IS NULL AND c23 IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_floor,
       CAST(SUM(s_fp) AS BIGINT) AS score_fp,
       CAST(SUM(s_fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / {_SB_FP}
         AS avg_score
FROM scored GROUP BY doc_id
"""


@query("trigram_stupid_backoff", _SB_SQL)
def trigram_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stupid-backoff trigram LM score against the corpus's
    own n-gram counts: the CCNet-style "rank docs by LM fluency" filter.
    Count tables are plain groupBys; each trigram position resolves its
    backoff branch through keyed equi-joins (no position ever fans out —
    one count row per key). Scores are floored to 2^-30 fixed point
    per position, so doc totals are exact integer sums; avg_score is a
    pinned two-division shape.

    At 100 TB the count tables shard by n-gram hash (they ARE the
    shuffle); the corpus-vs-increment variant would broadcast only
    increment-touched n-grams, as dedup_increment_vs_corpus does."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return stupid_backoff_scores(d)


def stupid_backoff_scores(d: DataFrame) -> DataFrame:
    """Per-doc stupid-backoff LM scores over any (doc_id, text) frame —
    the reusable core behind the gated query."""
    tok = d.select("doc_id", F.split("text", " ").alias("tokens"))
    toks = F.col("tokens")
    pos = (
        tok.filter(F.size(toks) >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                        F.element_at(toks, i + 2).alias("w3"),
                    ),
                )
            ).alias("t"),
        )
        .select("doc_id", "t.w1", "t.w2", "t.w3")
    )
    uni = (
        tok.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n"))
    big = (
        tok.filter(F.size(toks) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tri = pos.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c"))

    j = (
        pos.join(
            tri.select(
                F.col("w1").alias("t1"), F.col("w2").alias("t2"),
                F.col("w3").alias("t3"), F.col("c").alias("c3"),
            ),
            (F.col("t1") == F.col("w1"))
            & (F.col("t2") == F.col("w2"))
            & (F.col("t3") == F.col("w3")),
            "left",
        )
        .join(
            big.select(
                F.col("w1").alias("g1"), F.col("w2").alias("g2"),
                F.col("c").alias("c2ctx"),
            ),
            (F.col("g1") == F.col("w1")) & (F.col("g2") == F.col("w2")),
            "left",
        )
        .join(
            big.select(
                F.col("w1").alias("h1"), F.col("w2").alias("h2"),
                F.col("c").alias("c23"),
            ),
            (F.col("h1") == F.col("w2")) & (F.col("h2") == F.col("w3")),
            "left",
        )
        .join(
            uni.select(F.col("w").alias("u2"), F.col("c").alias("c1w2")),
            F.col("u2") == F.col("w2"),
            "left",
        )
        .join(
            uni.select(F.col("w").alias("u3"), F.col("c").alias("c1w3")),
            F.col("u3") == F.col("w3"),
            "left",
        )
        .crossJoin(F.broadcast(n_tok))
    )
    alpha = F.lit(_SB_ALPHA)
    fp = F.lit(_SB_FP)
    s = (
        F.when(
            F.col("c3").isNotNull(),
            (F.col("c3").cast("double") / F.col("c2ctx").cast("double")) * fp,
        )
        .when(
            F.col("c23").isNotNull(),
            (alpha * (F.col("c23").cast("double") / F.col("c1w2").cast("double"))) * fp,
        )
        .otherwise(
            (alpha * (alpha * (F.col("c1w3").cast("double") / F.col("n").cast("double"))))
            * fp
        )
    )
    scored = j.select(
        "doc_id", "c3", "c23", F.floor(s).cast("long").alias("s_fp")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum(F.col("c3").isNotNull().cast("long")).alias("n_hit3"),
        F.sum((F.col("c3").isNull() & F.col("c23").isNotNull()).cast("long")).alias(
            "n_hit2"
        ),
        F.sum((F.col("c3").isNull() & F.col("c23").isNull()).cast("long")).alias(
            "n_floor"
        ),
        F.sum("s_fp").alias("score_fp"),
        (
            F.sum("s_fp").cast("double") / F.count(F.lit(1)).cast("double") / fp
        ).alias("avg_score"),
    )


# --- graded retrieval evaluation (MRR / P@k / R@k / nDCG@k, gated) ----------
#
# The eval half a retrieval stack ships with: given a RANKING
# (query_id, doc_id, rank) and binary QRELS (query_id, doc_id), the
# standard IR metrics at k. Everything is exact-integer until one
# pinned IEEE division per metric:
#   mrr@k        = 1 / rank of the first relevant hit (0 if none)
#   precision@k  = hits / k
#   recall@k     = hits / n_relevant
#   ndcg@k       = DCG / IDCG with the log2 discount weights QUANTIZED
#                  once at import to integers (round(2^50 / log2(r+1)))
#                  — sums of integer weights are order-independent and
#                  the ratio is one division, so nDCG joins the
#                  md5-portable sketches as an exactly-gateable variant
#                  of a classically float-folded metric (relative
#                  weight error ~1e-15, far below any ranking delta a
#                  practitioner could act on).
# Scale shape: every join and aggregate is keyed by query_id (rankings
# are top-k sized, qrels are human/heuristic-sized); the corpus never
# enters — only candidate generation touches it.

_EVAL_K = _BM25_QK
# the eval workload needs a df SPREAD the shared _BM25_QUERY_SET lacks:
# 'dup' is the documents fixture's one genuinely rare term (df ~5%,
# strongly positive idf), the rest of the vocabulary is stopword-grade
# (df ~75%+, NEGATIVE idf — docs matching more of those terms rank
# LOWER, the correct BM25 reading of stopwords). The four rows exercise
# four regimes: rare-term retrieval (high hits), rare+common mix,
# all-common adversarial (AND-relevant docs sit at the BOTTOM of the
# ranking -> zero hits in top-k with hundreds relevant), and an unseen
# term that empties the qrel set (zero-relevant conventions).
_EVAL_QUERY_SET: tuple[tuple[int, tuple[str, ...]], ...] = (
    (1, ("dup",)),
    (2, ("dup", "line")),
    (3, ("spark", "join")),
    (4, ("dup", "zz_unseen_term")),
)
_EVAL_Q_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in _EVAL_QUERY_SET for t in terms
)
_NDCG_WQ: tuple[int, ...] = tuple(
    round((1 << 50) / __import__("math").log2(r + 1))
    for r in range(1, _EVAL_K + 1)
)
_NDCG_PREFIX: tuple[int, ...] = tuple(
    sum(_NDCG_WQ[: i + 1]) for i in range(_EVAL_K)
)


def retrieval_eval(
    ranked: DataFrame,
    qrels: DataFrame,
    query_ids: DataFrame,
    k: int = _EVAL_K,
) -> DataFrame:
    """Per-query IR metrics at ``k`` over a ranking frame (query_id,
    doc_id, rank — rank 1-based within query) and binary relevance
    pairs (query_id, doc_id). ``query_ids`` pins the output universe
    (one row per evaluated query even when it has zero relevant docs
    or zero hits — silent row loss would read as a better average).
    Conventions: no relevant hit in top-k -> mrr/ndcg 0.0; zero
    relevant docs -> recall 0.0."""
    if k > _EVAL_K:
        raise ValueError(f"k={k} exceeds precomputed nDCG depth {_EVAL_K}")
    wq = F.array(*[F.lit(w) for w in _NDCG_WQ])
    prefix = F.array(*[F.lit(p) for p in _NDCG_PREFIX])
    nrel = qrels.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_relevant")
    )
    hits = (
        ranked.filter(F.col("rank") <= k)
        .join(qrels, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("hits_at_k"),
            F.min("rank").alias("__first"),
            F.sum(F.element_at(wq, F.col("rank").cast("int")))
            .cast("long")
            .alias("__dcg_q"),
        )
    )
    base = (
        query_ids.select("query_id")
        .distinct()
        .join(nrel, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant", F.lit(0)).alias("n_relevant"),
            F.coalesce("hits_at_k", F.lit(0)).alias("hits_at_k"),
            "__first",
            F.coalesce("__dcg_q", F.lit(0)).alias("__dcg_q"),
        )
    )
    idcg_q = F.element_at(
        prefix, F.least(F.col("n_relevant"), F.lit(k)).cast("int")
    )
    return base.select(
        "query_id",
        "n_relevant",
        "hits_at_k",
        F.when(F.col("__first").isNotNull(),
               F.lit(1.0) / F.col("__first").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("mrr_at_k"),
        (F.col("hits_at_k").cast("double") / F.lit(float(k))).alias(
            "precision_at_k"
        ),
        F.when(F.col("n_relevant") > 0,
               F.col("hits_at_k").cast("double")
               / F.col("n_relevant").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("recall_at_k"),
        F.when(F.col("n_relevant") > 0,
               F.col("__dcg_q").cast("double") / idcg_q.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("ndcg_at_k"),
    )


def _eval_sql() -> str:
    wq_list = "[" + ", ".join(str(w) for w in _NDCG_WQ) + "]"
    prefix_list = "[" + ", ".join(str(p) for p in _NDCG_PREFIX) + "]"
    return f"""
WITH q(query_id, term) AS (VALUES {_EVAL_Q_VALUES}),
tok AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), posting AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM tok)
  GROUP BY 1, 2, 3
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(tokens)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM tok
), dft AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM posting GROUP BY 1
), bscored AS (
  SELECT q.query_id, p.doc_id,
         CAST(floor(
           ln((CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(p.tf AS DOUBLE) * {_BM25_K1_PLUS1})
           / (CAST(p.tf AS DOUBLE)
              + ({_BM25_K1_1MB} + {_BM25_K1_B} * (CAST(p.dl AS DOUBLE) / s.avgdl)))
           * {_QJ_FP}) AS BIGINT) AS s_fp
  FROM q
  JOIN posting p USING (term)
  JOIN dft d USING (term)
  CROSS JOIN stats s
), btotals AS (
  SELECT query_id, doc_id, CAST(SUM(s_fp) AS BIGINT) AS score_fp
  FROM bscored GROUP BY 1, 2
), ranked AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id, CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY score_fp DESC, doc_id)
           AS BIGINT) AS rank
    FROM btotals
  ) WHERE rank <= {_EVAL_K}
), qterms AS (
  SELECT query_id, COUNT(DISTINCT term) AS nt FROM q GROUP BY 1
), rel AS (
  SELECT query_id, doc_id FROM (
    SELECT q.query_id, p.doc_id,
           COUNT(DISTINCT q.term) AS m, MAX(t.nt) AS nt
    FROM q JOIN posting p USING (term) JOIN qterms t USING (query_id)
    GROUP BY 1, 2
  ) WHERE m = nt
), nrel AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant
  FROM rel GROUP BY 1
), hagg AS (
  SELECT r.query_id,
         CAST(COUNT(*) AS BIGINT) AS hits_at_k,
         MIN(r.rank) AS first_hit,
         CAST(SUM({wq_list}[r.rank]) AS BIGINT) AS dcg_q
  FROM ranked r JOIN rel USING (query_id, doc_id)
  GROUP BY 1
), base AS (
  SELECT qq.query_id,
         COALESCE(n.n_relevant, 0) AS n_relevant,
         COALESCE(h.hits_at_k, 0) AS hits_at_k,
         h.first_hit,
         COALESCE(h.dcg_q, 0) AS dcg_q
  FROM (SELECT DISTINCT query_id FROM q) qq
  LEFT JOIN nrel n USING (query_id)
  LEFT JOIN hagg h USING (query_id)
)
SELECT query_id, n_relevant, hits_at_k,
       CASE WHEN first_hit IS NOT NULL
            THEN 1.0 / CAST(first_hit AS DOUBLE) ELSE 0.0 END AS mrr_at_k,
       CAST(hits_at_k AS DOUBLE) / {float(_EVAL_K)} AS precision_at_k,
       CASE WHEN n_relevant > 0
            THEN CAST(hits_at_k AS DOUBLE) / CAST(n_relevant AS DOUBLE)
            ELSE 0.0 END AS recall_at_k,
       CASE WHEN n_relevant > 0
            THEN CAST(dcg_q AS DOUBLE)
                 / CAST({prefix_list}[CAST(LEAST(n_relevant, {_EVAL_K}) AS INT)]
                        AS DOUBLE)
            ELSE 0.0 END AS ndcg_at_k
FROM base
"""


@query("retrieval_eval_metrics", _eval_sql())
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR eval metrics of the gated BM25 ranking against derived
    binary qrels (a doc is relevant to a query iff it contains EVERY
    query term — the strict-AND heuristic, computable in both engines
    from the same corpus): per query, n_relevant / hits@10 / MRR@10 /
    P@10 / R@10 / quantized-exact nDCG@10 over the df-spread
    _EVAL_QUERY_SET (rare-term retrieval, rare+common, the all-common
    adversarial row where negative stopword idf sinks every relevant
    doc, and a df=0 term that empties the qrel set — all four metric
    regimes under the oracle, not just documented)."""
    from fastetl_spark.checkpointing import materialize

    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    qrows = [(qid, list(terms)) for qid, terms in _EVAL_QUERY_SET]
    queries = spark.createDataFrame(
        qrows, "query_id int, terms array<string>"
    )
    # ranking and qrels both read the inverted index — build it once
    posting = materialize(doc_posting(d))
    ranked = bm25_from_posting(posting, queries).select(
        "query_id", "doc_id", "rank"
    )
    qt = queries.select(
        "query_id",
        F.explode("terms").alias("term"),
        F.size("terms").alias("nt"),
    )
    qrels = (
        qt.join(posting.select("doc_id", "term"), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.countDistinct("term").alias("m"),
            F.max("nt").alias("nt"),
        )
        .filter(F.col("m") == F.col("nt"))
        .select("query_id", "doc_id")
    )
    return retrieval_eval(ranked, qrels, queries)
