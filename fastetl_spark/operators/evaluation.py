"""Model/data-quality EVALUATION operators under the exact oracle gate.

A curation pipeline does not stop at producing filtered data — it has
to grade its own screens: how well a score separates classes (AUC),
whether predicted probabilities are honest (calibration), how much two
duplicate screens agree beyond chance (Cohen's kappa), whether numeric
columns look fabricated (Benford first-digit screen), and how
re-identifiable quasi-identifier groups are (k-anonymity).  The
reference ships row-count/QA guards (fastetl/custom_functions/
fast_etl.py `compare_source_dest_rowcount`, `validate_db_string`);
this module is the statistical extension of that audit tier.

Every statistic here is EXACT: integer pair/rank counts all the way
down, with one pinned IEEE division (or literal-constant subtraction)
at the very end — so Spark and DuckDB hash-match bit for bit
regardless of partition order.

Scale notes per operator are in the docstrings; the common theme is
that nothing ever materializes a pairwise frame: AUC folds pair counts
through cumulative rank sums (the Mann-Whitney identity), silhouette
(operators/kmeans) folds pairwise distances through per-cluster
moments, kappa/Benford/k-anonymity are single groupBy passes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fastetl_spark.io.readers import ensure_parallelism, read_table
from fastetl_spark.operators.dedup import normalize_text
from fastetl_spark.operators.ranks import (
    bucketed_cum_sum,
    collect_bucket_totals,
    drop_partition_level,
    materialize_with_bounds,
    totals_to_offsets,
)
from fastetl_spark.registry import query

# --- exact AUC via the Mann-Whitney rank identity -------------------------

# AUC = P(score_pos > score_neg) + 0.5 * P(tie). Pair counts fold
# through per-score-value cumulative counts (never a pairwise join):
#   wins_t = sum_v pos_t(v) * neg_t(< v)
#   ties_t = sum_v pos_t(v) * neg_t(= v)
#   auc_t  = (2*wins_t + ties_t) / (2 * npos_t * nneg_t)
# Everything integer until the single final division. BIGINT holds the
# numerator up to ~3e9 rows (2*npos*nneg <= N^2/2); past that the sums
# widen to DECIMAL(38) the way dedup's checksum ranges do.

_AUC_SQL = """
WITH ev AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
), vt AS (
  SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ev GROUP BY 1, 2
), tot AS (
  SELECT value, CAST(SUM(cnt) AS BIGINT) AS c,
         CAST(COALESCE(SUM(SUM(cnt)) OVER (
           ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS cum_below
  FROM vt GROUP BY value
), j AS (
  SELECT vt.event_type, vt.value, vt.cnt, tot.c, tot.cum_below,
         CAST(COALESCE(SUM(vt.cnt) OVER (
           PARTITION BY vt.event_type ORDER BY vt.value
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS cum_pos_below
  FROM vt JOIN tot USING (value)
), n AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM tot
), per AS (
  SELECT event_type,
         CAST(SUM(cnt) AS BIGINT) AS n_pos,
         CAST(SUM(cnt * (cum_below - cum_pos_below)) AS BIGINT) AS wins,
         CAST(SUM(cnt * (c - cnt)) AS BIGINT) AS ties
  FROM j GROUP BY 1
)
SELECT event_type, n_pos, (n.n_total - n_pos) AS n_neg,
       CASE WHEN n_pos * (n.n_total - n_pos) = 0 THEN NULL
            ELSE CAST(2 * wins + ties AS DOUBLE)
                 / CAST(2 * n_pos * (n.n_total - n_pos) AS DOUBLE)
       END AS auc
FROM per CROSS JOIN n
"""


def auc_by_class(ev: DataFrame, label_col: str, score_col: str) -> DataFrame:
    """Exact one-vs-rest AUC of ``score_col`` for every class of
    ``label_col``, via cumulative rank sums over grouped score values.

    Scale shape: one groupBy on (label, score), one on score, then the
    bucketed distributed prefix sum of operators/ranks (hash exchanges
    only — no Exchange SinglePartition anywhere), one final
    groupBy(label).  For continuous scores where distinct ~ rows, the
    binned variant ``auc_binned`` keeps the support frame bounded (and
    is exact whenever the bins cover the distinct values).  Degenerate
    classes (n_neg == 0, e.g. a label covering the whole frame) emit
    NULL rather than 0/0 = NaN — pinned in both engines.  Runs 2-3
    bounded eager jobs at call time (split points + bucket offsets)."""
    vt = (
        ev.filter(F.col(score_col).isNotNull() & ~F.isnan(score_col))
        .groupBy(label_col, score_col)
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return auc_from_score_counts(vt, label_col, score_col)


def auc_from_score_counts(vt: DataFrame, label_col: str,
                          score_col: str,
                          small_support: bool = False) -> DataFrame:
    """The AUC tail on pre-aggregated (label, score, cnt) counts —
    split out so a streaming monitor maintaining the count state can
    compute the SAME statistic per micro-batch (stream/batch
    equivalence on the alert value, not just the counts).

    Default (corpus-scale) path: both cumulative counts run through
    the bucketed distributed prefix sum (operators/ranks) — hash
    exchanges only, no ``Window.orderBy(score)`` single-partition
    stage, and no per-label window funneling a whole label through one
    task (they partition by (label, bucket)).  Exactly TWO bounded
    eager jobs before the final one: the support is materialized WITH
    its split points riding the same action (materialize_with_bounds),
    and one per-(label, bucket) totals collect serves BOTH prefix sums
    — the global per-bucket offsets are the driver-side sum over
    labels (drop_partition_level).

    ``small_support=True`` keeps the plain-window single-job plan for
    callers whose count frame is ALREADY dictionary-sized — the
    streaming monitor's per-batch complete-mode state, where five
    scheduled jobs per micro-batch would dwarf the data.  Both forms
    are bit-equal (test_auc_small_support_form_bit_equal); the window
    form's single-partition sort is legitimate ONLY because the input
    is bounded state, never raw rows."""
    if small_support:
        w_tot = (
            Window.orderBy(score_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        tot = (
            vt.groupBy(score_col)
            .agg(F.sum("cnt").cast("long").alias("c"))
            .withColumn(
                "cum_below",
                F.coalesce(F.sum("c").over(w_tot), F.lit(0)).cast("long"),
            )
        )
        w_pos = (
            Window.partitionBy(label_col)
            .orderBy(score_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        j = vt.join(tot, score_col).withColumn(
            "cum_pos_below",
            F.coalesce(F.sum("cnt").over(w_pos), F.lit(0)).cast("long"),
        )
    else:
        vt, bounds = materialize_with_bounds(vt, score_col)
        nb = len(bounds) + 1
        totals = collect_bucket_totals(
            vt, score_col, "cnt", bounds=bounds, partition_cols=[label_col]
        )
        tot = bucketed_cum_sum(
            vt.groupBy(score_col).agg(F.sum("cnt").cast("long").alias("c")),
            score_col,
            "c",
            bounds=bounds,
            offsets=totals_to_offsets(drop_partition_level(totals), nb),
        )
        j = bucketed_cum_sum(
            vt,
            score_col,
            "cnt",
            bounds=bounds,
            partition_cols=[label_col],
            out_col="cum_pos_below",
            offsets=totals_to_offsets(totals, nb),
        ).join(tot, score_col)
    n_total = tot.agg(F.sum("c").cast("long").alias("n_total"))
    per = j.groupBy(label_col).agg(
        F.sum("cnt").cast("long").alias("n_pos"),
        F.sum(F.col("cnt") * (F.col("cum_below") - F.col("cum_pos_below")))
        .cast("long")
        .alias("wins"),
        F.sum(F.col("cnt") * (F.col("c") - F.col("cnt")))
        .cast("long")
        .alias("ties"),
    )
    return per.crossJoin(F.broadcast(n_total)).select(
        label_col,
        "n_pos",
        (F.col("n_total") - F.col("n_pos")).alias("n_neg"),
        F.when(
            F.col("n_pos") * (F.col("n_total") - F.col("n_pos")) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            (2 * F.col("wins") + F.col("ties")).cast("double")
            / (2 * F.col("n_pos") * (F.col("n_total") - F.col("n_pos"))).cast(
                "double"
            )
        )
        .alias("auc"),
    )


@query("auc_score_eval", _AUC_SQL)
def auc_score_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest AUC of `value` as a discriminator for each
    event_type: does the value column separate purchases from the
    rest?  Exact Mann-Whitney pair counts (wins + half-ties) without
    a pairwise join."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events"))
    return auc_by_class(ev, "event_type", "value")


# --- calibration / reliability bins ---------------------------------------

# Predicted probability := percent_rank of the score (the exact
# rational (rank-1)/(N-1), RANK so ties share a value). Deciles are
# computed as integer floor-division 10*(r-1) DIV (N-1) — no doubles
# anywhere until the two output divisions (mean predicted, observed
# positive rate), each a single pinned IEEE op.

_CAL_POS = "purchase"

_CAL_SQL = f"""
WITH ev AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM ev
), r AS (
  SELECT event_type,
         CAST(RANK() OVER (ORDER BY value) AS BIGINT) - 1 AS rm1
  FROM ev
), b AS (
  SELECT CASE WHEN n.n_total > 1
              THEN LEAST(9, (10 * rm1) // (n.n_total - 1)) ELSE 0 END AS bin,
         rm1,
         CASE WHEN event_type = '{_CAL_POS}' THEN 1 ELSE 0 END AS pos,
         n.n_total
  FROM r CROSS JOIN n
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CASE WHEN MAX(n_total) > 1
            THEN CAST(SUM(rm1) AS DOUBLE)
                 / CAST(COUNT(*) * (MAX(n_total) - 1) AS DOUBLE)
            ELSE 0.0 END AS mean_phat,
       CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos
FROM b GROUP BY 1
"""


@query("calibration_bins", _CAL_SQL)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for `value`-rank as a purchase
    probability: decile bins of the exact percent-rank, each with its
    mean predicted probability and observed positive rate.  A
    well-calibrated score has mean_phat tracking frac_pos.

    RANK is never computed per row: every row with value v shares
    rm1 = (# rows with value < v), so the op compresses to the
    (value, event_type) support, takes the distributed exclusive
    prefix sum of operators/ranks over the value support (hash
    exchanges only — the former unpartitioned rank window is gone),
    and folds SUM(rm1) per bin as SUM(cnt * cum_below).  Exact for
    ties by construction (RANK gives the min rank = cum_below + 1)."""
    ev = (
        ensure_parallelism(read_table(spark, sf_dir, "events"))
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("event_type", "value")
    )
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    vt = ev.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # split points ride the materialize; one per-bucket totals collect
    # (over vt — same mass as the value support) feeds the prefix sum
    vt, bounds = materialize_with_bounds(vt, "value")
    totals = collect_bucket_totals(vt, "value", "cnt", bounds=bounds)
    vv = vt.groupBy("value").agg(F.sum("cnt").cast("long").alias("cv"))
    vv = bucketed_cum_sum(
        vv, "value", "cv", bounds=bounds,
        offsets=totals_to_offsets(totals, len(bounds) + 1),
    )
    b = (
        vt.join(vv.select("value", "cum_below"), "value")
        .crossJoin(F.broadcast(n))
        .select(
            F.when(
                F.col("n_total") > 1,
                F.least(F.lit(9), F.expr("(10 * cum_below) DIV (n_total - 1)")),
            ).otherwise(F.lit(0)).cast("long").alias("bin"),
            "cnt",
            "cum_below",
            F.when(F.col("event_type") == _CAL_POS, F.col("cnt"))
            .otherwise(F.lit(0))
            .alias("pos"),
            "n_total",
        )
    )
    return b.groupBy("bin").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.when(
            F.max("n_total") > 1,
            F.sum(F.col("cnt") * F.col("cum_below")).cast("double")
            / (F.sum("cnt") * (F.max("n_total") - 1)).cast("double"),
        ).otherwise(F.lit(0.0)).alias("mean_phat"),
        (
            F.sum("pos").cast("double") / F.sum("cnt").cast("double")
        ).alias("frac_pos"),
    )


# --- Cohen's kappa between two duplicate screens ---------------------------

# kappa = (p_o - p_e) / (1 - p_e) over the 2x2 agreement table of two
# binary screens. Cleared denominators:
#   kappa = (n*agree - a1*b1 - a0*b0) / (n*n - a1*b1 - a0*b0)
# — every term a BIGINT count, one final division.

_KAPPA_SQL = """
WITH fa AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS dup_a,
         COUNT(*) OVER (
           PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         ) > 1 AS dup_b
  FROM documents
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN dup_a = dup_b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
         CAST(SUM(CASE WHEN dup_a THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         CAST(SUM(CASE WHEN dup_b THEN 1 ELSE 0 END) AS BIGINT) AS b1
  FROM fa
)
SELECT n AS n_docs, agree AS n_agree, a1 AS n_dup_exact, b1 AS n_dup_normalized,
       CASE WHEN n * n - a1 * b1 - (n - a1) * (n - b1) = 0 THEN 1.0
            ELSE CAST(n * agree - a1 * b1 - (n - a1) * (n - b1) AS DOUBLE)
                 / CAST(n * n - a1 * b1 - (n - a1) * (n - b1) AS DOUBLE)
       END AS kappa
FROM agg
"""


@query("dedup_screen_kappa", _KAPPA_SQL)
def dedup_screen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-screen agreement: Cohen's kappa between the exact-hash
    duplicate flag and the whitespace-normalized duplicate flag
    (dedup_exact vs dedup_normalized, operators/dedup) — "how much
    does normalization change dedup decisions, beyond chance".  Two
    fingerprint groupBys + one scalar fold; no pairwise anything."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    fp = d.select(
        "doc_id",
        F.md5("text").alias("fpa"),
        F.md5(normalize_text(F.col("text"))).alias("fpb"),
    )
    ca = fp.groupBy("fpa").agg(F.count(F.lit(1)).alias("na"))
    cb = fp.groupBy("fpb").agg(F.count(F.lit(1)).alias("nb"))
    flags = (
        fp.join(ca, "fpa")
        .join(cb, "fpb")
        .select(
            (F.col("na") > 1).alias("dup_a"),
            (F.col("nb") > 1).alias("dup_b"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("dup_a") == F.col("dup_b"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
        F.sum(F.when(F.col("dup_a"), 1).otherwise(0)).cast("long").alias("a1"),
        F.sum(F.when(F.col("dup_b"), 1).otherwise(0)).cast("long").alias("b1"),
    )
    num = (
        F.col("n") * F.col("agree")
        - F.col("a1") * F.col("b1")
        - (F.col("n") - F.col("a1")) * (F.col("n") - F.col("b1"))
    )
    den = (
        F.col("n") * F.col("n")
        - F.col("a1") * F.col("b1")
        - (F.col("n") - F.col("a1")) * (F.col("n") - F.col("b1"))
    )
    return agg.select(
        F.col("n").alias("n_docs"),
        F.col("agree").alias("n_agree"),
        F.col("a1").alias("n_dup_exact"),
        F.col("b1").alias("n_dup_normalized"),
        F.when(den == 0, F.lit(1.0))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("kappa"),
    )


# --- Benford first-significant-digit screen --------------------------------

# First significant digit extracted EXACTLY: scale by 1e6 (pinned IEEE
# multiply), floor to BIGINT, take the first character of the integer's
# decimal string — both engines print BIGINTs identically, so no
# log10/pow boundary-rounding hazards. Expected Benford mass is a
# shared python-computed literal.

_BENFORD_EXP = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}

_BENFORD_SQL = f"""
WITH m AS (
  SELECT CAST(FLOOR(value * 1000000.0) AS BIGINT) AS mv
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND value > 0
), d AS (
  SELECT CAST(substr(CAST(mv AS VARCHAR), 1, 1) AS INT) AS digit
  FROM m WHERE mv > 0
), exp(digit, expected_frac) AS (
  VALUES {", ".join(f"({d}, {_BENFORD_EXP[d]!r})" for d in range(1, 10))}
), obs AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_total
  FROM d GROUP BY 1
)
SELECT o.digit, o.n_obs,
       CAST(o.n_obs AS DOUBLE) / CAST(o.n_total AS DOUBLE) AS obs_frac,
       e.expected_frac,
       ABS(CAST(o.n_obs AS DOUBLE) / CAST(o.n_total AS DOUBLE)
           - e.expected_frac) AS abs_dev
FROM obs o JOIN exp e USING (digit)
"""


@query("benford_screen", _BENFORD_SQL)
def benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen on event values — the classic
    fabricated-numbers detector for ingested numeric columns.  Digit
    extraction goes through BIGINT decimal printing (exact in both
    engines), expected mass is a shared literal; one division + one
    subtraction per output row.  Single map + groupBy(9 rows)."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events"))
    m = ev.filter(
        F.col("value").isNotNull() & ~F.isnan("value") & (F.col("value") > 0)
    ).select(
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("mv")
    )
    d = m.filter(F.col("mv") > 0).select(
        F.substring(F.col("mv").cast("string"), 1, 1).cast("int").alias(
            "digit"
        )
    )
    exp = F.broadcast(
        d.sparkSession.createDataFrame(
            [(k, v) for k, v in _BENFORD_EXP.items()],
            "digit int, expected_frac double",
        )
    )
    obs = (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
        .withColumn(
            "n_total",
            F.sum("n_obs").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).cast("long"),
        )
    )
    return obs.join(exp, "digit").select(
        "digit",
        "n_obs",
        (F.col("n_obs").cast("double") / F.col("n_total").cast("double"))
        .alias("obs_frac"),
        "expected_frac",
        F.abs(
            F.col("n_obs").cast("double") / F.col("n_total").cast("double")
            - F.col("expected_frac")
        ).alias("abs_dev"),
    )


# --- k-anonymity audit ------------------------------------------------------

_KANON_SQL = """
WITH g AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CASE WHEN isnan(value) THEN NULL ELSE FLOOR(value) END AS vband,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM events GROUP BY 1, 2, 3
)
SELECT LEAST(k, 5) AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(k) AS BIGINT) AS n_rows
FROM g GROUP BY 1
"""


@query("k_anonymity_report", _KANON_SQL)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the quasi-identifier (event_type, day,
    unit value band): group-size histogram bucketed at 1/2/3/4/5+.
    Rows in k<5 groups are the re-identification surface a privacy
    review flags before publishing (complements pii_scrub).  Two
    groupBys, all integers."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events"))
    # NaN normalizes to NULL in BOTH engines before banding: Spark's
    # floor(NaN) would silently merge NaN rows into vband 0 while
    # DuckDB keeps NaN as its own group — the one floor() divergence
    g = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.when(~F.isnan("value"), F.floor("value")).alias("vband"),
    ).agg(F.count(F.lit(1)).cast("long").alias("k"))
    return g.groupBy(F.least(F.col("k"), F.lit(5)).alias("k_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("k").cast("long").alias("n_rows"),
    )


# --- feature-hashing linear scorer ------------------------------------------

# The hashing trick: tokens land in a FIXED feature space via a
# portable hash, weights are a deterministic function of the bucket —
# so scoring is a pure per-row map + sum, with NO vocabulary build, no
# dictionary join, no shuffle beyond the final groupBy(doc).  This is
# the shape of a fastText-style quality classifier at 100 TB: the
# model is a broadcast array, the corpus never shuffles.

_FH_BUCKETS = 1024
_FH_MULT = 2654435761  # Knuth multiplicative constant
_FH_MOD = 1001


_FH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
           % {_FH_BUCKETS} AS bucket
  FROM tok WHERE token <> ''
), w AS (
  SELECT doc_id,
         (bucket * {_FH_MULT}) % {_FH_MOD} - {(_FH_MOD - 1) // 2} AS weight
  FROM h
)
SELECT doc_id, CAST(SUM(weight) AS BIGINT) AS score,
       SUM(weight) > 0 AS flagged
FROM w GROUP BY doc_id
"""


@query("hashed_feature_score", _FH_SQL)
def hashed_feature_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear scorer over document tokens: md5-portable
    bucket in [0, {buckets}), deterministic pseudo-weights, per-doc
    integer score + sign flag.  Demonstrates the fixed-feature-space
    classifier pattern (fastText/vowpal-wabbit style): map-side only
    until one groupBy(doc_id); swap the pseudo-weights for a broadcast
    learned-weight array and the plan is production quality
    filtering."""
    from fastetl_spark.operators.dedup import md5_prefix_hash

    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    h = tok.select(
        "doc_id",
        F.pmod(md5_prefix_hash(F.col("token")), F.lit(_FH_BUCKETS)).alias(
            "bucket"
        ),
    )
    w = h.select(
        "doc_id",
        (
            F.pmod(F.col("bucket") * F.lit(_FH_MULT), F.lit(_FH_MOD))
            - F.lit((_FH_MOD - 1) // 2)
        ).alias("weight"),
    )
    return w.groupBy("doc_id").agg(
        F.sum("weight").cast("long").alias("score"),
        (F.sum("weight") > 0).alias("flagged"),
    )


# --- two-sample Kolmogorov-Smirnov statistic --------------------------------

# D = max_v |F_t(v) - F_rest(v)|, evaluated exactly: cumulative counts
# over the MERGED value support, cross-multiplied so the max runs over
# integers — |c_t * n_rest - c_rest * n_t| — with one division at the
# end.  The exact-distribution drift twin of the binned PSI family:
# PSI needs bin edges, KS needs none.

_KS_SQL = """
WITH ev AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
), vt AS (
  SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ev GROUP BY 1, 2
), tot AS (
  SELECT value, CAST(SUM(cnt) AS BIGINT) AS c,
         CAST(SUM(SUM(cnt)) OVER (ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_all
  FROM vt GROUP BY value
), types AS (
  SELECT DISTINCT event_type FROM ev
), n AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM tot
), grid AS (
  SELECT t.event_type, s.value, s.cum_all,
         COALESCE(v.cnt, 0) AS cnt0
  FROM types t CROSS JOIN tot s
  LEFT JOIN vt v ON v.event_type = t.event_type AND v.value = s.value
), cums AS (
  SELECT event_type, value, cum_all,
         CAST(SUM(cnt0) OVER (PARTITION BY event_type ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_t
  FROM grid
), nt AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_t FROM vt GROUP BY 1
)
SELECT c.event_type, nt.n_t, (n.n_total - nt.n_t) AS n_rest,
       CAST(MAX(ABS(c.cum_t * (n.n_total - nt.n_t)
                    - (c.cum_all - c.cum_t) * nt.n_t)) AS BIGINT) AS max_num,
       CASE WHEN nt.n_t * (n.n_total - nt.n_t) = 0 THEN NULL
            ELSE CAST(MAX(ABS(c.cum_t * (n.n_total - nt.n_t)
                         - (c.cum_all - c.cum_t) * nt.n_t)) AS DOUBLE)
                 / CAST(nt.n_t * (n.n_total - nt.n_t) AS DOUBLE)
       END AS d_stat
FROM cums c
JOIN nt USING (event_type)
CROSS JOIN n
GROUP BY c.event_type, nt.n_t, n.n_total
"""


def ks_from_counts(
    vt: DataFrame, label_col: str, value_col: str
) -> DataFrame:
    """The KS tail on pre-aggregated (label, value, cnt) counts —
    shared by the exact gated query (value = the raw support) and
    ``ks_binned`` (value = a fixed-width bin id).  Both cumulative
    counts run through the bucketed distributed prefix sum of
    operators/ranks sharing one set of split points (hash exchanges
    only — no single-partition stage, and no per-label window
    funneling a whole label through one task).  A degenerate label
    covering the whole frame emits NULL d_stat, not 0/0 = NaN.
    Two bounded eager jobs, same fusion as auc_from_score_counts; the
    grid's per-(label, bucket) offsets reuse the vt totals (zero-count
    grid rows add no mass), DENSIFIED over all buckets so a label
    empty in some bucket still gets its carried offset row."""
    vt, bounds = materialize_with_bounds(vt, value_col)
    nb = len(bounds) + 1
    totals = collect_bucket_totals(
        vt, value_col, "cnt", bounds=bounds, partition_cols=[label_col]
    )
    tot = bucketed_cum_sum(
        vt.groupBy(value_col).agg(F.sum("cnt").cast("long").alias("c")),
        value_col,
        "c",
        bounds=bounds,
        inclusive=True,
        out_col="cum_all",
        offsets=totals_to_offsets(drop_partition_level(totals), nb),
    )
    types = vt.select(label_col).distinct()
    n = tot.agg(F.sum("c").cast("long").alias("n_total"))
    grid = (
        types.crossJoin(tot.select(value_col, "cum_all"))
        .join(vt, [label_col, value_col], "left")
        .select(
            label_col, value_col, "cum_all",
            F.coalesce("cnt", F.lit(0)).alias("cnt0"),
        )
    )
    cums = bucketed_cum_sum(
        grid,
        value_col,
        "cnt0",
        bounds=bounds,
        partition_cols=[label_col],
        inclusive=True,
        out_col="cum_t",
        offsets=totals_to_offsets(totals, nb),
    )
    nt = vt.groupBy(label_col).agg(F.sum("cnt").cast("long").alias("n_t"))
    num = F.abs(
        F.col("cum_t") * (F.col("n_total") - F.col("n_t"))
        - (F.col("cum_all") - F.col("cum_t")) * F.col("n_t")
    )
    return (
        cums.join(F.broadcast(nt), label_col)
        .crossJoin(F.broadcast(n))
        .groupBy(label_col, "n_t", "n_total")
        .agg(F.max(num).cast("long").alias("max_num"))
        .select(
            label_col, "n_t",
            (F.col("n_total") - F.col("n_t")).alias("n_rest"),
            "max_num",
            F.when(
                F.col("n_t") * (F.col("n_total") - F.col("n_t")) == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.col("max_num").cast("double")
                / (F.col("n_t") * (F.col("n_total") - F.col("n_t")))
                .cast("double")
            )
            .alias("d_stat"),
        )
    )


@query("ks_two_sample", _KS_SQL)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic of each event_type's value
    distribution against the rest of the corpus: the strongest
    "did the distribution move" screen, no binning required.  The
    label x merged-support grid is k x |distinct values| rows; for
    continuous values where distinct ~ rows, ``ks_binned`` bounds the
    support (exact whenever the bins cover the distinct values)."""
    ev = (
        ensure_parallelism(read_table(spark, sf_dir, "events"))
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("event_type", "value")
    )
    vt = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return ks_from_counts(vt, "event_type", "value")


# --- binned scale variants of AUC / KS --------------------------------------

# For continuous score columns, distinct values ~ rows and the
# rank-support frames above grow with the corpus.  The binned variants
# quantize the score to a fixed-width integer bin FIRST, bounding every
# downstream frame at num_bins rows per label.  Both statistics are
# invariant under monotone relabeling of the support, so the ONLY
# approximation is within-bin ties: when every distinct value lands in
# its own bin ("the bins cover the distinct values"), binned == exact
# bit-for-bit (equality-tested in tests/test_evaluation.py).  This is
# the same exact-when-covering contract as the quantile sketch tier
# (operators/quantiles.covering_accuracy_for).


def fixed_width_bin(
    ev: DataFrame, score_col: str, num_bins: int
) -> Column:
    """Monotone fixed-width bin id for ``score_col`` in [0, num_bins):
    one eager min/max job whose results are embedded as LITERALS (so
    downstream plans are deterministic — the range_bounds pattern).
    Callers pre-filter NULL/NaN."""
    row = ev.agg(
        F.min(score_col).alias("lo"), F.max(score_col).alias("hi")
    ).head()
    lo = row["lo"] if row is not None else None
    hi = row["hi"] if row is not None else None
    if lo is None or hi is None or hi == lo:
        return F.lit(0)
    width = (float(hi) - float(lo)) / num_bins
    return F.least(
        F.lit(num_bins - 1),
        F.floor((F.col(score_col) - F.lit(float(lo))) / F.lit(width)).cast(
            "int"
        ),
    )


def ks_by_class(ev: DataFrame, label_col: str, value_col: str) -> DataFrame:
    """Exact two-sample KS of ``value_col`` for every label of
    ``label_col`` against the rest (gated by `ks_two_sample`): NULL and
    NaN values dropped, counted per (label, value), then
    ``ks_from_counts``. For continuous values use ``ks_binned``."""
    vt = (
        ev.filter(F.col(value_col).isNotNull() & ~F.isnan(value_col))
        .groupBy(label_col, value_col)
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return ks_from_counts(vt, label_col, value_col)


def auc_binned(
    ev: DataFrame, label_col: str, score_col: str, num_bins: int = 16384
) -> DataFrame:
    """One-vs-rest AUC on fixed-width score bins — the 100 TB path for
    continuous scores: the support frame is <= num_bins rows however
    large the corpus.  Within-bin distinct scores count as ties
    (AUC error <= within-bin pair mass / 2); exact when the bins cover
    the distinct values."""
    ev = ev.filter(F.col(score_col).isNotNull() & ~F.isnan(score_col))
    vt = (
        ev.select(
            label_col, fixed_width_bin(ev, score_col, num_bins).alias("__bin")
        )
        .groupBy(label_col, "__bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return auc_from_score_counts(vt, label_col, "__bin")


def ks_binned(
    ev: DataFrame, label_col: str, value_col: str, num_bins: int = 16384
) -> DataFrame:
    """Two-sample KS on fixed-width value bins — the 100 TB path for
    continuous values: the merged support is <= num_bins rows.  The
    binned D is evaluated only at bin boundaries, so it LOWER-bounds
    the exact D (by at most the largest within-bin CDF movement);
    exact when the bins cover the distinct values."""
    ev = ev.filter(F.col(value_col).isNotNull() & ~F.isnan(value_col))
    vt = (
        ev.select(
            label_col, fixed_width_bin(ev, value_col, num_bins).alias("__bin")
        )
        .groupBy(label_col, "__bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return ks_from_counts(vt, label_col, "__bin")


# --- Spearman rank correlation ----------------------------------------------

# Pearson on CENTERED doubled midranks: with ties, avg rank = rank +
# (cnt-1)/2, so 2*avgrank = 2*rank + cnt - 1 is an integer, and
# centering by its exact mean (n+1) makes both sums zero — so
# rho = sum(x'y') / (sqrt(sum x'^2) * sqrt(sum y'^2)) with exactly two
# pinned sqrts + one division at the end.  |x'| <= 2n means the moment
# sums reach 4n^3, which overflows BIGINT already at n ~ 1.3e6 rows —
# so the products and sums run in DECIMAL(38,0) (exact to n ~ 2.9e12;
# the decimal/HUGEINT shape of dedup's checksum ranges).  The
# diagnostic sxy/sxx/syy output columns stay BIGINT via TRY_CAST
# (exact at any n where they fit, honest NULL — never a silent wrap —
# beyond); rho itself is computed from the decimals and stays exact.

_SPEARMAN_SQL = """
WITH ev AS (
  SELECT value, ts FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM ev
), r AS (
  SELECT
    CAST(2 * RANK() OVER (ORDER BY value)
         + COUNT(*) OVER (PARTITION BY value) - 1 AS BIGINT) AS mx,
    CAST(2 * RANK() OVER (ORDER BY ts)
         + COUNT(*) OVER (PARTITION BY ts) - 1 AS BIGINT) AS my
  FROM ev
), c AS (
  SELECT CAST(mx - (n.n_total + 1) AS DECIMAL(19,0)) AS x,
         CAST(my - (n.n_total + 1) AS DECIMAL(19,0)) AS y
  FROM r CROSS JOIN n
), m AS (
  SELECT CAST(SUM(x * y) AS DECIMAL(38,0)) AS dxy,
         CAST(SUM(x * x) AS DECIMAL(38,0)) AS dxx,
         CAST(SUM(y * y) AS DECIMAL(38,0)) AS dyy
  FROM c
)
SELECT (SELECT n_total FROM n) AS n,
       TRY_CAST(dxy AS BIGINT) AS sxy,
       TRY_CAST(dxx AS BIGINT) AS sxx,
       TRY_CAST(dyy AS BIGINT) AS syy,
       CASE WHEN dxx = 0 OR dyy = 0 THEN 0.0
            ELSE CAST(dxy AS DOUBLE)
                 / (sqrt(CAST(dxx AS DOUBLE))
                    * sqrt(CAST(dyy AS DOUBLE))) END AS rho
FROM m
"""


@query("spearman_rank_corr", _SPEARMAN_SQL)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman correlation between event value and
    event time — "is spend drifting over the window" as a single
    monotone-association number, exact under the gate.

    No row ever gets ranked through a window: every row with value v
    shares the doubled midrank 2*cum_below(v) + cnt(v) + 1, so both
    rank maps compress to their distinct supports, take the
    distributed exclusive prefix sum of operators/ranks (hash
    exchanges only — the two former unpartitioned rank windows are
    gone), and join back to the rows by value/ts.  Moments run in
    DECIMAL(38,0) (see the identity note above)."""
    ev = (
        ensure_parallelism(read_table(spark, sf_dir, "events"))
        .filter(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & F.col("ts").isNotNull()
        )
        .select("value", "ts")
    )
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n_total"))

    def doubled_midranks(key: str, out: str) -> DataFrame:
        # support materialized WITH its split points in one job; the
        # offset collect and the final row join read the checkpoint
        sup = ev.groupBy(key).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        sup, bounds = materialize_with_bounds(sup, key)
        sup = bucketed_cum_sum(sup, key, "cnt", bounds=bounds)
        return sup.select(
            key,
            (2 * F.col("cum_below") + F.col("cnt") + 1)
            .cast("long")
            .alias(out),
        )

    r = ev.join(doubled_midranks("value", "mx"), "value").join(
        doubled_midranks("ts", "my"), "ts"
    )
    dec = "decimal(19,0)"
    c = r.crossJoin(F.broadcast(n)).select(
        (F.col("mx") - (F.col("n_total") + 1)).cast(dec).alias("x"),
        (F.col("my") - (F.col("n_total") + 1)).cast(dec).alias("y"),
        "n_total",
    )
    agg = c.agg(
        F.max("n_total").alias("n"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("dxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("dxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("dyy"),
    )
    return agg.select(
        "n",
        F.expr("try_cast(dxy AS bigint)").alias("sxy"),
        F.expr("try_cast(dxx AS bigint)").alias("sxx"),
        F.expr("try_cast(dyy AS bigint)").alias("syy"),
        F.when(
            (F.col("dxx") == 0) | (F.col("dyy") == 0), F.lit(0.0)
        )
        .otherwise(
            F.col("dxy").cast("double")
            / (
                F.sqrt(F.col("dxx").cast("double"))
                * F.sqrt(F.col("dyy").cast("double"))
            )
        )
        .alias("rho"),
    )
