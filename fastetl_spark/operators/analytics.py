"""Corpus- and event-level analytics operators:

- per-source reputation report: the "which crawl sources are worth
  keeping" table every corpus curation pass starts from (volume,
  language spread, exact-dup rate, short-doc share);
- robust outlier detection: median/MAD per event_type with discrete
  percentiles (percentile_disc agrees bit-for-bit across engines,
  unlike interpolating medians);
- fixed-width value histograms: the distributed histogram shape (bucket
  by arithmetic, one groupBy — never a driver-side pass).

No counterpart in the reference (its profiling is load-row-counts only,
load_info.py); these extend SURVEY §2's LLM-data north star.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fastetl_spark.io.readers import ensure_parallelism, read_table
from fastetl_spark.operators.dedup import normalize_text
from fastetl_spark.operators.sampling import _HASH_A, _HASH_M, hash_bucket
from fastetl_spark.registry import query

# --- per-source reputation report ----------------------------------------

_SHORT_DOC_CHARS = 300

_SOURCE_REPORT_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(*) - COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
            AS BIGINT) AS dup_docs,
       CAST(SUM(CASE WHEN n_chars < {_SHORT_DOC_CHARS} THEN 1 ELSE 0 END) AS BIGINT)
         AS short_docs
FROM documents
GROUP BY source
"""


@query("source_reputation_report", _SOURCE_REPORT_SQL)
def source_reputation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report: volume, language spread, exact-dup
    count (docs minus distinct normalized fingerprints — dups never
    leave their source's shuffle partition), short-doc count. One
    groupBy over (source, 3 small aggregates + 2 distincts); only
    48-byte fingerprints shuffle, never text bodies. avg_chars is an
    exact-int division done once in double — deterministic IEEE."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return d.select(
        "source", "lang", "n_chars", F.md5(normalize_text(F.col("text"))).alias("fp")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("dup_docs"),
        F.sum((F.col("n_chars") < _SHORT_DOC_CHARS).cast("long")).alias("short_docs"),
    )


# --- robust outlier detection (median / MAD) -----------------------------

_MAD_K = 3.0  # flag |value - median| > 3 * MAD

_OUTLIER_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_disc(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON m.event_type = e.event_type
), mad AS (
  SELECT event_type, quantile_disc(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(d.med) AS med,
       MIN(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.adev > {_MAD_K} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type
"""


@query("robust_outlier_events", _OUTLIER_SQL)
def robust_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier flagging per event_type — the robust twin of
    z-scoring (a single wild value cannot move the threshold). Discrete
    percentiles (percentile_disc) return an ACTUAL data value, so Spark
    and DuckDB agree bit-for-bit where interpolating medians would
    diverge; every downstream float op (abs, diff, 3*mad compare) is
    exact IEEE on identical inputs.

    Shape at scale: EXACT per-group percentiles gather each group's
    values into one aggregator, so this operator is for moderate group
    sizes (or pre-aggregated values); at 100 TB per group, route
    through approx_quantiles_events (mergeable sketch, one pass) and
    keep this as the verification oracle on samples. The join-backs
    broadcast the handful of per-type stat rows; the events table is
    scanned, never collected."""
    e = ensure_parallelism(read_table(spark, sf_dir, "events"))
    med = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum((F.col("adev") > F.lit(_MAD_K) * F.col("mad")).cast("long")).alias(
                "n_outliers"
            ),
        )
    )


# --- fixed-width value histogram -----------------------------------------

_BUCKET_WIDTH = 10.0

_HISTOGRAM_SQL = f"""
SELECT event_type,
       CAST(FLOOR(value / CAST({_BUCKET_WIDTH} AS DOUBLE)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS min_v,
       MAX(value) AS max_v
FROM events
GROUP BY 1, 2
"""


@query("event_value_histogram", _HISTOGRAM_SQL)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type — the distributed
    histogram idiom: bucket ids from arithmetic on the value itself
    (floor division), then ONE groupBy; no driver-side binning, no
    second pass for bounds. min/max are pass-through doubles
    (bit-identical across engines)."""
    e = ensure_parallelism(read_table(spark, sf_dir, "events"))
    return (
        e.select(
            "event_type",
            "value",
            F.floor(F.col("value") / F.lit(_BUCKET_WIDTH)).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )


# --- approximate quantiles (the 100 TB quantile path) --------------------

_APPROX_ACCURACY = 10_000


@query("approx_quantiles_events")  # sketch-based — rows-only check
def approx_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna sketch quantiles per event_type — the scale
    path: exact percentiles (quantity_percentiles, robust_outlier_events)
    need a per-group sort; the sketch is one pass, fixed memory, and
    mergeable across partitions, which is the only shape that survives
    100 TB. Error is bounded by 1/accuracy. Output exploded to one row
    per (event_type, quantile) so it stays scalar-typed."""
    e = ensure_parallelism(read_table(spark, sf_dir, "events"))
    qs = e.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), _APPROX_ACCURACY
        ).alias("vals")
    )
    return qs.select(
        "event_type",
        F.explode(
            F.arrays_zip(
                F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)).alias("q"),
                F.col("vals").alias("v"),
            )
        ).alias("z"),
    ).select("event_type", F.col("z.q").alias("q"), F.col("z.v").alias("approx_value"))


# --- k-means clustering over embeddings (rows-only) ----------------------

_KMEANS_K = 16


@query("embedding_kmeans_clusters")  # numpy-trained quantizer — rows-only check
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means clustering of the embedding corpus: the
    centroids are trained on a bounded id-ordered sample on the driver
    (deterministic, no RNG — same quantizer on any cluster/layout),
    then every vector is assigned in ONE distributed Arrow-batched
    matmul pass; per-cluster stats come from one groupBy on the cell
    id. Reuses the IVF coarse-quantizer machinery
    (similarity.ivf_train_centroids) — clustering IS the IVF build
    minus the probe step. mean_sim is rounded to 6 digits: cluster
    membership is exact, only the reduction order of the mean is not."""
    from fastetl_spark.operators.similarity import (
        _probe_cells_udf,
        as_double,
        dot,
        ivf_train_centroids,
        l2_norm,
    )

    e = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    centroids = ivf_train_centroids(e, "embedding", k=_KMEANS_K, id_col="vec_id")
    assign1 = _probe_cells_udf(centroids, 1)
    cent = F.array(*[F.array(*[F.lit(x) for x in row]) for row in centroids])
    assigned = (
        e.select("vec_id", as_double(F.col("embedding")).alias("v"))
        .withColumn("cluster", F.element_at(assign1("v"), 1))
        .withColumn("cv", F.element_at(cent, F.col("cluster") + 1))
        .withColumn("nrm", l2_norm(F.col("v")))
        .withColumn(
            "sim",
            F.when(F.col("nrm") > 0.0, dot(F.col("v"), F.col("cv")) / F.col("nrm"))
            .otherwise(F.lit(0.0)),
        )
    )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg("sim"), 6).alias("mean_sim"),
    )


# --- referential-integrity report ----------------------------------------

_FK_RELATIONS = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]

_RI_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{rel}' AS relation,
       CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_child,
       CAST((SELECT COUNT(*) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{fk})) AS BIGINT) AS n_orphans"""
    for rel, child, fk, parent, pk in _FK_RELATIONS
)


# Parents with at most this many keys get an explicit broadcast hint
# (~8 MB of int64 — always under any executor's broadcast budget). Above
# it, NO hint: AQE picks broadcast vs shuffled anti-join from measured
# sizes. A forced hint on a big parent (orders is a parent of lineitem;
# at 100x scale its key projection is tens of GB) would bypass that
# size-based choice and OOM the driver.
_RI_BROADCAST_MAX_KEYS = 1_000_000


@lru_cache(maxsize=256)
def _parquet_footer_rows_at(path: str, mtime_ns: int) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _parquet_footer_rows(sf_dir: str, table: str) -> int:
    """Row count from the parquet footer, read driver-side via pyarrow —
    a metadata-only file read, no Spark job. Cached per (path, mtime) so
    repeated report constructions over the same snapshot are free while
    an in-process rewrite invalidates naturally. Assumes the single-file
    `{table}.parquet` layout `read_table` serves; a partitioned-directory
    table should fall back to df.count()."""
    import os

    path = f"{sf_dir}/{table}.parquet"
    return _parquet_footer_rows_at(path, os.stat(path).st_mtime_ns)


@query("referential_integrity_report", _RI_SQL)
def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit over every FK relation of the star schema — the
    data-quality gate a warehouse load runs before publishing. Each
    relation is one LEFT ANTI join on the KEY PROJECTIONS only (two
    int64 columns shuffle, never rows). The broadcast hint is size-gated
    on parquet footer row counts (same pattern as similarity.ann_topk):
    dimension parents broadcast, large parents are left to AQE. The
    report itself is five one-row aggregates unioned — constant output
    size regardless of data volume."""
    frames = []
    for rel, child, fk, parent, pk in _FK_RELATIONS:
        c = read_table(spark, sf_dir, child).select(F.col(fk))
        # driver-side parquet-footer row count (cached per sf_dir/table):
        # no Spark job runs at DataFrame-construction time, so lazy
        # composition (plan inspection, dry runs) stays free
        p_rows = _parquet_footer_rows(sf_dir, parent)
        p = read_table(spark, sf_dir, parent).select(F.col(pk))
        if p_rows <= _RI_BROADCAST_MAX_KEYS:
            p = F.broadcast(p)
        n_child = c.agg(F.count(F.lit(1)).alias("n_child"))
        n_orph = (
            c.join(p, F.col(fk) == F.col(pk), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        frames.append(
            n_child.crossJoin(n_orph).select(
                F.lit(rel).alias("relation"), "n_child", "n_orphans"
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# --- mergeable distinct-count rollup (HLL sketches) ----------------------


@query("hll_weekly_users_rollup")  # sketch-based — rows-only check
def hll_weekly_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users via DAILY HyperLogLog sketches unioned up —
    the mergeable-sketch rollup that makes distinct counts composable at
    100 TB: the raw events are scanned ONCE into per-day sketches
    (kilobytes each); every coarser granularity (week here, month,
    all-time, any ad-hoc date range) is a union of sketches, never a
    rescan. An exact COUNT(DISTINCT) cannot roll up — distinct counts
    are not additive; sketches are. Estimate error ~2% (Spark default
    lgConfigK); approx_distinct_users is the same trade for a single
    grain."""
    e = ensure_parallelism(read_table(spark, sf_dir, "events"))
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return (
        daily.groupBy(F.date_trunc("week", F.col("day")).alias("week"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"))
    )


# --- cumulative new-user counts ------------------------------------------

_CUMULATIVE_USERS_SQL = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS first_day
  FROM events GROUP BY user_id
), daily AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM firsts GROUP BY first_day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS total_users
FROM daily
"""


@query("cumulative_new_users", _CUMULATIVE_USERS_SQL)
def cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new users + running total — the scale-safe rewrite of
    "distinct users to date": a naive COUNT(DISTINCT) over an expanding
    window re-scans ever-growing state per day; instead each user
    contributes exactly one first-seen row (one groupBy on user_id),
    and the cumulative sum runs over the DAILY frame — whose cardinality
    is the number of days, not users, so the single-partition window is
    a few-thousand-row driver-scale step no matter the corpus size."""
    e = ensure_parallelism(read_table(spark, sf_dir, "events"))
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).alias("total_users")
    )


# --- correlation / regression from exact moment sums ---------------------

# The naive route — F.corr / regr_slope — can never hash-match a serial
# oracle: distributed float summation is order-dependent. Instead the
# five moment sums (Sx, Sy, Sxx, Syy, Sxy) are EXACT DECIMAL sums
# (identical on any engine and any partitioning — sums of exact
# rationals), cast to double, and the closed-form corr/slope/intercept
# are computed from them with the same double expression on both sides:
# identical inputs + correctly-rounded IEEE ops = identical bits. This
# is also the right 100 TB shape: moment sums are map-side-combinable
# monoids (one aggregate pass), the statistics are O(groups) driver
# math afterwards.
_REGRESSION_SQL = """
WITH m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(date_part('hour', ts) AS DECIMAL(4,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(date_part('hour', ts) AS DECIMAL(4,0))
                * CAST(date_part('hour', ts) AS DECIMAL(4,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(value AS DECIMAL(18,6))
                * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(date_part('hour', ts) AS DECIMAL(4,0))
                * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxy
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       ROUND(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
            THEN (n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 9) AS corr_hour_value,
       ROUND(CASE WHEN n * sxx - sx * sx <> 0
            THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 9) AS slope,
       ROUND(CASE WHEN n * sxx - sx * sx <> 0
            THEN (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n END, 9) AS intercept
FROM m
"""


@query("value_hour_regression", _REGRESSION_SQL)
def value_hour_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS of value on hour-of-day (corr, slope,
    intercept) via exact decimal moment sums — the diurnal-pattern
    check an event pipeline runs, and the template for any distributed
    second-moment statistic that must verify bit-exactly against a
    serial engine."""
    e = ensure_parallelism(read_table(spark, sf_dir, "events"))
    x = F.hour("ts").cast("decimal(4,0)")
    y = F.col("value").cast("decimal(18,6)")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    var_term = (n * sxx - sx * sx) * (n * syy - sy * sy)
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / denom
    # the moment sums are exact decimals, but each engine's
    # decimal->double CAST can differ in the last ulp (DuckDB divides
    # int128 by 10^scale in double — two roundings; the JVM rounds
    # once), so the derived statistics are rounded to 9 dp on both
    # sides — far above ulp noise, far below statistical meaning
    return m.select(
        "event_type",
        "n",
        F.round(
            F.when(var_term > 0, (n * sxy - sx * sy) / F.sqrt(var_term)), 9
        ).alias("corr_hour_value"),
        F.round(F.when(denom != 0, slope), 9).alias("slope"),
        F.round(F.when(denom != 0, (sy - slope * sx) / n), 9).alias("intercept"),
    )


# --- join-skew diagnosis (shuffle-sizing ops report) ----------------------

_SALT_CAP = 64

# All-integer profile (one ROUND-6 ratio aside): heavy keys are counted
# by cnt > (2*n_rows) div n_keys — exactly cnt > 2*avg for positive
# integers, without the float average OR a count product — and the salt
# recommendation is an integer ceil-division — no percentile functions,
# whose discrete-tie indexing differs between engines at high p.
_SKEW_SQL = f"""
WITH c AS (
  SELECT event_type, user_id, COUNT(*) AS cnt
  FROM events GROUP BY event_type, user_id
), tot AS (
  SELECT event_type,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(cnt) AS BIGINT) AS max_key_rows
  FROM c GROUP BY event_type
), heavy AS (
  SELECT c.event_type,
         CAST(SUM(CASE WHEN c.cnt > (2 * t.n_rows) // t.n_keys
                       THEN 1 ELSE 0 END) AS BIGINT) AS heavy_keys
  FROM c JOIN tot t USING (event_type) GROUP BY c.event_type
)
SELECT t.event_type, t.n_rows, t.n_keys, t.max_key_rows, h.heavy_keys,
       ROUND(t.max_key_rows * 1.0 / (t.n_rows * 1.0 / t.n_keys), 6)
         AS skew_ratio,
       CAST(LEAST({_SALT_CAP}, GREATEST(1,
         (t.max_key_rows + GREATEST(1, t.n_rows // t.n_keys) - 1)
           // GREATEST(1, t.n_rows // t.n_keys)))
         AS BIGINT) AS recommended_salt
FROM tot t JOIN heavy h USING (event_type)
"""


@query("join_skew_diagnosis", _SKEW_SQL)
def join_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report a 100 TB operator runs BEFORE sizing a shuffle: per
    join key (event_type, user_id here) count rows, then per group
    report total rows, distinct keys, the hottest key, how many keys
    exceed 2x the average (exact integer comparison, overflow-free), the max/avg skew ratio, and a salt-bucket
    recommendation ceil(max_key_rows / avg_rows_per_key) capped at
    {_SALT_CAP} — the factor skewed_agg_salted-style salting would use.
    Two partial-aggregated shuffles plus a broadcast of the per-type
    totals; nothing driver-side."""
    from fastetl_spark.checkpointing import materialize

    e = ensure_parallelism(read_table(spark, sf_dir, "events"))
    # the per-key counts feed three consumers (totals, heavy-key count,
    # final join) — materialize once so events is scanned once, not 3x
    c = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    ).transform(materialize)
    tot = c.groupBy("event_type").agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_key_rows"),
    )
    heavy = (
        c.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            # cnt > 2*avg, exactly: cnt*n_keys > 2*n_rows reduces to
            # cnt > (2*n_rows) div n_keys for positive integers (strict
            # inequality survives the floor) — no count product that
            # could pass int64 at petabyte scale
            F.sum(
                (
                    F.col("cnt") > F.expr("(2 * n_rows) div n_keys")
                ).cast("long")
            ).alias("heavy_keys")
        )
    )
    avg = F.col("n_rows").cast("double") / F.col("n_keys").cast("double")
    # ceil(max / floor(avg)) in pure long arithmetic — deliberately NOT
    # ceil(max*n_keys/n_rows): that product overflows int64 (an ANSI
    # error) once n_rows*n_keys passes ~9e18, which a petabyte-scale
    # profile can reach. No term here exceeds 2*n_rows.
    salt = F.expr(
        "(max_key_rows + greatest(1L, n_rows div n_keys) - 1)"
        " div greatest(1L, n_rows div n_keys)"
    )
    return tot.join(heavy, "event_type").select(
        "event_type",
        "n_rows",
        "n_keys",
        "max_key_rows",
        "heavy_keys",
        F.round(F.col("max_key_rows").cast("double") / avg, 6).alias("skew_ratio"),
        F.least(F.lit(_SALT_CAP).cast("long"), F.greatest(F.lit(1).cast("long"), salt)).alias(
            "recommended_salt"
        ),
    )


# --- A/B experiment readout ----------------------------------------------

_AB_SALT = 777


# arm = (scrambled bucket 0..99) < 50 — NOT `% 2`: with a power-of-two
# modulus the multiplicative hash's low bit degenerates to flipped id
# parity (zero mixing — review finding), which would confound the arms
# with any parity-structured id scheme. The mod-100 bucket uses the
# full scrambled value; halving it keeps the 50/50 split well-mixed.
_AB_SQL = f"""
WITH arms AS (
  SELECT user_id,
         CASE WHEN ((user_id % {_HASH_M}) * {_HASH_A} + {_AB_SALT})
                     % {_HASH_M} % 100 < 50 THEN 0 ELSE 1 END AS arm,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END)
           AS converted
  FROM events
  GROUP BY user_id
), agg AS (
  SELECT
    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_control,
    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_treatment,
    SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS conv_control,
    SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS conv_treatment
  FROM arms
)
SELECT CAST(n_control AS BIGINT) AS n_control,
       CAST(n_treatment AS BIGINT) AS n_treatment,
       CAST(conv_control AS BIGINT) AS conv_control,
       CAST(conv_treatment AS BIGINT) AS conv_treatment,
       (CAST(conv_treatment AS DOUBLE) / CAST(n_treatment AS DOUBLE)
        - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE))
       / sqrt(
           (CAST(conv_control + conv_treatment AS DOUBLE)
            / CAST(n_control + n_treatment AS DOUBLE))
           * (1.0 - CAST(conv_control + conv_treatment AS DOUBLE)
                    / CAST(n_control + n_treatment AS DOUBLE))
           * (1.0 / CAST(n_control AS DOUBLE)
              + 1.0 / CAST(n_treatment AS DOUBLE))
         ) AS z_score
FROM agg
"""


@query("experiment_arm_metrics", _AB_SQL)
def experiment_arm_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout with a DETERMINISTIC arm assignment (the same Knuth
    id-hash the sampling module uses — the same user lands in the same
    arm on any cluster, any run): per-arm user and converter counts
    plus the two-proportion pooled z-statistic (conversion = any
    high-value purchase; every user purchases SOMETHING in this corpus,
    so plain purchase-conversion would be the degenerate pooled=1). The z is doubles-from-
    exact-integers pushed through ONE shared expression shape, so even
    the test statistic hash-matches DuckDB bit-for-bit.

    Scale shape: one groupBy(user_id) to collapse events to (arm,
    converted), then a single global conditional aggregation — two
    shuffles total, the second over per-user rows only."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events"))
    arms = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(hash_bucket("user_id", buckets=100, salt=_AB_SALT) < 50, 0)
        .otherwise(1)
        .alias("arm"),
        "converted",
    )
    agg = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_control"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_treatment"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias(
            "conv_control"
        ),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias(
            "conv_treatment"
        ),
    )
    nc = F.col("n_control").cast("double")
    nt = F.col("n_treatment").cast("double")
    cc = F.col("conv_control").cast("double")
    ct = F.col("conv_treatment").cast("double")
    pooled = (F.col("conv_control") + F.col("conv_treatment")).cast("double") / (
        F.col("n_control") + F.col("n_treatment")
    ).cast("double")
    z = (ct / nt - cc / nc) / F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / nc + F.lit(1.0) / nt)
    )
    return agg.select(
        "n_control", "n_treatment", "conv_control", "conv_treatment",
        z.alias("z_score"),
    )


# --- Count-Min sketch with a hash-gated error profile --------------------

_CMS_DEPTH = 3
_CMS_WIDTH = 256  # deliberately small vs |users| so collisions occur
_CMS_PROBE_STRIDE = 10


_CMS_SQL = f"""
WITH h AS (
  SELECT user_id, j,
         ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
                             CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % {_CMS_WIDTH} AS pos
  FROM (SELECT DISTINCT user_id FROM events),
       (SELECT unnest(range(0, {_CMS_DEPTH})) AS j)
), counters AS (
  SELECT h.j, h.pos, COUNT(*) AS c
  FROM events e JOIN h ON h.user_id = e.user_id
  WHERE h.j IS NOT NULL
  GROUP BY h.j, h.pos
), est AS (
  SELECT h.user_id, MIN(c.c) AS cms_estimate
  FROM h JOIN counters c ON c.j = h.j AND c.pos = h.pos
  WHERE h.user_id % {_CMS_PROBE_STRIDE} = 0
  GROUP BY h.user_id
), truth AS (
  SELECT user_id, COUNT(*) AS true_count FROM events
  WHERE user_id % {_CMS_PROBE_STRIDE} = 0
  GROUP BY user_id
)
SELECT t.user_id, t.true_count,
       CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
       CAST(e.cms_estimate - t.true_count AS BIGINT) AS overestimate
FROM truth t JOIN est e ON e.user_id = t.user_id
"""


@query("count_min_error_profile", _CMS_SQL)
def count_min_error_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch ({_CMS_DEPTH} x {_CMS_WIDTH}, deliberately
    undersized so collisions occur) over per-user event counts, with
    its error MEASURED under the exact gate: for every probed user,
    the true count, the CMS estimate (min over depth rows), and the
    overestimate. The hash functions are md5-portable, so DuckDB
    reproduces the identical counters — like bloom_semi_join_stats and
    ann_recall_at_k, the approximate structure's behavior is
    hash-proven, not merely tolerance-tested. CMS guarantees
    estimate >= truth; the oracle match plus the non-negative
    overestimate column pin both directions.

    Scale shape: the sketch is {_CMS_DEPTH}*{_CMS_WIDTH} counters built
    in ONE groupBy over (depth, position) — constant-size state
    regardless of corpus, the whole point of CMS; per-key hashes are
    computed on the distinct-key dictionary, never per event row."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events")).select("user_id")
    users = ev.distinct()
    rows_j = F.array(*[F.lit(j) for j in range(_CMS_DEPTH)])
    h = users.select(
        "user_id", F.explode(rows_j).alias("j")
    ).withColumn(
        "pos",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_WIDTH,
    )
    counters = (
        ev.join(F.broadcast(h), "user_id")
        .groupBy("j", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = h.filter(F.col("user_id") % _CMS_PROBE_STRIDE == 0)
    est = (
        probes.join(F.broadcast(counters), ["j", "pos"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_estimate"))
    )
    truth = (
        ev.filter(F.col("user_id") % _CMS_PROBE_STRIDE == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return truth.join(est, "user_id").select(
        "user_id",
        "true_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_count")).alias("overestimate"),
    )


# --- portable HyperLogLog: the sketch itself under the exact gate --------

_HLL_M = 64  # 2^6 buckets; 26-bit suffix ranks
# alpha_m * m^2 * 2^32 as ONE double literal shared by both engines
_HLL_SCALE = 12478858046460.223


_HLL_SQL = f"""
WITH keys AS (
  SELECT DISTINCT event_type, user_id FROM events
), hashed AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM keys
), ranked AS (
  SELECT event_type, h % {_HLL_M} AS bucket,
         CASE WHEN h // {_HLL_M} = 0 THEN 27
              ELSE 27 - length(bin(h // {_HLL_M})) END AS rank
  FROM hashed
), regs AS (
  SELECT event_type, bucket, MAX(rank) AS rank
  FROM ranked GROUP BY event_type, bucket
), grid AS (
  SELECT t.event_type, b.bucket, COALESCE(r.rank, 0) AS rank
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(0, {_HLL_M})) AS bucket) b
  LEFT JOIN regs r ON r.event_type = t.event_type AND r.bucket = b.bucket
), pows AS (
  SELECT [{", ".join(str(1 << (32 - r)) for r in range(28))}] AS p
), agg AS (
  SELECT g.event_type,
         CAST(SUM(p[g.rank + 1]) AS BIGINT) AS harmonic_scaled,
         CAST(SUM(CASE WHEN g.rank = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_empty
  FROM grid g, pows
  GROUP BY g.event_type
), truth AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_true
  FROM events GROUP BY event_type
)
SELECT t.event_type, t.n_true, a.n_empty, a.harmonic_scaled,
       '{_HLL_SCALE!r}'::DOUBLE / CAST(a.harmonic_scaled AS DOUBLE)
         AS hll_raw_estimate
FROM truth t JOIN agg a ON a.event_type = t.event_type
"""


@query("hll_portable_estimate", _HLL_SQL)
def hll_portable_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog per event_type with the SKETCH ITSELF under the
    exact gate: md5-portable element hashes make every register value
    an exact integer DuckDB reproduces; the harmonic denominator is an
    exact BIGINT (sum of 2^(32-rank) over all {_HLL_M} buckets —
    commutative integer addition, no float fold), and the raw estimate
    is ONE shared literal-over-integer division — bit-identical. The
    production path stays `hll_weekly_users_rollup` (xxhash + register
    arrays, mergeable across grains); this twin hash-proves the
    register/rank/harmonic machinery the same way the exhaustive-probe
    entries prove the IVF path. Raw estimate only (no small-range
    correction branch) — compare n_true vs hll_raw_estimate directly.

    Scale shape: register state is {_HLL_M} rows per group no matter
    the corpus; ranks are computed on the distinct-key dictionary."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events")).select(
        "event_type", "user_id"
    )
    keys = ev.distinct()
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    ranked = keys.select(
        "event_type",
        (h % _HLL_M).alias("bucket"),
        F.when(F.floor(h / _HLL_M) == 0, 27)
        .otherwise(27 - F.length(F.bin(F.floor(h / _HLL_M))))
        .alias("rank"),
    )
    regs = ranked.groupBy("event_type", "bucket").agg(F.max("rank").alias("rank"))
    types = ev.select("event_type").distinct()
    buckets = F.array(*[F.lit(b) for b in range(_HLL_M)])
    grid = (
        types.select("event_type", F.explode(buckets).alias("bucket"))
        .join(regs, ["event_type", "bucket"], "left")
        .withColumn("rank", F.coalesce(F.col("rank"), F.lit(0)))
    )
    pow_lit = F.array(*[F.lit(1 << (32 - r)).cast("long") for r in range(28)])
    agg = grid.groupBy("event_type").agg(
        F.sum(F.element_at(pow_lit, F.col("rank").cast("int") + 1)).alias(
            "harmonic_scaled"
        ),
        F.sum((F.col("rank") == 0).cast("long")).alias("n_empty"),
    )
    truth = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_true")
    )
    return truth.join(agg, "event_type").select(
        "event_type",
        "n_true",
        "n_empty",
        "harmonic_scaled",
        (F.lit(_HLL_SCALE) / F.col("harmonic_scaled").cast("double")).alias(
            "hll_raw_estimate"
        ),
    )


_GK_EXH_SQL = """
SELECT event_type, CAST(q AS DOUBLE) AS q,
       CASE q WHEN 0.5  THEN quantile_disc(value, 0.5)
              WHEN 0.9  THEN quantile_disc(value, 0.9)
              ELSE           quantile_disc(value, 0.99) END AS v
FROM events, (SELECT unnest([0.5, 0.9, 0.99]) AS q)
GROUP BY event_type, q
"""


@query("gk_exhaustive_quantiles", _GK_EXH_SQL)
def gk_exhaustive_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Greenwald-Khanna path of approx_quantiles_events at an
    EXHAUSTIVE accuracy (>= |group|): the sketch retains every element,
    so its answers equal percentile_disc exactly and the insert/
    compress/query code sits under the exact DuckDB oracle — the same
    promotion move as the exhaustive-probe IVF entries. Production
    keeps the bounded-accuracy sketch (rows-only approx_quantiles_
    events); verified here at sf-fixture group sizes where exhaustive
    retention is affordable."""
    e = ensure_parallelism(read_table(spark, sf_dir, "events"))
    qs = e.groupBy("event_type").agg(
        F.percentile_approx(
            "value",
            F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
            10_000_000,  # >= any fixture group size -> exact retention
        ).alias("vals")
    )
    pairs = F.array(
        *[
            F.struct(F.lit(p).alias("q"), F.element_at("vals", i + 1).alias("v"))
            for i, p in enumerate((0.5, 0.9, 0.99))
        ]
    )
    return qs.select("event_type", F.explode(pairs).alias("e")).select(
        "event_type", F.col("e.q").alias("q"), F.col("e.v").alias("v")
    )


_HLL_MERGE_SQL = f"""
WITH keys AS (
  SELECT DISTINCT event_type, user_id FROM events
), hashed AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM keys
), ranked AS (
  SELECT event_type, h % {_HLL_M} AS bucket,
         CASE WHEN h // {_HLL_M} = 0 THEN 27
              ELSE 27 - length(bin(h // {_HLL_M})) END AS rank
  FROM hashed
), regs AS (
  SELECT event_type, bucket, MAX(rank) AS rank
  FROM ranked GROUP BY event_type, bucket
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM events) a
  JOIN (SELECT DISTINCT event_type FROM events) b
    ON a.event_type < b.event_type
), merged AS (
  SELECT p.type_a, p.type_b, g.bucket,
         GREATEST(COALESCE(ra.rank, 0), COALESCE(rb.rank, 0)) AS rank
  FROM pairs p
  CROSS JOIN (SELECT unnest(range(0, {_HLL_M})) AS bucket) g
  LEFT JOIN regs ra ON ra.event_type = p.type_a AND ra.bucket = g.bucket
  LEFT JOIN regs rb ON rb.event_type = p.type_b AND rb.bucket = g.bucket
), pows AS (
  SELECT [{", ".join(str(1 << (32 - r)) for r in range(28))}] AS p
), agg AS (
  SELECT type_a, type_b,
         CAST(SUM(p[m.rank + 1]) AS BIGINT) AS union_harmonic
  FROM merged m, pows GROUP BY type_a, type_b
), truth AS (
  SELECT p.type_a, p.type_b,
         (SELECT COUNT(DISTINCT user_id) FROM events
          WHERE event_type IN (p.type_a, p.type_b)) AS n_true_union
  FROM pairs p
)
SELECT t.type_a, t.type_b, CAST(t.n_true_union AS BIGINT) AS n_true_union,
       a.union_harmonic,
       '{_HLL_SCALE!r}'::DOUBLE / CAST(a.union_harmonic AS DOUBLE)
         AS union_estimate
FROM truth t
JOIN agg a ON a.type_a = t.type_a AND a.type_b = t.type_b
"""


@query("hll_portable_merge", _HLL_MERGE_SQL)
def hll_portable_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY under the exact gate: for every event-type
    pair, the union sketch is the bucket-wise MAX of the two register
    sets — exact integers both engines reproduce — and the union
    estimate is the same one-division shape as hll_portable_estimate.
    Mergeability is the property that makes HLL the 100 TB distinct-
    count path (daily sketches union into weekly/monthly without
    rescanning); here the merge operator itself is hash-proven against
    a from-scratch union truth count."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events")).select(
        "event_type", "user_id"
    )
    keys = ev.distinct()
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    ranked = keys.select(
        "event_type",
        (h % _HLL_M).alias("bucket"),
        F.when(F.floor(h / _HLL_M) == 0, 27)
        .otherwise(27 - F.length(F.bin(F.floor(h / _HLL_M))))
        .alias("rank"),
    )
    regs = ranked.groupBy("event_type", "bucket").agg(F.max("rank").alias("rank"))
    types = ev.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    buckets = F.array(*[F.lit(b) for b in range(_HLL_M)])
    grid = pairs.select("type_a", "type_b", F.explode(buckets).alias("bucket"))
    ra = regs.select(
        F.col("event_type").alias("type_a"), "bucket", F.col("rank").alias("rank_a")
    )
    rb = regs.select(
        F.col("event_type").alias("type_b"), "bucket", F.col("rank").alias("rank_b")
    )
    merged = (
        grid.join(F.broadcast(ra), ["type_a", "bucket"], "left")
        .join(F.broadcast(rb), ["type_b", "bucket"], "left")
        .withColumn(
            "rank",
            F.greatest(
                F.coalesce(F.col("rank_a"), F.lit(0)),
                F.coalesce(F.col("rank_b"), F.lit(0)),
            ),
        )
    )
    pow_lit = F.array(*[F.lit(1 << (32 - r)).cast("long") for r in range(28)])
    agg = merged.groupBy("type_a", "type_b").agg(
        F.sum(F.element_at(pow_lit, F.col("rank").cast("int") + 1)).alias(
            "union_harmonic"
        )
    )
    # union truth from the already-distinct keys frame with two
    # hash equi-joins (an OR condition over raw event rows would force
    # a nested-loop replicating |events| x |pairs|)
    ka = keys.select(F.col("event_type").alias("type_a"), "user_id")
    kb = keys.select(F.col("event_type").alias("type_b"), "user_id")
    truth = (
        pairs.join(ka, "type_a")
        .select("type_a", "type_b", "user_id")
        .unionByName(pairs.join(kb, "type_b").select("type_a", "type_b", "user_id"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").alias("n_true_union"))
    )
    return truth.join(agg, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_true_union",
        "union_harmonic",
        (F.lit(_HLL_SCALE) / F.col("union_harmonic").cast("double")).alias(
            "union_estimate"
        ),
    )


_HLL_IX_SQL = f"""
WITH keys AS (
  SELECT DISTINCT event_type, user_id FROM events
), hashed AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM keys
), ranked AS (
  SELECT event_type, h % {_HLL_M} AS bucket,
         CASE WHEN h // {_HLL_M} = 0 THEN 27
              ELSE 27 - length(bin(h // {_HLL_M})) END AS rank
  FROM hashed
), regs AS (
  SELECT event_type, bucket, MAX(rank) AS rank
  FROM ranked GROUP BY event_type, bucket
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM events) a
  JOIN (SELECT DISTINCT event_type FROM events) b
    ON a.event_type < b.event_type
), pows AS (
  SELECT [{", ".join(str(1 << (32 - r)) for r in range(28))}] AS p
), single AS (
  SELECT t.event_type,
         CAST(SUM(p[COALESCE(r.rank, 0) + 1]) AS BIGINT) AS harmonic
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(0, {_HLL_M})) AS bucket) b
  LEFT JOIN regs r ON r.event_type = t.event_type AND r.bucket = b.bucket
  CROSS JOIN pows
  GROUP BY t.event_type
), merged AS (
  SELECT pr.type_a, pr.type_b,
         CAST(SUM(p[GREATEST(COALESCE(ra.rank, 0),
                             COALESCE(rb.rank, 0)) + 1]) AS BIGINT)
           AS union_harmonic
  FROM pairs pr
  CROSS JOIN (SELECT unnest(range(0, {_HLL_M})) AS bucket) g
  LEFT JOIN regs ra ON ra.event_type = pr.type_a AND ra.bucket = g.bucket
  LEFT JOIN regs rb ON rb.event_type = pr.type_b AND rb.bucket = g.bucket
  CROSS JOIN pows
  GROUP BY pr.type_a, pr.type_b
), truth AS (
  SELECT ka.event_type AS type_a, kb.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_true_intersection
  FROM keys ka JOIN keys kb
    ON ka.user_id = kb.user_id AND ka.event_type < kb.event_type
  GROUP BY ka.event_type, kb.event_type
)
SELECT m.type_a, m.type_b, t.n_true_intersection,
       '{_HLL_SCALE!r}'::DOUBLE / CAST(sa.harmonic AS DOUBLE)
       + '{_HLL_SCALE!r}'::DOUBLE / CAST(sb.harmonic AS DOUBLE)
       - '{_HLL_SCALE!r}'::DOUBLE / CAST(m.union_harmonic AS DOUBLE)
         AS intersection_estimate
FROM merged m
JOIN single sa ON sa.event_type = m.type_a
JOIN single sb ON sb.event_type = m.type_b
JOIN truth t ON t.type_a = m.type_a AND t.type_b = m.type_b
"""


@query("hll_intersection_estimate", _HLL_IX_SQL)
def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection cardinality via inclusion-exclusion over the
    portable HLL sketches: |A and B| ~ est(A) + est(B) - est(A or B),
    each estimate the same one-division shape as hll_portable_estimate
    and the sum/difference evaluated left-to-right identically in both
    engines — so even the derived intersection estimate is
    bit-identical under the gate, compared against the exact join
    truth. This is how sketch systems answer overlap questions
    (audience intersection, contamination overlap) without storing
    per-pair state: the per-set registers are enough."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events")).select(
        "event_type", "user_id"
    )
    keys = ev.distinct()
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    ranked = keys.select(
        "event_type",
        (h % _HLL_M).alias("bucket"),
        F.when(F.floor(h / _HLL_M) == 0, 27)
        .otherwise(27 - F.length(F.bin(F.floor(h / _HLL_M))))
        .alias("rank"),
    )
    regs = ranked.groupBy("event_type", "bucket").agg(F.max("rank").alias("rank"))
    types = ev.select("event_type").distinct()
    buckets = F.array(*[F.lit(b) for b in range(_HLL_M)])
    pow_lit = F.array(*[F.lit(1 << (32 - r)).cast("long") for r in range(28)])

    grid1 = (
        types.select("event_type", F.explode(buckets).alias("bucket"))
        .join(regs, ["event_type", "bucket"], "left")
        .withColumn("rank", F.coalesce(F.col("rank"), F.lit(0)))
    )
    single = grid1.groupBy("event_type").agg(
        F.sum(F.element_at(pow_lit, F.col("rank").cast("int") + 1)).alias(
            "harmonic"
        )
    )

    pairs = types.select(F.col("event_type").alias("type_a")).join(
        types.select(F.col("event_type").alias("type_b")),
        F.col("type_a") < F.col("type_b"),
    )
    grid2 = pairs.select("type_a", "type_b", F.explode(buckets).alias("bucket"))
    ra = regs.select(
        F.col("event_type").alias("type_a"), "bucket", F.col("rank").alias("rank_a")
    )
    rb = regs.select(
        F.col("event_type").alias("type_b"), "bucket", F.col("rank").alias("rank_b")
    )
    merged = (
        grid2.join(F.broadcast(ra), ["type_a", "bucket"], "left")
        .join(F.broadcast(rb), ["type_b", "bucket"], "left")
        .withColumn(
            "rank",
            F.greatest(
                F.coalesce(F.col("rank_a"), F.lit(0)),
                F.coalesce(F.col("rank_b"), F.lit(0)),
            ),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.element_at(pow_lit, F.col("rank").cast("int") + 1)).alias(
                "union_harmonic"
            )
        )
    )
    ka = keys.select(F.col("event_type").alias("type_a"), "user_id")
    kb = keys.select(F.col("event_type").alias("type_b"), "user_id")
    truth = (
        ka.join(kb, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_true_intersection"))
    )
    est = lambda c: F.lit(_HLL_SCALE) / c.cast("double")  # noqa: E731
    sa = single.select(
        F.col("event_type").alias("type_a"), F.col("harmonic").alias("ha")
    )
    sb = single.select(
        F.col("event_type").alias("type_b"), F.col("harmonic").alias("hb")
    )
    return (
        merged.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .join(truth, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_true_intersection",
            (
                est(F.col("ha")) + est(F.col("hb")) - est(F.col("union_harmonic"))
            ).alias("intersection_estimate"),
        )
    )


# --- two-segment changepoint detection -----------------------------------

_CP_SQL = """
WITH hourly AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(hour(ts) AS BIGINT) AS h,
         COUNT(*) AS x
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT d.day, g.h, COALESCE(hr.x, 0) AS x
  FROM (SELECT DISTINCT day FROM hourly) d
  CROSS JOIN (SELECT unnest(range(0, 24)) AS h) g
  LEFT JOIN hourly hr ON hr.day = d.day AND hr.h = g.h
), pref AS (
  SELECT day, h, x,
         SUM(x) OVER w AS s1, SUM(x * x) OVER w AS a1,
         SUM(x) OVER (PARTITION BY day) AS st,
         COUNT(*) OVER w AS n1
  FROM grid
  WINDOW w AS (PARTITION BY day ORDER BY h ROWS UNBOUNDED PRECEDING)
), scored AS (
  SELECT day, h AS split_after, n1, s1, st - s1 AS s2, 24 - n1 AS n2,
         CAST(s1 * s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         + CAST((st - s1) * (st - s1) AS DOUBLE) / CAST(24 - n1 AS DOUBLE)
           AS fit
  FROM pref WHERE h < 23
)
SELECT day, split_after, n1 AS n_left, n2 AS n_right,
       CAST(s1 AS BIGINT) AS sum_left, CAST(s2 AS BIGINT) AS sum_right, fit
FROM (
  SELECT *, row_number() OVER (PARTITION BY day
                               ORDER BY fit DESC, split_after) AS rn
  FROM scored
) t WHERE rn = 1
"""


@query("changepoint_split_hours", _CP_SQL)
def changepoint_split_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-segment changepoint per day over hourly event counts: the
    split hour maximizing the between-segments fit S1^2/n1 + S2^2/n2
    (equivalently minimizing two-segment SSE, since sum(x^2) is
    constant per day). Prefix sums are exact integers; the fit key is
    exactly-representable-integer squares through two divisions and one
    add — the same IEEE shape both engines — so the argmax is
    bit-deterministic (ties to the earlier split). Counting zeros
    matters: missing hours are densified to x=0 before prefix sums.

    Scale shape: per-day state is 24 rows regardless of event volume;
    the only heavy step is the hourly pre-aggregation scan. S <= 2^26
    events/day keeps S^2 < 2^53 (exact double); beyond that, quantize
    counts first."""
    e = read_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        F.hour(F.col("ts").cast("timestamp")).cast("long").alias("h"),
    )
    hourly = e.groupBy("day", "h").agg(F.count(F.lit(1)).alias("x"))
    days = hourly.select("day").distinct()
    hours = F.array(*[F.lit(h).cast("long") for h in range(24)])
    grid = (
        days.select("day", F.explode(hours).alias("h"))
        .join(hourly, ["day", "h"], "left")
        .withColumn("x", F.coalesce(F.col("x"), F.lit(0).cast("long")))
    )
    w = (
        Window.partitionBy("day")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pref = grid.select(
        "day",
        "h",
        F.sum("x").over(w).alias("s1"),
        F.count(F.lit(1)).over(w).alias("n1"),
        F.sum("x").over(Window.partitionBy("day")).alias("st"),
    )
    scored = pref.filter(F.col("h") < 23).select(
        "day",
        F.col("h").alias("split_after"),
        F.col("n1"),
        "s1",
        (F.col("st") - F.col("s1")).alias("s2"),
        (F.lit(24) - F.col("n1")).alias("n2"),
        (
            (F.col("s1") * F.col("s1")).cast("double") / F.col("n1").cast("double")
            + ((F.col("st") - F.col("s1")) * (F.col("st") - F.col("s1"))).cast(
                "double"
            )
            / (F.lit(24) - F.col("n1")).cast("double")
        ).alias("fit"),
    )
    wr = Window.partitionBy("day").orderBy(F.desc("fit"), F.asc("split_after"))
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "day",
            "split_after",
            F.col("n1").alias("n_left"),
            F.col("n2").alias("n_right"),
            F.col("s1").cast("long").alias("sum_left"),
            F.col("s2").cast("long").alias("sum_right"),
            "fit",
        )
    )


# --- statistical process control (3-sigma daily volume flags) ------------

_SPC_SQL = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         COUNT(*) AS x
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS a
  FROM daily GROUP BY event_type
)
SELECT d.event_type, d.day, CAST(d.x AS BIGINT) AS x,
       CAST(s.s AS BIGINT) AS total, CAST(s.n AS BIGINT) AS n_days,
       (s.n > 1 AND
        (d.x * s.n - s.s) * (d.x * s.n - s.s) * (s.n - 1)
          > 9 * (s.n * s.a - s.s * s.s) * s.n) AS out_of_control
FROM daily d JOIN stats s ON s.event_type = d.event_type
"""


def spc_out_of_control(x, n, s, a):
    """The integer 3-sigma predicate: |x - s/n| > 3*sample_std without
    sqrt or division — (x*n - s)^2 * (n-1) > 9*(n*a - s^2)*n."""
    dev = x * n - s
    return (n > F.lit(1)) & (dev * dev * (n - F.lit(1)) > F.lit(9) * (n * a - s * s) * n)


@query("spc_control_limits", _SPC_SQL)
def spc_control_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control over daily event volumes: a day is
    out-of-control when |x - mean| > 3 * sample-std. The test is
    evaluated ENTIRELY in integers — (x*n - S)^2 * (n-1) > 9 *
    (n*A - S^2) * n, with S = sum(x), A = sum(x^2) — so the flags are
    bit-exact with no sqrt, no division, and no boundary flake when a
    point sits exactly on a control limit (the float formulation's
    classic failure). Magnitudes stay under 2^63 up to ~2^20 events
    per (type, day) x 2^10 days; beyond that, widen to DECIMAL(38).

    Scale shape: one pre-aggregation to (type, day) counts, one
    per-type stats row broadcast back — the monitoring query a
    pipeline runs on every load (P8/QA family, made exact)."""
    e = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
    )
    daily = e.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("a"),
    )
    return daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "x",
        F.col("s").alias("total"),
        F.col("n").alias("n_days"),
        spc_out_of_control(
            F.col("x"), F.col("n"), F.col("s"), F.col("a")
        ).alias("out_of_control"),
    )


# --- autocorrelation profile (lag 1..24 over the hourly series) -----------

_ACF_MAX_LAG = 24
_ACF_HOUR_US = 3_600_000_000

# ACF at lag k over the densified global hourly count series, computed
# through exact integers only: with n = #hours, S = sum(x), the mean-
# centered products scale by n^2 —
#   num_k = sum_t (n*x_t - S)(n*x_{t+k} - S)   (overlapping t only)
#   den   = sum_t (n*x_t - S)^2
#   acf_k = num_k / den                        (one exact-int division)
# Missing hours densify to x=0 (they ARE observations of the series);
# epoch-hour indexes come from integer micros (positive domain, so
# truncating and floor division agree in both engines).
_ACF_SQL = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // {_ACF_HOUR_US} AS h, COUNT(*) AS x
  FROM events GROUP BY 1
), grid AS (
  SELECT g.h, COALESCE(hr.x, 0) AS x
  FROM (SELECT unnest(generate_series((SELECT MIN(h) FROM hourly),
                                      (SELECT MAX(h) FROM hourly))) AS h) g
  LEFT JOIN hourly hr ON hr.h = g.h
), stats AS (
  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s FROM grid
), centered AS (
  SELECT g.h, CAST(st.n * g.x - st.s AS BIGINT) AS c
  FROM grid g CROSS JOIN stats st
), den AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS den FROM centered
)
SELECT l.lag,
       CAST(SUM(a.c * b.c) AS BIGINT) AS numerator,
       MAX(d.den) AS denominator,
       CAST(SUM(a.c * b.c) AS DOUBLE) / CAST(MAX(d.den) AS DOUBLE) AS acf
FROM (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag) l
JOIN centered a ON TRUE
JOIN centered b ON b.h = a.h + l.lag
CROSS JOIN den d
GROUP BY l.lag
ORDER BY l.lag
"""


@query("acf_lag_profile", _ACF_SQL)
def acf_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the global hourly event-count series
    at lags 1..{_ACF_MAX_LAG}: the seasonality detector (a daily cycle
    shows as an acf peak at lag 24) that feeds gap-fill / forecast
    choices downstream.

    Exactness: counts are integers, the n^2-scaled centering keeps every
    sum in BIGINT, and acf is a single exact-integer division — bit-
    deterministic in any accumulation order. Bounds: |n*x - S| <= n*max_x
    per term, and den = SUM over n hours of (n*x - S)^2 can reach
    n*(n*max_x)^2, so staying under 2^63 requires n^1.5 * max_x < 3e9
    (e.g. 10 years hourly n~9e4 allows max_x ~ 1e5 events/hour). Spark
    sum(BIGINT) wraps silently with ANSI off while DuckDB promotes to
    HUGEINT, so an overflow diverges rather than errors — shard by series
    key (see acf_by_event_type) or widen to DECIMAL before that point.

    Scale shape: the heavy step is the hourly pre-aggregation (map-side
    combinable count). The lag self-join runs on the tiny hour grid
    (24 rows out per series), not on events."""
    e = read_table(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {_ACF_HOUR_US}").alias("h")
    )
    hourly = e.groupBy("h").agg(F.count(F.lit(1)).alias("x"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        bounds.select(F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"))
        .repartition(32, "h")
        .join(hourly, "h", "left")
        .withColumn("x", F.coalesce(F.col("x"), F.lit(0).cast("long")))
    )
    stats = grid.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    centered = grid.crossJoin(F.broadcast(stats)).select(
        "h", (F.col("n") * F.col("x") - F.col("s")).alias("c")
    )
    den = centered.agg(F.sum(F.col("c") * F.col("c")).alias("den"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    b = centered.select(F.col("h").alias("hb"), F.col("c").alias("cb"))
    pairs = (
        centered.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("h") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("c") * F.col("cb")).alias("numerator"))
    )
    return (
        pairs.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "numerator",
            F.col("den").alias("denominator"),
            (
                F.col("numerator").cast("double") / F.col("den").cast("double")
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# --- per-key ACF (sharded by event_type) -----------------------------------

# The per-series form of acf_lag_profile: every arithmetic identity is
# the same, but the grid, stats, centering, lag join, and normalization
# are all PARTITIONED BY the series key — the "shard by series key at
# scale" note above, implemented. Two wins at 100 TB: (a) every
# exchange is keyed (no single-partition stage anywhere — the global
# form's grid/centered frames are one series wide), and (b) the
# overflow bound n^1.5 * max_x < 3e9 applies PER KEY, so a million
# short series are safe where one concatenated series would wrap.
_ACF_KEY_SQL = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {_ACF_HOUR_US} AS h, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
), grid0 AS (
  SELECT b.event_type, g.h
  FROM bounds b, unnest(generate_series(b.h0, b.h1)) AS g(h)
), grid AS (
  SELECT g.event_type, g.h, COALESCE(hr.x, 0) AS x
  FROM grid0 g
  LEFT JOIN hourly hr ON hr.event_type = g.event_type AND hr.h = g.h
), stats AS (
  SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM grid GROUP BY 1
), centered AS (
  SELECT g.event_type, g.h, CAST(st.n * g.x - st.s AS BIGINT) AS c
  FROM grid g JOIN stats st USING (event_type)
), den AS (
  SELECT event_type, CAST(SUM(c * c) AS BIGINT) AS den
  FROM centered GROUP BY 1
)
SELECT a.event_type, l.lag,
       CAST(SUM(a.c * b.c) AS BIGINT) AS numerator,
       MAX(d.den) AS denominator,
       CAST(SUM(a.c * b.c) AS DOUBLE) / CAST(MAX(d.den) AS DOUBLE) AS acf
FROM (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag) l
JOIN centered a ON TRUE
JOIN centered b ON b.event_type = a.event_type AND b.h = a.h + l.lag
JOIN den d ON d.event_type = a.event_type
WHERE d.den > 0
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("acf_by_event_type", _ACF_KEY_SQL)
def acf_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1..{_ACF_MAX_LAG} PER event_type — the sharded form
    of acf_lag_profile. Each series densifies its own [min, max] hour
    grid (explode of a per-key sequence — parallel across keys), and
    every downstream step (stats, centering, den, the lag self-join,
    the final normalization) is keyed by event_type, so the plan has no
    single-partition exchange and the BIGINT overflow bound holds per
    series, not for the concatenation. Constant series (den = 0) are
    excluded in both engines (0/0 is undefined, not data)."""
    e = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {_ACF_HOUR_US}").alias("h"),
    )
    hourly = e.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("x"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = (
        bounds.select(
            "event_type", F.explode(F.sequence("h0", "h1")).alias("h")
        )
        .join(hourly, ["event_type", "h"], "left")
        .withColumn("x", F.coalesce(F.col("x"), F.lit(0).cast("long")))
    )
    stats = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    centered = grid.join(stats, "event_type").select(
        "event_type", "h", (F.col("n") * F.col("x") - F.col("s")).alias("c")
    )
    den = centered.groupBy("event_type").agg(
        F.sum(F.col("c") * F.col("c")).alias("den")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    b = centered.select(
        F.col("event_type").alias("et_b"),
        F.col("h").alias("hb"),
        F.col("c").alias("cb"),
    )
    pairs = (
        centered.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("hb") == F.col("h") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("c") * F.col("cb")).alias("numerator"))
    )
    return (
        pairs.join(den, "event_type")
        .filter(F.col("den") > 0)
        .select(
            "event_type",
            "lag",
            "numerator",
            F.col("den").alias("denominator"),
            (
                F.col("numerator").cast("double") / F.col("den").cast("double")
            ).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


# --- corpus novelty curve (vocabulary growth per ingest batch) ------------

_VG_BATCH = 100  # docs per ingest batch (doc_id order = arrival order)

_VG_SQL = f"""
WITH toks AS (
  SELECT doc_id // {_VG_BATCH} AS batch_id, unnest(string_split(text, ' ')) AS token
  FROM documents
), per_batch AS (
  SELECT batch_id, token FROM toks GROUP BY batch_id, token
), first_seen AS (
  SELECT token, MIN(batch_id) AS first_batch FROM per_batch GROUP BY token
)
SELECT p.batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
       CAST(SUM(CASE WHEN f.first_batch = p.batch_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new_tokens,
       SUM(CASE WHEN f.first_batch = p.batch_id THEN 1 ELSE 0 END) * 1.0
         / COUNT(*) AS novelty_rate
FROM per_batch p JOIN first_seen f ON f.token = p.token
GROUP BY p.batch_id
ORDER BY p.batch_id
"""


@query("vocab_growth_batches", _VG_SQL)
def vocab_growth_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per ingest batch (doc_id order, {_VG_BATCH}
    docs/batch), how many distinct tokens appear and what fraction are
    first-seen — the diminishing-returns measurement behind "is more of
    this crawl still adding vocabulary?". Heaps-law curve fitting reads
    straight off this table.

    All counts exact integers (novelty_rate is one exact division);
    shape is two map-side-combinable groupBys on (batch, token) /
    (token) — the token stream never joins itself."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    toks = d.select(
        (F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(_VG_BATCH)))
        .cast("long").alias("pre"),
        F.explode(F.split("text", " ")).alias("token"),
    ).select((F.col("pre") / _VG_BATCH).cast("long").alias("batch_id"), "token")
    per_batch = toks.groupBy("batch_id", "token").agg(F.lit(1).alias("_one"))
    first_seen = per_batch.groupBy("token").agg(F.min("batch_id").alias("first_batch"))
    new_flag = (F.col("first_batch") == F.col("batch_id")).cast("long")
    return (
        per_batch.join(first_seen, "token")
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum(new_flag).alias("n_new_tokens"),
            (F.sum(new_flag) * 1.0 / F.count(F.lit(1))).alias("novelty_rate"),
        )
        .orderBy("batch_id")
    )


# --- cross-source duplication matrix --------------------------------------

# Fingerprint = md5 of the first 8 tokens: the prefix fingerprint that
# surfaces shared boilerplate/headers across crawls (full-text equality
# is the degenerate special case and finds almost nothing across
# sources — prefix overlap is what "these two crawls scrape the same
# sites" actually looks like).
_SOM_PREFIX_TOKENS = 8

_SOM_SQL = f"""
WITH fp AS (
  SELECT DISTINCT source,
         md5(array_to_string(string_split(text, ' ')[1:{_SOM_PREFIX_TOKENS}], ' ')) AS fp
  FROM documents
), totals AS (
  SELECT source, COUNT(*) AS n_fp FROM fp GROUP BY source
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM fp a JOIN fp b ON b.fp = a.fp AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b, p.n_shared,
       ta.n_fp AS n_a, tb.n_fp AS n_b,
       p.n_shared * 1.0 / LEAST(ta.n_fp, tb.n_fp) AS overlap
FROM pairs p
JOIN totals ta ON ta.source = p.source_a
JOIN totals tb ON tb.source = p.source_b
"""


@query("source_overlap_matrix", _SOM_SQL)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which crawl sources duplicate each other: per source pair, the
    count of shared prefix fingerprints (first {_SOM_PREFIX_TOKENS}
    tokens — shared boilerplate/headers) and the overlap
    coefficient n_shared / min(|A|, |B|) — the table that decides which
    redundant source to drop entirely (vs doc-level dedup, which keeps
    paying the scan). Fingerprint-only shuffle — text bodies never move
    (the dedup_exact scale design applied source-pairwise); pair
    fan-out is per-fingerprint source-set combos, bounded by the
    source count."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    from fastetl_spark.checkpointing import materialize

    fp = d.select(
        "source",
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, _SOM_PREFIX_TOKENS))
        ).alias("fp"),
    ).distinct()
    # the fingerprint table self-joins below and feeds the totals agg —
    # materialize so the text scan + distinct runs once
    fp = materialize(fp)
    totals = fp.groupBy("source").agg(F.count(F.lit(1)).alias("n_fp"))
    right = fp.select(F.col("fp").alias("fp_r"), F.col("source").alias("source_b"))
    pairs = (
        fp.join(
            right,
            (F.col("fp_r") == F.col("fp")) & (F.col("source") < F.col("source_b")),
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = totals.select(F.col("source").alias("source_a"), F.col("n_fp").alias("n_a"))
    tb = totals.select(F.col("source").alias("source_b"), F.col("n_fp").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            (F.col("n_shared") * 1.0 / F.least("n_a", "n_b")).alias("overlap"),
        )
    )


# --- population-stability drift (PSI) between time halves -------------------

# The drift monitor a production feature pipeline runs before trusting a
# new data window: bin the REFERENCE half's value distribution into
# deciles (exact integer nearest-rank boundaries — the winsorize trick,
# no float may touch a rank), count both halves into those bins, and
# emit a per-bin drift term with +1/(n+10) Laplace smoothing so an
# empty current bin stays finite. Per event_type, so every step is
# keyed — no global stage. Output is PER-BIN (no float summation
# anywhere; a consumer sums terms or flags any |term| spike).
#
# The gated statistic is the TRIANGULAR DISCRIMINATION term
# (p - q)^2 / (p + q) rather than PSI's (p - q) * ln(p / q): it ranks
# drifted bins the same way, but uses only +,-,*,/ on exactly-
# representable inputs, so it is bit-deterministic across engines —
# a first sweep showed java.lang.Math.log and DuckDB's libm ln REALLY
# DO differ by 1 ulp on these inputs (the cross-libm exposure the BM25
# note documents), which makes ln-based terms ungateable here. A
# consumer wanting literal PSI applies ln to the same smoothed counts.
# The split point is the integer midpoint of the event time range —
# pure arithmetic, identical in both engines.

_PSI_BINS = 10


def _psi_bounds_sql() -> tuple[str, str]:
    # DISC rank ceil(k*n/10) as exact integers — the convention Spark's
    # percentile_approx implements at covering accuracy (its internal
    # double ceil(p*n) never diverges from this integer form for decile
    # probs, n <= 50M), so drift_bins(exact=False, accuracy>=n) is
    # bit-equal to the gated exact path
    ranks = ",\n".join(
        f"         MIN(CASE WHEN rk = ({k} * n + 9) // 10 THEN value END) AS b{k}"
        for k in range(1, _PSI_BINS)
    )
    bin_expr = " + ".join(
        f"(CASE WHEN value > b{k} THEN 1 ELSE 0 END)" for k in range(1, _PSI_BINS)
    )
    return ranks, bin_expr


_PSI_RANKS_SQL, _PSI_BIN_SQL = _psi_bounds_sql()
_PSI_COALESCE_SQL = ", ".join(
    f"COALESCE(b.b{k}, 'Infinity'::DOUBLE) AS b{k}" for k in range(1, _PSI_BINS)
)

_PSI_SQL = f"""
WITH ev AS (
  SELECT event_type, value, event_id, epoch_us(ts) AS us FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
), mid AS (
  SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev
), tagged AS (
  SELECT event_type, value, event_id, (us < mid.mid) AS is_ref
  FROM ev CROSS JOIN mid
), ref AS (
  SELECT event_type, value, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM tagged WHERE is_ref
), bounds0 AS (
  SELECT event_type,
{_PSI_RANKS_SQL}
  FROM ref GROUP BY event_type
), bounds AS (
  -- LEFT join from ALL event types: a type with no reference-half rows
  -- (brand-new after the midpoint — the strongest drift signal) gets
  -- +infinity boundaries, so every current row lands in bin 0 and the
  -- report SHOWS it (n_ref = 0, q0 large) instead of dropping it
  SELECT a.event_type, {_PSI_COALESCE_SQL}
  FROM (SELECT DISTINCT event_type FROM tagged) a
  LEFT JOIN bounds0 b USING (event_type)
), binned AS (
  SELECT t.event_type, t.is_ref, {_PSI_BIN_SQL} AS bin
  FROM tagged t JOIN bounds USING (event_type)
), grid AS (
  SELECT b.event_type, g.bin
  FROM (SELECT DISTINCT event_type FROM bounds) b
  CROSS JOIN (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin) g
), counts AS (
  SELECT g.event_type, g.bin,
         CAST(COALESCE(SUM(CASE WHEN b.is_ref THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ref,
         CAST(COALESCE(SUM(CASE WHEN b.is_ref THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_cur
  FROM grid g
  LEFT JOIN binned b ON b.event_type = g.event_type AND b.bin = g.bin
  GROUP BY 1, 2
), tot AS (
  SELECT event_type,
         CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
         CAST(SUM(n_cur) AS BIGINT) AS tot_cur
  FROM counts GROUP BY 1
)
SELECT c.event_type, c.bin, c.n_ref, c.n_cur,
       (CAST(c.n_ref + 1 AS DOUBLE) / CAST(t.tot_ref + {_PSI_BINS} AS DOUBLE)
        - CAST(c.n_cur + 1 AS DOUBLE) / CAST(t.tot_cur + {_PSI_BINS} AS DOUBLE))
       * (CAST(c.n_ref + 1 AS DOUBLE) / CAST(t.tot_ref + {_PSI_BINS} AS DOUBLE)
          - CAST(c.n_cur + 1 AS DOUBLE) / CAST(t.tot_cur + {_PSI_BINS} AS DOUBLE))
       / (CAST(c.n_ref + 1 AS DOUBLE) / CAST(t.tot_ref + {_PSI_BINS} AS DOUBLE)
          + CAST(c.n_cur + 1 AS DOUBLE) / CAST(t.tot_cur + {_PSI_BINS} AS DOUBLE))
         AS drift_term
FROM counts c JOIN tot t USING (event_type)
ORDER BY c.event_type, c.bin
"""


def drift_bins(
    ev: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    order_col: str = "event_id",
    us_col: str = "us",
    exact: bool = True,
    accuracy: int | None = None,
) -> DataFrame:
    """Two-halves drift report over an arbitrary (key, value, order,
    epoch-micros) frame — the reusable core behind the gated query.
    NULL key/value/timestamp rows are dropped (a
    NULL is not a distribution observation, and NULL comparison
    semantics diverge between engines); a key with no reference-half
    rows still reports — all its rows land in bin 0 against +infinity
    fallback boundaries, so a brand-new key shows as maximal drift
    instead of vanishing.

    Boundary modes (operators/quantiles.group_quantile_bounds):
    ``exact=True`` (the gated twin) ranks the reference half per key —
    a sort window that degrades to a skewed near-single-partition sort
    when the key column has few distinct values; ``exact=False`` is the
    100 TB plan — percentile_approx decile sketches in a plain groupBy,
    rank error <= n/accuracy, and BIT-EQUAL to exact when ``accuracy``
    covers the largest key (both modes take the element at disc rank
    ceil(k*n/10)); ``accuracy=None`` (the default) derives that
    covering accuracy from the reference half, enforcing the
    bit-equality precondition instead of assuming it. That derivation
    is one eager per-key count job per call (an extra input scan): when
    a frame feeds several sketch calls, derive it once with
    ``quantiles.covering_accuracy`` and pass it as ``accuracy=``."""
    spark = ev.sparkSession
    ev = ev.select(
        F.col(key_col).alias("event_type"),
        F.col(value_col).alias("value"),
        F.col(order_col).alias("event_id"),
        F.col(us_col).alias("us"),
    ).filter(
        F.col("value").isNotNull()
        & F.col("us").isNotNull()
        & F.col("event_type").isNotNull()
    )
    # integer midpoint: Spark's `div` and DuckDB's `//` BOTH truncate
    # toward zero (checked: -7 // 2 = -3 in DuckDB), so the two engines
    # pick the identical midpoint for ANY sum, negative (pre-1970
    # epochs) included. A double (min+max)/2 would lose integer
    # resolution past 2^53 — e.g. nanosecond epochs through the public
    # us_col — and rows at the midpoint would be tagged into different
    # halves across engines
    mid = ev.agg(
        F.expr("(MIN(us) + MAX(us)) div 2").alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(mid)).select(
        "event_type", "value", "event_id", (F.col("us") < F.col("mid")).alias("is_ref")
    )
    from fastetl_spark.operators.quantiles import (
        bin_by_bounds,
        group_quantile_bounds,
    )

    bounds0 = group_quantile_bounds(
        tagged.filter("is_ref"),
        "event_type",
        "value",
        [(k, _PSI_BINS) for k in range(1, _PSI_BINS)],
        order_col="event_id",
        exact=exact,
        accuracy=accuracy,
    )
    # LEFT join from ALL types with +inf fallback boundaries: a type
    # with no reference rows (appeared after the midpoint) reports all
    # its rows in bin 0 instead of vanishing from the drift report
    bounds = (
        tagged.select("event_type")
        .distinct()
        .join(bounds0, "event_type", "left")
        .select(
            "event_type",
            F.coalesce(
                F.col("bounds"),
                F.array(*[F.lit(float("inf"))] * (_PSI_BINS - 1)),
            ).alias("bounds"),
        )
    )
    binned = tagged.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "is_ref",
        bin_by_bounds(F.col("value"), F.col("bounds")).alias("bin"),
    )
    grid = (
        bounds.select("event_type")
        .crossJoin(
            spark.range(0, _PSI_BINS).select(F.col("id").cast("int").alias("bin"))
        )
    )
    counts = (
        grid.join(binned, ["event_type", "bin"], "left")
        .groupBy("event_type", "bin")
        .agg(
            F.coalesce(
                F.sum(F.col("is_ref").cast("long")), F.lit(0)
            ).cast("long").alias("n_ref"),
            F.coalesce(
                F.sum((~F.col("is_ref")).cast("long")), F.lit(0)
            ).cast("long").alias("n_cur"),
        )
    )
    return psi_terms_from_counts(counts).orderBy("event_type", "bin")


def psi_terms_from_counts(counts: DataFrame) -> DataFrame:
    """The drift statistic's shared tail: per-(key, bin) Laplace-
    smoothed triangular-discrimination terms from a COMPLETE
    (event_type, bin, n_ref, n_cur) count grid (every bin present,
    zeros included — the smoothing denominators assume it). One keyed
    total aggregate + one broadcast-sized join; the term is a rational
    of exact integers through a pinned IEEE shape, so the SAME function
    serves the batch report (`value_drift_bins`) and the streaming
    monitor's foreachBatch (`streaming_drift_psi`) under one oracle —
    the stream/batch equivalence gate covers the statistic itself, not
    just the counts."""
    tot = counts.groupBy("event_type").agg(
        F.sum("n_ref").alias("tot_ref"), F.sum("n_cur").alias("tot_cur")
    )
    p = (F.col("n_ref") + 1).cast("double") / (
        F.col("tot_ref") + _PSI_BINS
    ).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (
        F.col("tot_cur") + _PSI_BINS
    ).cast("double")
    return counts.join(tot, "event_type").select(
        "event_type",
        "bin",
        "n_ref",
        "n_cur",
        ((p - q) * (p - q) / (p + q)).alias("drift_term"),
    )


@query("value_drift_bins", _PSI_SQL)
def value_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, decile-bin) drift terms (triangular
    discrimination) between the first and second halves of the event
    stream — reference-half boundaries by exact integer nearest-rank,
    Laplace-smoothed proportions, one pinned RATIONAL IEEE shape per
    output row (no transcendental, so no cross-libm exposure)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
    )
    return drift_bins(ev)


@query("value_drift_bins_sketch", _PSI_SQL)
def value_drift_bins_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift report's SCALE plan under the exact hash gate:
    boundaries from percentile_approx sketches (no per-key sort window
    anywhere in the plan — tests/test_analytics_drift.py asserts it)
    at a DERIVED accuracy that provably covers every key (accuracy=None
    — enforced, not a hardcoded constant that a larger SF could
    silently outgrow), where the sketch is then the disc-rank element
    and therefore bit-equal to the exact twin (`value_drift_bins`). The
    same oracle gates both; at 100 TB you lower the accuracy and keep
    this plan."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
    )
    return drift_bins(ev, exact=False, accuracy=None)


# --- Poisson-bootstrap confidence intervals ---------------------------------

# The bootstrap that actually runs at 100 TB: classic resampling needs a
# multinomial draw over ALL rows (global coordination), but Poisson(1)
# draw counts per (row, replicate) are independent — one generator
# fan-out, no shuffle beyond the final per-replicate aggregate (Chamandy
# et al., "Estimating Uncertainty for Massive Data Streams", Google
# 2012). Determinism: the draw count comes from a 60-bit md5 uniform
# compared against PRE-COMPUTED integer thresholds floor(CDF_Pois1(k) *
# 2^60) (k capped at 5; tail mass 0.37%), values are integer-quantized
# cents, so per-replicate sums are exact BIGINTs and boot_mean is one
# pinned division.

_BOOT_REPS = 32
_BOOT_T = (  # floor(CDF(k) * 2^60) for k = 0..4, Poisson(lambda=1)
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
)

_BOOT_K_SQL = " + ".join(
    f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _BOOT_T
)

_BOOT_SQL = f"""
WITH ev AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100) AS BIGINT) AS qv
  FROM events WHERE value IS NOT NULL
), draws AS (
  SELECT e.event_type, e.qv, r.rep,
         ('0x' || substr(md5(e.event_id || ':' || r.rep), 1, 15))::BIGINT AS u
  FROM ev e
  CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_REPS - 1})) AS rep) r
), counted AS (
  SELECT event_type, rep, qv, {_BOOT_K_SQL} AS k FROM draws
)
SELECT event_type, CAST(rep AS INT) AS rep,
       CAST(SUM(k) AS BIGINT) AS n_draws,
       CAST(SUM(k * qv) AS BIGINT) AS sum_qv,
       CAST(SUM(k * qv) AS DOUBLE) / CAST(SUM(k) AS DOUBLE) / 100.0
         AS boot_mean
FROM counted
GROUP BY 1, 2
HAVING SUM(k) > 0
ORDER BY 1, 2
"""


def poisson_bootstrap_means(
    df: DataFrame,
    key_col: str,
    id_col: str,
    qv_col: str,
    reps: int = _BOOT_REPS,
) -> DataFrame:
    """Per-(key, replicate) Poisson-bootstrap resampled means over an
    integer-quantized value column: (key, rep, n_draws, sum_qv,
    boot_mean). Consumers take nearest-rank quantiles of boot_mean
    across replicates for the CI. One generator fan-out (x reps), one
    map-side-combinable aggregate — no resampling shuffle, the property
    that makes the bootstrap feasible on a 100 TB fact table."""
    spark = df.sparkSession
    reps_df = spark.range(0, reps).select(F.col("id").cast("int").alias("rep"))
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col("rep"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    k = sum(
        ((u >= F.lit(t)).cast("int") for t in _BOOT_T[1:]),
        (u >= F.lit(_BOOT_T[0])).cast("int"),
    )
    drawn = df.crossJoin(F.broadcast(reps_df)).select(
        F.col(key_col).alias("event_type"),
        "rep",
        F.col(qv_col).alias("qv"),
        k.alias("k"),
    )
    return (
        drawn.groupBy("event_type", "rep")
        .agg(
            F.sum("k").alias("n_draws"),
            F.sum(F.col("k") * F.col("qv")).alias("sum_qv"),
        )
        .filter(F.col("n_draws") > 0)
        .select(
            "event_type",
            "rep",
            "n_draws",
            "sum_qv",
            (
                F.col("sum_qv").cast("double")
                / F.col("n_draws").cast("double")
                / F.lit(100.0)
            ).alias("boot_mean"),
        )
        .orderBy("event_type", "rep")
    )


@query("bootstrap_mean_ci", _BOOT_SQL)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_BOOT_REPS} Poisson-bootstrap replicate means of event value per
    event_type — distribution-free uncertainty for the per-type mean,
    under the exact gate (md5-uniform draws vs integer CDF thresholds,
    exact cent sums, one pinned division per output row)."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("qv"),
    )
    return poisson_bootstrap_means(ev, "event_type", "event_id", "qv")


# --- weighted median per group ----------------------------------------------

# The weighted lower median: smallest value whose cumulative weight
# reaches half the group total.  Distinct values aggregate first (ties
# fold into one row), so the cumulative window runs over value
# cardinality per group, and every comparison is integer (quantities)
# against pass-through doubles (prices) — no derived-float hazard.

_WMED_SQL = """
WITH g AS (
  SELECT l_returnflag, l_extendedprice AS price,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT l_returnflag, price, w,
         CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
  FROM g
)
SELECT l_returnflag, MAX(tot) AS total_weight,
       MIN(CASE WHEN 2 * cw >= tot THEN price END) AS weighted_median
FROM c GROUP BY 1
"""


@query("weighted_median_price", _WMED_SQL)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag — the
    robust center a pricing audit wants when line sizes vary by orders
    of magnitude.  One groupBy on (group, value), then the per-group
    cumulative weights over the distinct-price support.

    Scale shape (r14): the support's running sum used to be a window
    partitioned by the 3-value l_returnflag dictionary — bounded at 3
    tasks over a support that SCALES with the data (distinct prices
    grow with the part count; the r13 VERDICT dict-window class).  It
    now rides ranks.bucketed_cum_sum partitioned by (flag, bucket),
    with per-flag totals derived driver-side from the same bounded
    totals collect and broadcast back — integer-exact either way, so
    the hash is unchanged."""
    from fastetl_spark.operators.ranks import (
        bucketed_cum_sum,
        collect_bucket_totals,
        materialize_with_bounds,
        totals_to_offsets,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    li = ensure_parallelism(read_table(spark, sf_dir, "lineitem"))
    g = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w"))
    sup, bounds = materialize_with_bounds(g, "price")
    totals = collect_bucket_totals(
        sup, "price", "w", bounds=bounds, partition_cols=["l_returnflag"]
    )
    cum = bucketed_cum_sum(
        sup,
        "price",
        "w",
        bounds=bounds,
        partition_cols=["l_returnflag"],
        inclusive=True,
        out_col="cw",
        offsets=totals_to_offsets(totals, len(bounds) + 1),
    )
    per_flag: dict = {}
    for k, _bkt, t in totals:
        per_flag[k] = per_flag.get(k, 0) + t
    nk = F.broadcast(
        spark.createDataFrame(
            list(per_flag.items()),
            StructType(
                [
                    StructField("__wm_flag", StringType()),
                    StructField("tot", LongType(), False),
                ]
            ),
        )
    )
    c = cum.join(
        nk, F.col("l_returnflag").eqNullSafe(F.col("__wm_flag"))
    ).drop("__wm_flag")
    return c.groupBy("l_returnflag").agg(
        F.max("tot").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cw") >= F.col("tot"), F.col("price"))
        ).alias("weighted_median"),
    )


# --- hourly seasonal adjustment ---------------------------------------------

# Seasonal-naive adjustment: subtract the hour-of-day mean from each
# event's value — the preprocessing every diurnal-pattern anomaly
# screen runs before thresholding.  Hour means are exact rationals
# (integer cent sums / counts, one pinned division each); the per-event
# residual is one pinned subtraction on those doubles.  One 24-row
# groupBy broadcast back over the events — no window over the corpus.

_SEASONAL_SQL = """
WITH base AS (
  SELECT event_id, EXTRACT(hour FROM ts) AS hh,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), hm AS (
  SELECT hh, CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(cents) AS BIGINT) AS sum_h
  FROM base GROUP BY 1
)
SELECT b.event_id, CAST(b.hh AS BIGINT) AS hour_of_day, b.cents,
       CAST(h.sum_h AS DOUBLE) / CAST(h.n_h AS DOUBLE) AS seasonal_cents,
       CAST(b.cents AS DOUBLE)
         - CAST(h.sum_h AS DOUBLE) / CAST(h.n_h AS DOUBLE) AS residual_cents
FROM base b JOIN hm h USING (hh)
"""


@query("seasonal_adjust_hourly", _SEASONAL_SQL)
def seasonal_adjust_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal adjustment of event values: per-event
    residual against the exact hourly mean (integer cents; the two
    divisions and one subtraction are the only float ops)."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events"))
    base = ev.filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).select(
        "event_id",
        F.hour("ts").alias("hh"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    hm = base.groupBy("hh").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("cents").cast("long").alias("sum_h"),
    )
    mean = F.col("sum_h").cast("double") / F.col("n_h").cast("double")
    return base.join(F.broadcast(hm), "hh").select(
        "event_id",
        F.col("hh").cast("long").alias("hour_of_day"),
        "cents",
        mean.alias("seasonal_cents"),
        (F.col("cents").cast("double") - mean).alias("residual_cents"),
    )


# --- skyline / Pareto frontier ----------------------------------------------

# The classic skyline query (Borzsony/Kossmann/Stocker, ICDE 2001):
# points not dominated in (maximize quantity, minimize price).  The
# sort-based evaluation needs NO pairwise dominance join: collapse to
# min-price per distinct quantity, then a running min over quantity
# descending — a point is on the frontier iff it beats every
# higher-quantity point's best price.  One groupBy + one per-group
# window over distinct quantities; prices are pass-through doubles
# (comparisons only, no derived-float arithmetic).

_PARETO_SQL = """
WITH g AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS quantity,
         MIN(l_extendedprice) AS minp
  FROM lineitem GROUP BY 1, 2
), w AS (
  SELECT l_returnflag, quantity, minp,
         MIN(minp) OVER (PARTITION BY l_returnflag ORDER BY quantity DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min
  FROM g
)
SELECT l_returnflag, quantity, minp AS frontier_price
FROM w WHERE prev_min IS NULL OR minp < prev_min
"""


@query("pareto_frontier_lineitems", _PARETO_SQL)
def pareto_frontier_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag skyline of (quantity up, price down): the
    undominated quantity/price trade-off curve, via the sort-based
    running-min evaluation instead of the quadratic dominance
    self-join."""
    li = ensure_parallelism(read_table(spark, sf_dir, "lineitem"))
    g = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("long").alias("quantity")
    ).agg(F.min("l_extendedprice").alias("minp"))
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.desc("quantity"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        g.withColumn("prev_min", F.min("minp").over(w))
        .filter(F.col("prev_min").isNull() | (F.col("minp") < F.col("prev_min")))
        .select(
            "l_returnflag", "quantity", F.col("minp").alias("frontier_price")
        )
    )


# --- functional-dependency profiler -----------------------------------------

# Schema discovery (the Metanome/TANE primitive): a candidate FD
# lhs -> rhs HOLDS iff every lhs value maps to exactly one rhs value,
# measured exactly as |distinct (lhs, rhs)| - |distinct lhs| violating
# extra mappings.  One distinct-aggregate per candidate over the same
# scan; candidates here cover the plausible event-table rules,
# including one that holds by construction (event_id is a key) and
# ones that fail (user behavior is not single-typed).

_FD_CANDIDATES = [
    ("event_id", "event_type"),
    ("event_id", "user_id"),
    ("user_id", "event_type"),
    ("event_type", "user_id"),
]

# NULL semantics are PINNED by an explicit both-sides-present filter:
# without it Spark's countDistinct(lhs, rhs) drops rows where EITHER
# column is NULL while DuckDB's COUNT(DISTINCT (lhs, rhs)) keeps a
# row-struct with a NULL field — a cross-engine divergence that the
# NULL-free fixture would mask (r10 ADVICE).  An FD is therefore
# evaluated over rows where both sides are present, by definition.
_FD_SQL = " UNION ALL ".join(
    f"""
SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
       CAST(COUNT(DISTINCT {lhs}) AS BIGINT) AS n_lhs,
       CAST(COUNT(DISTINCT ({lhs}, {rhs})) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT ({lhs}, {rhs})) - COUNT(DISTINCT {lhs}) AS BIGINT)
         AS extra_mappings,
       COUNT(DISTINCT ({lhs}, {rhs})) = COUNT(DISTINCT {lhs}) AS holds
FROM events
WHERE {lhs} IS NOT NULL AND {rhs} IS NOT NULL"""
    for lhs, rhs in _FD_CANDIDATES
)


@query("functional_dependency_profile", _FD_SQL)
def functional_dependency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact functional-dependency check over candidate column pairs
    of the events table: lhs -> rhs holds iff distinct-pair count
    equals distinct-lhs count.  Each candidate is one distinct
    aggregate (map-side partial); at 100 TB the same counts come from
    the gated HLL sketches first, with the exact pass reserved for
    survivors."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events"))
    return fd_profile(ev, _FD_CANDIDATES)


def fd_profile(
    df: DataFrame, candidates: list[tuple[str, str]]
) -> DataFrame:
    """FD check lhs -> rhs per candidate pair, evaluated over rows
    where BOTH columns are non-NULL (pinned — see _FD_SQL note)."""
    out = None
    for lhs, rhs in candidates:
        base = df.filter(F.col(lhs).isNotNull() & F.col(rhs).isNotNull())
        row = base.agg(
            F.countDistinct(lhs).cast("long").alias("n_lhs"),
            F.countDistinct(lhs, rhs).cast("long").alias("n_pairs"),
        ).select(
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            "n_lhs",
            "n_pairs",
            (F.col("n_pairs") - F.col("n_lhs")).alias("extra_mappings"),
            (F.col("n_pairs") == F.col("n_lhs")).alias("holds"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# --- event-type PMI co-occurrence --------------------------------------------

# Pointwise-mutual-information screen over event-type pairs
# co-occurring within a user: lift = (n_users * n_both) /
# (n_a * n_b) as the exact-rational PMI argument (one division), with
# integer counts alongside so the consumer can apply any smoothing.
# Type-pair space is tiny (k^2), user aggregation is one groupBy.

_PMI_SQL = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), n AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ut GROUP BY 1
), p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_both, ma.n_t AS n_a, mb.n_t AS n_b,
       CAST(n.n_users * p.n_both AS DOUBLE)
         / CAST(ma.n_t * mb.n_t AS DOUBLE) AS lift
FROM p
JOIN m ma ON ma.event_type = p.type_a
JOIN m mb ON mb.event_type = p.type_b
CROSS JOIN n
"""


@query("event_type_pmi", _PMI_SQL)
def event_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user co-occurrence lift between event-type pairs — the PMI
    argument (lift > 1 = types attract, < 1 = repel) with exact
    integer supports.  The self-join runs on the DISTINCT (user, type)
    frame (at most k rows per user), so pair volume is bounded by
    n_users * k^2, never events^2."""
    ev = ensure_parallelism(read_table(spark, sf_dir, "events"))
    ut = ev.select("user_id", "event_type").distinct()
    n = ev.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    m = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    p = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ma = F.broadcast(m.select(F.col("event_type").alias("type_a"),
                              F.col("n_t").alias("n_a")))
    mb = F.broadcast(m.select(F.col("event_type").alias("type_b"),
                              F.col("n_t").alias("n_b")))
    return (
        p.join(ma, "type_a")
        .join(mb, "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b",
            (
                (F.col("n_users") * F.col("n_both")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )
