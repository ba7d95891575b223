"""Partitioning strategies for co-located and skew-resistant joins —
the knobs a 100 TB deployment turns (SURVEY §4 / task brief):

- bucketed tables: both join sides bucketed by the key -> the join
  runs shuffle-free (SortMergeJoin over pre-sorted buckets);
- salted join: a hot key is split across `salt_n` sub-keys so no single
  task receives the whole key's rows (manual complement to AQE's
  skew-join splitting, which only helps sort-merge stages).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastetl_spark.registry import query


def write_bucketed(
    df: DataFrame, table_name: str, bucket_col: str, num_buckets: int = 16, sort: bool = True
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table; two
    tables bucketed identically join without an Exchange."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table_name)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, on: str) -> DataFrame:
    return spark.table(left_table).join(spark.table(right_table), on)


def salted_join(
    fact: DataFrame, dim: DataFrame, on: str, salt_n: int = 8
) -> DataFrame:
    """Equi-join where `fact` is skewed on `on`: fact rows get a random-
    free deterministic salt (hash of a secondary expression modulo
    salt_n), and the dim side is exploded salt_n times, so each hot key
    spreads over salt_n tasks. Result equals fact.join(dim, on)."""
    fact_s = fact.withColumn("__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_n)))
    dim_s = dim.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)])))
    out = fact_s.join(dim_s, [on, "__salt"])
    return out.drop("__salt")


_SALT_N = 16

_SALTED_AGG_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


def salted_agg(
    df: DataFrame, key: str, salt_col: str, val_col: str, salt_n: int = _SALT_N
) -> DataFrame:
    """Two-phase skew-proof aggregation of `val_col` by `key`: phase 1
    groups by (key, deterministic salt from `salt_col`) so a hot key's
    rows spread over salt_n reduce tasks; phase 2 merges the salt_n
    partials per key — COUNT and SUM are monoids, so the rewrite is
    exact. The phase-2 shuffle moves only keys x salt_n partial rows,
    never data rows. This is the manual twin of AQE skew-split for
    aggregations (AQE only splits joins)."""
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(salt_n)))
    partial = salted.groupBy(key, "__salt").agg(
        F.count(F.lit(1)).alias("__n"), F.sum(val_col).alias("__total")
    )
    return partial.groupBy(key).agg(
        F.sum("__n").alias("n"), F.sum("__total").alias("total")
    )


@query("skewed_agg_salted", _SALTED_AGG_SQL)
def skewed_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event totals per type via salted two-phase aggregation — the
    events table has exactly 5 event_type values, the canonical
    low-cardinality skew shape where every row of a type lands on one
    reducer. The oracle is the plain GROUP BY: equality proves the
    salt/merge rewrite changes the plan, not the answer. Value sums run
    in exact DECIMAL (per-row cast) so partial-merge order cannot move
    the float result."""
    from fastetl_spark.io.readers import ensure_parallelism, read_table

    e = ensure_parallelism(read_table(spark, sf_dir, "events")).withColumn(
        "__val", F.col("value").cast("decimal(18,6)")
    )
    out = salted_agg(e, "event_type", "event_id", "__val")
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("double").alias("total_value"),
    )


# --- rendezvous (highest-random-weight) shard assignment ------------------

# Rendezvous hashing (Thaler & Ravishankar 1996): key k goes to the
# shard maximizing hash(k, shard). Unlike modulo assignment, growing
# the shard set from n to n+1 moves only ~1/(n+1) of the keys (each
# key moves only if the NEW shard wins its rendezvous) — the stable
# re-sharding rule for persistent indexes, stateful-stream state, and
# bucketed storage layouts. The md5-portable weight makes the
# assignment engine-independent, so the oracle re-derives it exactly.
_RDV_SHARDS = 8

_RDV_SQL = f"""
WITH weights AS (
  SELECT user_id, s.shard,
         ('0x' || substr(md5(user_id || '#' || s.shard), 1, 15))::BIGINT AS w
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT unnest(generate_series(0, {_RDV_SHARDS - 1})) AS shard) s
), ranked AS (
  SELECT user_id, shard,
         row_number() OVER (PARTITION BY user_id ORDER BY w DESC, shard) AS rn
  FROM weights
)
SELECT r.user_id, CAST(r.shard AS INT) AS shard, CAST(c.n AS BIGINT) AS n_events
FROM ranked r
JOIN (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id) c
  ON c.user_id = r.user_id
WHERE r.rn = 1
"""


def rendezvous_shard(key, n_shards: int):
    """Column expression: the rendezvous shard of `key` over shards
    0..n_shards-1 (argmax of the portable md5 weight; ties broken by
    the lower shard id). Pure per-row arithmetic — no shuffle, no
    state, deterministic across engines and runs."""
    pairs = F.array(
        *[
            F.struct(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("#", key, F.lit(s))), 1, 15
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("w"),
                F.lit(-s).alias("neg_shard"),
            )
            for s in range(n_shards)
        ]
    )
    return (-F.array_max(pairs)["neg_shard"]).cast("int")


@query("rendezvous_shard_assign", _RDV_SQL)
def rendezvous_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every user assigned to its rendezvous shard (of {_RDV_SHARDS}),
    with event counts — the stable-resharding building block under the
    exact gate. The Spark side folds the argmax into one per-row
    array_max over (weight, -shard) structs (ties to the LOWER shard,
    matching the oracle's ORDER BY w DESC, shard); the oracle ranks an
    exploded weight table. The struct-argmax is safe because md5
    weights are exact integers — no float fold anywhere."""
    from fastetl_spark.io.readers import ensure_parallelism, read_table

    e = ensure_parallelism(read_table(spark, sf_dir, "events"))
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return counts.select(
        "user_id",
        rendezvous_shard(F.col("user_id"), _RDV_SHARDS).alias("shard"),
        "n_events",
    )


# --- rendezvous reshard of the bucketed store (gated) ----------------------

# The assignment function above proves HRW stability row-wise; this
# query exercises the STORE operation built on it
# (io/bucketed.reshard_bucketed): an orders destination is
# loaded at 4 shards, resharded online to 5, and read back — the
# post-reshard content must hash-match the original table exactly, so
# any row lost, duplicated, or corrupted by the move-only-changed-
# buckets migration fails the gate. The moved-volume (~1/new_n) and
# grow-only-moves-to-new-shards properties are unit-asserted in
# tests/test_reshard.py.
_RESHARD_OLD_N = 4
_RESHARD_NEW_N = 5

_RESHARD_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
"""


@query("rendezvous_reshard_roundtrip", _RESHARD_SQL)
def rendezvous_reshard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (4 shards) + reshard (5 shards) + full read of a v2
    bucketed orders store — content identity across an online HRW
    reshard, under the exact gate. The scratch store is rebuilt only
    when absent/incomplete (complete = the latest manifest says 5 shards
    and both generations are committed), mirroring bucketed_time_travel."""
    from fastetl_spark.io.bucketed import (
        list_generations,
        read_bucketed,
        read_manifest,
        reshard_bucketed,
        write_bucketed,
    )
    from fastetl_spark.io.readers import ensure_parallelism, read_table
    from fastetl_spark.operators.dedup_index import _scratch_index_path

    orders = ensure_parallelism(read_table(spark, sf_dir, "orders")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dest = _scratch_index_path(sf_dir, "reshard")
    m = read_manifest(spark, dest)
    complete = (
        m is not None
        and m.get("n_shards") == _RESHARD_NEW_N
        and len(list_generations(spark, dest)) >= 2
    )
    if not complete:
        import shutil

        from fastetl_spark.io.fsutil import vacuum_dest

        shutil.rmtree(dest, ignore_errors=True)
        vacuum_dest(spark, dest)
        write_bucketed(orders, dest, ["o_orderkey"], 64, n_shards=_RESHARD_OLD_N)
        reshard_bucketed(spark, dest, _RESHARD_NEW_N)
    return read_bucketed(spark, dest)
