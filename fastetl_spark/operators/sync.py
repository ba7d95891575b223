"""Replication & incremental sync (reference flagship, SURVEY §2.9).

The reference's `sync_db_2_db` (fast_etl.py:454-652) stages a diff by
high-watermark, then runs UPDATE-join + anti-join INSERT + chunked
DELETE inside the destination DB. Here the same semantics are pure
DataFrame algebra, so they run distributed:

- merge_upsert      = J3 update-join + J4 anti-join insert in one pass
- delete_sync       = J5 semi-join delete (anti-join retain)
- incremental_sync  = watermark -> diff -> merge -> delete composite
- WatermarkStore    = the control/state table (parquet-backed)

Scale notes: the merge shuffles both sides once on the key. On a real
lakehouse this maps 1:1 to Delta `MERGE INTO` (whenMatchedUpdateAll /
whenNotMatchedInsertAll / whenNotMatchedBySourceDelete); this engine
keeps a pure-Spark implementation so it works against any sink. The
increment side is usually far smaller than the base — AQE will pick a
broadcast or skew-aware join at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastetl_spark.io.readers import read_table
from fastetl_spark.registry import query


def merge_upsert(dest: DataFrame, inc: DataFrame, keys: list[str]) -> DataFrame:
    """Upsert: incoming rows win on key match (J3), new keys are appended
    (J4). Equivalent to the reference's UPDATE ... FROM + INSERT WHERE NOT
    EXISTS pair (fast_etl.py:437-451), executed as one distributed plan."""
    kept = dest.join(inc.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(inc.select(*dest.columns))


def delete_sync(dest: DataFrame, deleted_keys: DataFrame, keys: list[str]) -> DataFrame:
    """Remove rows whose keys appear in the exclusion feed (J5;
    fast_etl.py:612-633 did chunked `DELETE ... WHERE key IN (...)`)."""
    return dest.join(deleted_keys.select(*keys), on=keys, how="left_anti")


def incremental_sync(
    dest: DataFrame,
    source: DataFrame,
    keys: list[str],
    watermark_col: str,
    deleted_keys: DataFrame | None = None,
    since: object | None = None,
) -> DataFrame:
    """Full §2.9 composite. Guard: destination must be non-empty
    (fast_etl.py:551-555). Watermark = MAX(watermark_col) of dest unless
    `since` is given (fast_etl.py:557-559)."""
    if dest.isEmpty():
        raise ValueError("destination table is empty — run a full load first")
    wm = since if since is not None else dest.agg(F.max(watermark_col)).first()[0]
    inc = source.filter(F.col(watermark_col) > F.lit(wm))
    merged = merge_upsert(dest, inc, keys)
    if deleted_keys is not None:
        merged = delete_sync(merged, deleted_keys, keys)
    return merged


_STATE_SCHEMA = (
    "table_name string, watermark_value string, value_type string, seq long, "
    "updated_at timestamp"
)


class WatermarkStore:
    """Parquet-backed watermark state table (the reference reads the max
    back from the destination each run; a control table avoids a full
    scan of a 100 TB destination)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def get(self, table: str):
        """Latest watermark for `table`, parsed back to its native type.

        The latest row wins by (updated_at, seq) — NOT a max over the
        stringified value column, which regresses numeric watermarks
        lexicographically (max('9','10') = '9'). Only a missing state
        path reads as "no watermark", checked up front through the Hadoop
        FS (a Spark read of it logs a stack trace before it fails);
        corruption/permission errors propagate instead of silently
        triggering a full re-sync.

        The state is read with its declared schema: no inference job.
        State dirs written by an older schema (without seq/value_type)
        read those columns as null, so an upgrade never breaks existing
        sync state: pre-upgrade rows order by updated_at alone (nulls
        last on seq) and parse as str (the old behavior).
        """
        from fastetl_spark.io.fsutil import hadoop_fs

        fs, path_cls = hadoop_fs(self.spark, self.path)
        if not fs.exists(path_cls(self.path)):
            return None
        state = self.spark.read.schema(_STATE_SCHEMA).parquet(self.path)
        row = (
            state.filter(F.col("table_name") == table)
            .orderBy(F.desc("updated_at"), F.desc_nulls_last("seq"))
            .select("watermark_value", "value_type")
            .first()
        )
        if row is None:
            return None
        return _parse_watermark(row[0], row[1] or "str")

    def set(self, table: str, value) -> None:
        import time

        from fastetl_spark.io.writers import literal_frame

        row = literal_frame(
            self.spark,
            "table_name string, watermark_value string, value_type string, seq long",
            (table, str(value), _watermark_type(value), time.time_ns()),
        ).withColumn("updated_at", F.current_timestamp())
        row.write.mode("append").parquet(self.path)


def _watermark_type(value) -> str:
    import datetime as _dt

    if isinstance(value, bool):
        return "str"
    if isinstance(value, int):
        return "int"
    if isinstance(value, float):
        return "float"
    if isinstance(value, _dt.datetime):
        return "datetime"
    if isinstance(value, _dt.date):
        return "date"
    return "str"


def _parse_watermark(text: str, value_type: str):
    import datetime as _dt

    if text is None:
        return None
    if value_type == "int":
        return int(text)
    if value_type == "float":
        return float(text)
    if value_type == "datetime":
        return _dt.datetime.fromisoformat(text)
    if value_type == "date":
        return _dt.date.fromisoformat(text)
    return text


# --- registered demonstration queries -------------------------------------

_ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

_UPSERT_SQL = f"""
WITH dest AS (
  SELECT {_ORDER_COLS} FROM orders WHERE o_orderkey % 2 = 0
), inc AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT * FROM inc
UNION ALL
SELECT d.* FROM dest d
WHERE NOT EXISTS (SELECT 1 FROM inc i WHERE i.o_orderkey = d.o_orderkey)
"""


@query("upsert_merge", _UPSERT_SQL)
def upsert_merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+J4 as one distributed merge: dest = even orderkeys, increment =
    every third orderkey with a changed totalprice; increment wins."""
    o = read_table(spark, sf_dir, "orders")
    dest = o.filter(F.col("o_orderkey") % 2 == 0)
    inc = o.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    return merge_upsert(dest, inc, ["o_orderkey"])


_SYNC_SQL = f"""
WITH dest AS (
  SELECT {_ORDER_COLS} FROM orders WHERE o_orderdate <= TIMESTAMP '2000-06-01'
), wm AS (
  SELECT MAX(o_orderdate) AS v FROM dest
), inc AS (
  SELECT {_ORDER_COLS} FROM orders WHERE o_orderdate > (SELECT v FROM wm)
), merged AS (
  SELECT * FROM inc
  UNION ALL
  SELECT d.* FROM dest d
  WHERE NOT EXISTS (SELECT 1 FROM inc i WHERE i.o_orderkey = d.o_orderkey)
), excluded AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderstatus = 'F' AND o_orderdate > TIMESTAMP '2001-01-01'
)
SELECT m.* FROM merged m
WHERE NOT EXISTS (SELECT 1 FROM excluded e WHERE e.o_orderkey = m.o_orderkey)
"""


@query("incremental_sync_composite", _SYNC_SQL)
def incremental_sync_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sync_db_2_db pipeline: watermark from the loaded snapshot,
    diff from source, merge, then deletion sync from an exclusion feed."""
    o = read_table(spark, sf_dir, "orders")
    dest = o.filter(F.col("o_orderdate") <= F.lit("2000-06-01").cast("timestamp"))
    excluded = o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_orderdate") > F.lit("2001-01-01").cast("timestamp"))
    ).select("o_orderkey")
    return incremental_sync(dest, o, ["o_orderkey"], "o_orderdate", deleted_keys=excluded)


# --- incremental aggregate maintenance -----------------------------------

_AGG_CUTOFF = "1997-01-01"

_INC_AGG_SQL = """
WITH base AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY 1
), delta AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  GROUP BY 1
)
SELECT month,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       CAST(SUM(total) AS DOUBLE) AS total_price
FROM (SELECT * FROM base UNION ALL SELECT * FROM delta) u
GROUP BY month
"""


def merge_partial_aggs(base: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two partial aggregates that share a (keys, n_orders, total)
    schema: union + re-sum. COUNT and SUM are commutative monoids, so
    maintaining a materialized aggregate costs one pass over the DELTA
    plus a shuffle of the (small) aggregate rows — never a rescan of the
    base data. This is the incremental-materialized-view pattern the
    reference's full-reload operators (load_info row counts) lack."""
    return (
        base.unionByName(delta)
        .groupBy(*keys)
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("total").alias("total"))
    )


@query("incremental_agg_merge", _INC_AGG_SQL)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order totals maintained incrementally: a base aggregate
    (orders before the cutoff) merged with a delta aggregate (orders on
    or after it) via partial-agg union — the oracle recomputes the same
    numbers; equality proves merge(base, delta) == full recompute.
    Money sums run in exact DECIMAL per the registry determinism rule
    (one final cast to double)."""
    o = read_table(spark, sf_dir, "orders")
    cutoff = F.lit(_AGG_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.date_trunc("month", F.col("o_orderdate")).alias("month"),
                F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
            )
            .groupBy("month")
            .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("price").alias("total"))
        )

    merged = merge_partial_aggs(
        partial(o.filter(F.col("o_orderdate") < cutoff)),
        partial(o.filter(F.col("o_orderdate") >= cutoff)),
        ["month"],
    )
    return merged.select(
        "month",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("total").cast("double").alias("total_price"),
    )


# --- sync verification: range checksums ----------------------------------

_CHECKSUM_BUCKET = 10_000

_CHECKSUM_SQL = f"""
SELECT o_orderkey // {_CHECKSUM_BUCKET} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(BIT_XOR(('0x' || substr(md5(concat_ws('|',
              CAST(o_orderkey AS VARCHAR), o_orderstatus, o_orderpriority)), 1, 15))::BIGINT)
            AS BIGINT) AS checksum
FROM orders
GROUP BY 1
"""


def table_checksum(df: DataFrame, key_col: str, cols: list[str],
                   bucket_width: int = _CHECKSUM_BUCKET) -> DataFrame:
    """Per-key-range content checksums: rows are canonicalized to a
    delimited string, hashed (md5 -> 60-bit int), and XOR-folded per
    bucket. XOR is commutative/associative and cannot overflow, so the
    checksum is independent of partitioning and row order — two tables
    synced over ANY engine pair can be compared bucket-by-bucket with
    one aggregate each, and only mismatching key ranges need a row-level
    diff (the reference's row-count guard, upgraded to content
    equality). Canonicalization contract: pass integer/string/date
    columns (or pre-format floats/timestamps yourself) — float-to-string
    rendering is engine-specific.

    Buckets come from integer `div` (exact at any key magnitude, and it
    truncates toward zero exactly like DuckDB's `//`); a float-floor
    bucket would silently lose precision past 2^53 and disagree with
    `//` on negative keys."""
    canon = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    row_hash = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return (
        df.select(
            F.expr(f"`{key_col}` div {int(bucket_width)}").alias("bucket"),
            row_hash.alias("__h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("__h").alias("checksum"),
        )
    )


@query("sync_checksum_ranges", _CHECKSUM_SQL)
def sync_checksum_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-table checksums per 10k-key range over the sync-relevant
    columns. The oracle computes the same folds in DuckDB — equality
    across two unrelated engines is exactly the property that makes the
    checksum usable for cross-system sync verification."""
    o = read_table(spark, sf_dir, "orders")
    return table_checksum(
        o, "o_orderkey", ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    )


# --- snapshot diff -------------------------------------------------------

_SNAPSHOT_CUTOFF = "1997-01-01"
_DIFF_MOD = 13

_SNAPSHOT_DIFF_SQL = f"""
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
  WHERE o_orderdate <= TIMESTAMP '{_SNAPSHOT_CUTOFF}'
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {_DIFF_MOD} = 0
              THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
              OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
"""


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: list[str], compare_cols: list[str]
) -> DataFrame:
    """Row-level diff of two snapshots of a keyed table: each key is
    'added' (new only), 'removed' (old only), 'changed' (present in
    both, any compare column differs — null-safe), or 'unchanged'.

    The reconciliation report a sync pipeline runs to explain what an
    increment did (and the debugging tool when two systems disagree —
    pair with sync_checksum_ranges to find WHICH ranges disagree, then
    this to see the rows). One full-outer sort-merge join keyed on
    `keys` — both sides shuffle once; on bucketed destinations
    (io/bucketed) with matching specs the bucket ids serve as the
    co-location hint. Output is (keys..., status): project before
    joining so only keys + compared columns move."""
    # presence comes from literal sentinels, not data nullability: a
    # full-outer miss nulls EVERY column of the missing side, and a
    # compare column may legitimately be null on a real row
    joined = (
        old.select(*keys, *[F.col(c).alias(f"__o_{c}") for c in compare_cols])
        .withColumn("__o_present", F.lit(1))
        .join(
            new.select(*keys, *[F.col(c).alias(f"__n_{c}") for c in compare_cols])
            .withColumn("__n_present", F.lit(1)),
            on=keys,
            how="full_outer",
        )
    )
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    status = (
        F.when(F.col("__o_present").isNull(), F.lit("added"))
        .when(F.col("__n_present").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(*keys, status.alias("status"))


def make_change_feed(
    old: DataFrame, new: DataFrame, keys: list[str], op_col: str = "op"
) -> DataFrame:
    """Debezium-style change feed between two snapshots: one row per
    key whose state changed — op 'U' carrying the NEW payload for
    added/changed keys, op 'D' (null payload) for removed keys;
    unchanged keys emit nothing. One full-outer join, same shuffle
    shape as snapshot_diff. ``apply_change_feed(old, feed) == new`` by
    construction — the round trip is oracle-gated (cdc_apply_roundtrip)
    and is what makes a feed REPLAYABLE: ship the feed, not the
    snapshot."""
    payload = [c for c in new.columns if c not in keys]
    o = old.select(*keys, *[F.col(c).alias(f"__o_{c}") for c in payload]).withColumn(
        "__o_present", F.lit(1)
    )
    n = new.select(*keys, *payload).withColumn("__n_present", F.lit(1))
    joined = o.join(n, on=keys, how="full_outer")
    changed = F.lit(False)
    for c in payload:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(c))
    op = (
        F.when(F.col("__n_present").isNull(), F.lit("D"))
        .when(F.col("__o_present").isNull() | changed, F.lit("U"))
    )
    return (
        joined.withColumn(op_col, op)
        .filter(F.col(op_col).isNotNull())
        .select(*keys, *payload, op_col)
    )


def apply_change_feed(
    dest: DataFrame, feed: DataFrame, keys: list[str], op_col: str = "op"
) -> DataFrame:
    """Consume an op-coded change feed (I/U rows carry the new payload,
    D rows delete by key): upsert the I/U rows, anti-join out the D
    keys — §2.9's merge + delete steps driven by an explicit feed
    instead of a source diff. For a bucketed destination the same feed
    splits into partial_merge(increment, deleted_keys)."""
    ups = feed.filter(F.col(op_col) != "D").drop(op_col)
    dels = feed.filter(F.col(op_col) == "D").select(*keys)
    return delete_sync(
        merge_upsert(dest, ups.select(*dest.columns), keys), dels, keys
    )


_CDC_ROUNDTRIP_SQL = f"""
SELECT o_orderkey,
       CASE WHEN o_orderkey % {_DIFF_MOD} = 0
            THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
       o_orderstatus
FROM orders
WHERE o_orderkey % 7 != 3
"""


@query("cdc_apply_roundtrip", _CDC_ROUNDTRIP_SQL)
def cdc_apply_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change-feed round-trip theorem under the gate:
    apply_change_feed(old, make_change_feed(old, new)) must equal `new`
    EXACTLY — the oracle is simply the `new` snapshot, so any feed
    generation bug (missed delete, stale payload, phantom op) or apply
    bug (wrong precedence, lost row) fails the hash compare. old drops
    keys % 7 == 1 (those become adds) and new drops keys % 7 == 3
    (removals) with every {_DIFF_MOD}th price restated (changes), so
    all three op kinds are exercised."""
    from fastetl_spark.io.readers import ensure_parallelism

    orders = ensure_parallelism(read_table(spark, sf_dir, "orders")).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 1)
    new = orders.filter(F.col("o_orderkey") % 7 != 3).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % _DIFF_MOD == 0, F.col("o_totalprice") + 1000.0
        ).otherwise(F.col("o_totalprice")),
    )
    feed = make_change_feed(old, new, ["o_orderkey"])
    return apply_change_feed(old, feed, ["o_orderkey"])


@query("snapshot_diff_orders", _SNAPSHOT_DIFF_SQL)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: 'old' = orders at the {_SNAPSHOT_CUTOFF}
    snapshot, 'new' = current orders with every {_DIFF_MOD}th price
    restated — exercises added + changed + unchanged in one run."""
    from fastetl_spark.io.readers import ensure_parallelism

    orders = ensure_parallelism(read_table(spark, sf_dir, "orders"))
    old = orders.filter(
        F.col("o_orderdate") <= F.lit(_SNAPSHOT_CUTOFF).cast("timestamp")
    )
    new = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % _DIFF_MOD == 0, F.col("o_totalprice") + 1000.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"])


# --- time-travel read of a v2 bucketed destination (gated) ----------------

# gen1 = the plain orders projection; gen2 doubles every 5th price and
# inserts synthetic keys. The gated query reads AT gen1 after gen2 has
# been committed, so the manifest-resolution logic (not the latest
# pointer) must produce the baseline — if resolution ever leaked gen2
# data, the %5 keys' doubled prices or the synthetic keys would break
# the hash compare. The oracle is simply gen1's construction SQL.
_TIME_TRAVEL_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
"""


@query("bucketed_time_travel", _TIME_TRAVEL_SQL)
def bucketed_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2 generations under the oracle gate: initial load (gen1),
    partial_merge of updates + inserts (gen2, the latest), then a
    read_bucketed_at(gen=1) time-travel read that must reproduce the
    baseline byte-for-byte. The scratch destination is rebuilt only
    when absent/incomplete (two committed generations = complete),
    mirroring the persistent-index scratch reuse."""
    from fastetl_spark.io.bucketed import (
        list_generations,
        partial_merge,
        read_bucket_spec,
        read_bucketed_at,
        write_bucketed,
    )
    from fastetl_spark.io.readers import ensure_parallelism
    from fastetl_spark.operators.dedup_index import _scratch_index_path

    orders = ensure_parallelism(read_table(spark, sf_dir, "orders")).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    dest = _scratch_index_path(sf_dir, "ttravel")
    gens = (
        list_generations(spark, dest)
        if read_bucket_spec(spark, dest) is not None
        else []
    )
    # gen 1 must still be PRESENT, not merely implied by a length — if
    # extra generations ever appeared, GC (keep_gens=2) would drop gen
    # 1's manifest and a read-at would fail; rebuild instead
    complete = len(gens) >= 2 and 1 in gens
    if not complete:
        import shutil

        from fastetl_spark.io.fsutil import vacuum_dest

        shutil.rmtree(dest, ignore_errors=True)
        # an interrupted previous build can strand the merge lock and
        # staging dirs as SIBLINGS of dest — without this sweep a stale
        # lock would make every rebuild's partial_merge raise
        vacuum_dest(spark, dest)
        write_bucketed(orders, dest, ["o_orderkey"], 8)
        inc = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2.0
        )
        inserts = orders.filter(F.col("o_orderkey") % 5 == 1).withColumn(
            "o_orderkey", F.col("o_orderkey") + 100_000_000
        )
        partial_merge(spark, dest, inc.unionByName(inserts))
    return read_bucketed_at(spark, dest, 1)
