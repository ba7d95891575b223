"""Key-bucketed parquet destination: partial MERGE without a table format.

The plain-parquet incremental sync (SURVEY §2.9; reference
fast_etl.py:454-652) had one remaining O(|destination|)-per-increment
cost: every merge read AND rewrote the whole destination. The reference
avoids that by doing UPDATE/INSERT inside the destination database
(fast_etl.py:601-610); a lakehouse avoids it with a Delta MERGE's
file-level pruning. This module is the plain-parquet equivalent:

- the destination is laid out as N independent hash-buckets of the
  merge key, one parquet directory each, plus a ``_bucket_spec.json``
  control file;
- a merge computes the increment's touched bucket set (≤ N small ints
  — a bounded, documented driver value, not a data collect), reads
  ONLY those buckets, merges, and publishes them;
- untouched buckets are never opened, so merge cost is
  O(|increment| + |touched buckets|), and a point increment into a
  4096-bucket 100 TB destination rewrites ~25 GB, not 100 TB.

Every merge destination has one layout, the manifest layout (spec
version 2, ``write_bucketed``): bucket data lives in versioned
``bucket_<K>_v<gen>`` dirs, and a rename-committed
``_manifest_<gen>.json`` is the single pointer that publishes a
generation. A merge writes all touched buckets' new dirs first
(unreferenced, invisible), then flips the pointer once — readers
racing the merge resolve one committed generation, old or new, never a
mix; a crash before the commit leaves the old generation fully intact,
and re-running the same increment converges. The previous generation's
dirs are retained for in-flight readers and GC'd a generation later.
The manifest also records each bucket's row count and the data schema,
so a count or a read needs no Spark job. The trade: the root is not
raw-readable with ``spark.read.parquet(path)`` — go through
``read_bucketed``. The Delta-backed path (operators/delta_merge)
remains the choice where delta is installed.

The append-only indexes (operators/dedup_index, the IVF-PQ
``vectors/`` of operators/ann_index) keep the Hive layout (spec version
1, ``_write_hive_bucketed``): ``path/__fe_bucket=K/`` subdirectories
that appends add files to in place and ``compact_buckets`` coalesces.
That layout stays raw-readable: ``spark.read.parquet(path)`` discovers
the bucket column as a Hive partition (``read_bucketed`` drops it).
``partial_merge`` rejects it; ``bucketize`` migrates such a root to the
manifest layout once.

The bucket id is ``pmod(hash(keys), n_buckets)`` — Spark's Murmur3, the
same function Spark's managed bucketing uses. Note the limit: a plain
parquet scan cannot REPORT that partitioning to Catalyst (only
saveAsTable bucketing or a JVM DataSource V2 can), so a join of two
identically-bucketed destinations still plans a shuffle. What equal
specs DO buy: maintenance and reconciliation can process bucket PAIRS
independently (diff/checksum/merge one bucket at a time, each pair a
small self-contained job), and any per-bucket operator (partial_merge,
read_buckets_for_keys, compact_buckets) lines up one-to-one across the
two tables. For genuinely Exchange-free recurring joins, write through
operators/partitioning.write_bucketed (saveAsTable bucketing,
plan-asserted shuffle-free in tests).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fastetl_spark.checkpointing import materialize, observed
from fastetl_spark.io.fsutil import (
    hadoop_fs,
    parquet_rows,
    read_text_file,
    replace_dir,
    replace_text_file,
    write_text_file,
)
from fastetl_spark.io.writers import literal_frame

BUCKET_COL = "__fe_bucket"
SPEC_FILE = "_bucket_spec.json"
# Hive layout: the append-only indexes (``__fe_bucket=K/`` dirs)
HIVE_VERSION = 1
# Manifest layout: every merge destination (versioned bucket dirs + a
# rename-committed manifest pointer; readers see one generation)
MANIFEST_VERSION = 2
MANIFEST_PREFIX = "_manifest_"


def bucket_id(keys: list[str], n_buckets: int) -> Column:
    """Bucket id of a row: pmod(murmur3(keys), n). Stable for a given
    Spark major version; the spec file pins n so every writer agrees."""
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(int(n_buckets)))


def _spec_path(path: str) -> str:
    return path.rstrip("/") + "/" + SPEC_FILE


def read_bucket_spec(spark: SparkSession, path: str) -> dict | None:
    """The destination's bucket spec, or None when ``path`` is not a
    bucketed destination."""
    text = read_text_file(spark, _spec_path(path))
    if text is None:
        return None
    spec = json.loads(text)
    if spec.get("version") not in (HIVE_VERSION, MANIFEST_VERSION):
        raise ValueError(f"unsupported bucket spec version: {spec.get('version')}")
    return spec


# --- manifest layout (v2): committed generations ---------------------------


def _manifest_gens(fs, path_cls, base: str) -> list[int]:
    """Committed manifest generations, ascending (metadata listing)."""
    if not fs.exists(path_cls(base)):
        return []
    gens = []
    for s in fs.listStatus(path_cls(base)):
        name = s.getPath().getName()
        if name.startswith(MANIFEST_PREFIX) and name.endswith(".json"):
            try:
                gens.append(int(name[len(MANIFEST_PREFIX) : -len(".json")]))
            except ValueError:
                continue
    return sorted(gens)


def read_manifest(spark: SparkSession, path: str) -> dict | None:
    """Latest committed manifest of a v2 destination:
    {"gen": N, "buckets": {bucket_id: dir_name}} — the one pointer that
    defines which physical dirs are live. None when no manifest exists.

    Manifests committed by this version also carry ``rows`` ({bucket_id:
    row count} of the live dirs, from their parquet footers) and
    ``schema`` (the data schema as Spark JSON), so a row count or a
    read of the live dirs needs no Spark job; older manifests lack both
    keys and readers fall back to the footers and to schema inference."""
    fs, path_cls = hadoop_fs(spark, path)
    gens = _manifest_gens(fs, path_cls, path.rstrip("/"))
    if not gens:
        return None
    return _read_manifest_gen(spark, path, gens[-1])


def _commit_manifest(
    spark: SparkSession,
    path: str,
    gen: int,
    buckets: dict[int, str],
    shards: dict[int, int] | None = None,
    n_shards: int | None = None,
    rows: dict[int, int] | None = None,
    schema: dict | None = None,
) -> None:
    """THE atomic publish step: write the manifest to a hidden tmp name,
    then rename onto `_manifest_<gen>.json` (rename-to-new-name is
    atomic on HDFS/POSIX). A reader lists committed manifests and takes
    the highest generation, so at every instant it resolves either the
    old pointer or the new one — never a partially-published state.

    ``shards`` (sharded destinations only) is the bucket -> rendezvous
    shard placement map — per-bucket provenance carried on every
    generation so a reader/mover always knows which shard owns which
    bucket dirs as of this gen. ``n_shards`` rides along as the ring
    size the map was computed for: the MANIFEST is the source of truth
    for shard placement (it commits atomically with the data pointer),
    the spec file is a convenience mirror refreshed after commit.

    ``rows`` and ``schema`` (see ``read_manifest``) are recorded when
    known."""
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    tmp = f"{base}/.{MANIFEST_PREFIX}{gen}.json.tmp"
    final = f"{base}/{MANIFEST_PREFIX}{gen}.json"
    m: dict = {"gen": gen, "buckets": {str(k): v for k, v in buckets.items()}}
    if shards is not None:
        m["shards"] = {str(k): int(v) for k, v in shards.items()}
    if n_shards is not None:
        m["n_shards"] = int(n_shards)
    if rows is not None:
        m["rows"] = {str(k): int(v) for k, v in rows.items()}
    if schema is not None:
        m["schema"] = schema
    write_text_file(spark, tmp, json.dumps(m))
    if not fs.rename(path_cls(tmp), path_cls(final)):
        fs.delete(path_cls(tmp), False)
        raise IOError(
            f"could not commit {final} (a concurrent merge may have won the race)"
        )


def _gc_generations(spark: SparkSession, path: str, keep_gens: int = 2) -> None:
    """Drop bucket dirs and manifests no longer referenced by the newest
    ``keep_gens`` manifests. The previous generation is retained so a
    reader that resolved the old pointer just before a flip can still
    open its files; anything older is dead."""
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    gens = _manifest_gens(fs, path_cls, base)
    live_dirs: set[str] = set()
    for g in gens[-keep_gens:]:
        text = read_text_file(spark, f"{base}/{MANIFEST_PREFIX}{g}.json")
        live_dirs |= set(json.loads(text)["buckets"].values())
    for g in gens[:-keep_gens]:
        fs.delete(path_cls(f"{base}/{MANIFEST_PREFIX}{g}.json"), False)
    for s in fs.listStatus(path_cls(base)):
        name = s.getPath().getName()
        if s.isDirectory() and name.startswith("bucket_") and name not in live_dirs:
            fs.delete(s.getPath(), True)


def write_bucketed(
    df: DataFrame,
    path: str,
    keys: list[str],
    n_buckets: int,
    keep_gens: int = 2,
    n_shards: int | None = None,
) -> None:
    """Initial full load of a bucketed merge destination, in the
    manifest layout: bucket data lands in versioned
    ``bucket_<K>_v<gen>`` dirs and a rename-committed manifest file is
    the single pointer that publishes a generation. Merges then flip
    ALL touched buckets in one pointer commit — a reader racing a merge
    sees the old generation or the new one, never a mix. Read it with
    ``read_bucketed``, not a raw ``spark.read.parquet(path)``. The spec
    file is committed last, so a half-written initial load is never
    mistaken for a valid bucketed destination.

    Rows are distributed by bucket before the write (``_write_by_bucket``):
    one file per bucket, more only where AQE splits an oversized one.

    ``keep_gens`` (recorded in the spec) is the GC retention window:
    merge-time GC keeps the newest N generations' manifests and dirs.
    2 = current + previous (enough for in-flight readers and a one-step
    ``rollback_bucketed``); raise it on destinations that need deeper
    undo/time-travel, at the cost of retaining old bucket dirs.

    ``n_shards`` adds the rendezvous shard layer: every bucket is
    assigned to a shard via HRW hashing (``_hrw_shard``) and the
    placement map rides on each manifest. Shards are the PLACEMENT
    unit (which storage node / stateful worker owns which buckets);
    buckets stay the merge-I/O unit. ``reshard_bucketed`` grows or
    shrinks the shard count while moving only the ~1/N of rows whose
    HRW assignment changes."""
    if n_shards is not None and n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    spark = df.sparkSession
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    staging = base + ".__init_staging__"
    if fs.exists(path_cls(staging)):
        fs.delete(path_cls(staging), True)
    _write_by_bucket(df.withColumn(BUCKET_COL, bucket_id(keys, n_buckets)), staging)
    gen = 1
    buckets: dict[int, str] = {}
    rows: dict[int, int] = {}
    fs.mkdirs(path_cls(base))
    for s in fs.listStatus(path_cls(staging)):
        name = s.getPath().getName()
        if not (s.isDirectory() and name.startswith(f"{BUCKET_COL}=")):
            continue
        b = int(name.split("=", 1)[1])
        dirname = f"bucket_{b}_v{gen}"
        if not fs.rename(s.getPath(), path_cls(f"{base}/{dirname}")):
            raise IOError(f"could not place {dirname} under {base}")
        buckets[b] = dirname
        rows[b] = parquet_rows(spark, f"{base}/{dirname}")
    if not buckets:
        # zero-row initial load: keep one schema-bearing empty bucket
        empty = literal_frame(spark, df.schema)
        empty.write.mode("overwrite").parquet(f"{base}/bucket_0_v{gen}")
        buckets[0], rows[0] = f"bucket_0_v{gen}", 0
    fs.delete(path_cls(staging), True)
    shards = (
        {b: _hrw_shard(b, n_shards) for b in range(n_buckets)}
        if n_shards is not None
        else None
    )
    _commit_manifest(
        spark, path, gen, buckets, shards=shards, n_shards=n_shards,
        rows=rows, schema=df.schema.jsonValue(),
    )
    spec: dict = {
        "version": MANIFEST_VERSION,
        "keys": list(keys),
        "n_buckets": int(n_buckets),
        "keep_gens": int(keep_gens),
    }
    if n_shards is not None:
        spec["n_shards"] = int(n_shards)
    write_text_file(spark, _spec_path(path), json.dumps(spec))


def _write_hive_bucketed(
    df: DataFrame, path: str, keys: list[str], n_buckets: int
) -> None:
    """Initial load of an append-only index in the Hive layout:
    ``path/__fe_bucket=K/`` dirs (one file each, ``_write_by_bucket``)
    that appends add files to in place, then the spec file (version 1),
    committed last. Merge destinations use ``write_bucketed``."""
    _write_by_bucket(df.withColumn(BUCKET_COL, bucket_id(keys, n_buckets)), path)
    spec = {"version": HIVE_VERSION, "keys": list(keys), "n_buckets": int(n_buckets)}
    write_text_file(df.sparkSession, _spec_path(path), json.dumps(spec))


def _read_dirs(spark: SparkSession, m: dict, dirs: list[str]) -> DataFrame:
    """Read bucket dirs of the generation ``m`` describes. A recorded
    schema skips parquet schema inference, which costs a Spark job."""
    reader = spark.read
    if "schema" in m:
        reader = reader.schema(StructType.fromJson(m["schema"]))
    return reader.parquet(*dirs)


def read_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Read a bucketed destination as plain rows (bucket column dropped).
    A manifest-layout root resolves its latest committed manifest — one
    consistent generation, even while a merge publishes; a Hive-layout
    index root is a raw read. Filters on the merge key
    do NOT prune buckets automatically (the hash is opaque to
    Catalyst); use ``read_buckets_for_keys`` for point lookups."""
    spec = read_bucket_spec(spark, path)
    # The manifest, not the spec, decides whether this is a v2 root: a
    # crash (or the atomic spec swap's delete/rename window) can leave
    # the spec briefly ABSENT while manifests exist — falling through to
    # the raw Hive read would then scan EVERY retained generation's bucket
    # dirs and silently return duplicated rows.
    m = (
        read_manifest(spark, path)
        if spec is None or spec["version"] == MANIFEST_VERSION
        else None
    )
    if m is not None:
        base = path.rstrip("/")
        return _read_dirs(spark, m, [f"{base}/{d}" for d in m["buckets"].values()])
    if spec is not None and spec["version"] == MANIFEST_VERSION:
        raise IOError(
            f"{path} has a v2 bucket spec but no committed manifest — "
            "the destination was never published or is corrupt"
        )
    return spark.read.parquet(path).drop(BUCKET_COL)


def list_generations(spark: SparkSession, path: str) -> list[int]:
    """Committed manifest generations of a v2 destination, ascending.
    Empty for a Hive-layout index (no manifests)."""
    fs, path_cls = hadoop_fs(spark, path)
    return _manifest_gens(fs, path_cls, path.rstrip("/"))


def _read_manifest_gen(spark: SparkSession, path: str, gen: int) -> dict:
    base = path.rstrip("/")
    text = read_text_file(spark, f"{base}/{MANIFEST_PREFIX}{gen}.json")
    if text is None:
        raise ValueError(
            f"generation {gen} of {path} has no manifest (never committed, "
            f"or GC'd past the keep_gens window); available: "
            f"{list_generations(spark, path)}"
        )
    m = json.loads(text)
    m["buckets"] = {int(k): v for k, v in m["buckets"].items()}
    if "rows" in m:
        m["rows"] = {int(k): int(v) for k, v in m["rows"].items()}
    if "shards" in m:
        m["shards"] = {int(k): int(v) for k, v in m["shards"].items()}
    if "n_shards" in m:
        m["n_shards"] = int(m["n_shards"])
    return m


def read_bucketed_at(spark: SparkSession, path: str, gen: int) -> DataFrame:
    """Time-travel read of a v2 destination: resolve generation ``gen``'s
    manifest instead of the latest. Only generations inside the GC
    retention window (``keep_gens``, default 2) still have their bucket
    dirs on disk; older gens raise here."""
    m = _read_manifest_gen(spark, path, gen)
    base = path.rstrip("/")
    fs, path_cls = hadoop_fs(spark, path)
    missing = [d for d in m["buckets"].values() if not fs.exists(path_cls(f"{base}/{d}"))]
    if missing:
        raise ValueError(
            f"generation {gen} of {path} is no longer readable: bucket dirs "
            f"{missing[:3]}{'...' if len(missing) > 3 else ''} were GC'd "
            "(outside the keep_gens retention window)"
        )
    return _read_dirs(spark, m, [f"{base}/{d}" for d in m["buckets"].values()])


def rollback_bucketed(spark: SparkSession, path: str, to_gen: int | None = None) -> int:
    """Roll a v2 destination back to an earlier generation by committing
    a NEW manifest that points at the old generation's bucket dirs —
    the undo is itself an atomic pointer flip, so readers see the
    pre-rollback or post-rollback state, never a mix, and the forward
    history (one manifest per publish) stays intact for audit.

    ``to_gen`` defaults to the generation before the current one (undo
    the last merge). Returns the NEW generation number. Raises if the
    target's bucket dirs were already GC'd, or if a concurrent merge
    holds the destination lock. This is the plain-parquet twin of Delta's
    RESTORE; with delta installed, prefer the transactional path."""
    spec = read_bucket_spec(spark, path)
    if spec is None or spec["version"] != MANIFEST_VERSION:
        raise ValueError(
            f"{path} is not a manifest-layout (v2) bucketed destination — "
            "rollback needs committed generations (write_bucketed)"
        )
    fs, path_cls = hadoop_fs(spark, path)
    lock = path_cls(path.rstrip("/") + ".__merge_lock__")
    if not fs.createNewFile(lock):
        raise RuntimeError(
            f"another merge holds {lock}: rollback racing a merge is rejected"
        )
    try:
        gens = list_generations(spark, path)
        if len(gens) < 2 and to_gen is None:
            raise ValueError(f"{path} has no earlier generation to roll back to")
        target = gens[-2] if to_gen is None else to_gen
        if target not in gens:
            raise ValueError(f"generation {target} not in committed history {gens}")
        m = _read_manifest_gen(spark, path, target)
        base = path.rstrip("/")
        missing = [
            d for d in m["buckets"].values() if not fs.exists(path_cls(f"{base}/{d}"))
        ]
        if missing:
            raise ValueError(
                f"cannot roll back {path} to gen {target}: bucket dirs "
                f"{missing[:3]}{'...' if len(missing) > 3 else ''} were GC'd"
            )
        new_gen = gens[-1] + 1
        _commit_manifest(
            spark, path, new_gen, m["buckets"], shards=m.get("shards"),
            rows=m.get("rows"), schema=m.get("schema"),
        )
        return new_gen
    finally:
        fs.delete(lock, False)


def read_buckets_for_keys(
    spark: SparkSession, path: str, keys_df: DataFrame, *, _touched=None
) -> DataFrame:
    """Point-lookup path: read only the buckets that could contain the
    given key rows, then semi-join down to exact matches. Turns a
    point query against a 100 TB destination into a scan of the few
    touched buckets.

    ``_touched`` (internal) is the keys' bucket-id set when the caller
    already observed it on an action of its own; otherwise it costs one
    ``distinct().collect()`` job here."""
    spec = read_bucket_spec(spark, path)
    if spec is None:
        raise ValueError(f"{path} is not a bucketed destination")
    keys = spec["keys"]
    if _touched is None:
        tagged = keys_df.withColumn(BUCKET_COL, bucket_id(keys, spec["n_buckets"]))
        _touched = {r[0] for r in tagged.select(BUCKET_COL).distinct().collect()}
    touched = sorted(_touched)
    if spec["version"] == MANIFEST_VERSION:
        m = read_manifest(spark, path)
        base = path.rstrip("/")
        dirs = [f"{base}/{m['buckets'][b]}" for b in touched if b in m["buckets"]]
        if not dirs:
            return read_bucketed(spark, path).limit(0)
        dest = _read_dirs(spark, m, dirs)
        return dest.join(keys_df.select(*keys), on=keys, how="left_semi")
    # Hive-layout index root: the bucket dirs that exist
    existing = _existing_bucket_paths(spark, path, touched)
    if not existing:
        return read_bucketed(spark, path).limit(0)
    dest = spark.read.option("basePath", path).parquet(*existing)
    return dest.join(keys_df.select(*keys), on=keys, how="left_semi").drop(BUCKET_COL)


def _existing_bucket_paths(
    spark: SparkSession, path: str, bucket_ids: list[int]
) -> list[str]:
    fs, path_cls = hadoop_fs(spark, path)
    out = []
    for b in bucket_ids:
        p = f"{path.rstrip('/')}/{BUCKET_COL}={b}"
        if fs.exists(path_cls(p)):
            out.append(p)
    return out


def _tag_touched(
    increment: DataFrame,
    deleted_keys: DataFrame | None,
    keys: list[str],
    n_buckets: int,
) -> tuple[DataFrame, DataFrame | None, list[int]]:
    """Tag the increment (and the deletion feed's keys) with their
    bucket and materialise each once; the touched-bucket set (at most
    n_buckets small ints) is observed on those same materialisations
    instead of costing a ``distinct().collect()`` job apiece. Any
    observation a caller attached to ``increment`` is filled here too."""
    frames = [increment]
    if deleted_keys is not None:
        frames.append(deleted_keys.select(*keys))
    tagged, touched = [], set()
    for df in frames:
        obs = Observation()
        df = (
            df.withColumn(BUCKET_COL, bucket_id(keys, n_buckets))
            .observe(obs, F.collect_set(BUCKET_COL).alias("b"))
            .transform(materialize)
        )
        touched |= set(observed(obs, {"b": []})["b"])
        tagged.append(df)
    return tagged[0], (tagged[1] if len(tagged) > 1 else None), sorted(touched)


def _write_by_bucket(df: DataFrame, path: str) -> None:
    """``partitionBy`` write of a bucket-tagged frame, distributed by
    bucket first: one file per touched bucket (more only where AQE splits
    a big bucket), not one per upstream task. Each file created is a
    fixed cost (RUNBOOK.md)."""
    df.hint("rebalance", BUCKET_COL).write.mode("overwrite").partitionBy(
        BUCKET_COL
    ).parquet(path)


def _live_rows(spark: SparkSession, base: str, m: dict) -> dict[int, int]:
    """Row count per live bucket of manifest ``m``: the recorded
    ``rows``, or the live dirs' parquet footers (read on the driver, no
    job) for a manifest that predates them."""
    if "rows" in m:
        return dict(m["rows"])
    return {b: parquet_rows(spark, f"{base}/{d}") for b, d in m["buckets"].items()}


def partial_merge(
    spark: SparkSession,
    path: str,
    increment: DataFrame,
    deleted_keys: DataFrame | None = None,
) -> dict:
    """Merge an increment into a bucketed destination, rewriting only
    the buckets the increment (or deletion feed) touches.

    Upsert semantics match operators/sync.merge_upsert (incoming rows
    win on key match, new keys append — reference fast_etl.py:437-451);
    deletions match delete_sync (anti-join retain). The increment must
    be key-unique (callers dedupe, as the streaming merge already does).

    The touched buckets' NEW versions are written as fresh
    ``bucket_<K>_v<gen+1>`` dirs (invisible — nothing references them),
    then every touched bucket is published at once with ONE manifest
    rename-commit. A crash before the commit leaves the destination
    exactly at the old generation (orphan dirs are overwritten by the
    re-run and collected by generation GC); a crash after the commit IS
    the new state.

    Returns ``{"n_buckets": N, "buckets_touched": t, "rows_written": w,
    "rows": r}``: ``w`` is the row count of the rewritten buckets and
    ``r`` the destination's row count after the merge, both from the
    manifest and the new dirs' parquet footers — no count job.

    Only manifest-layout roots merge; a Hive-layout root (spec version
    1) raises ``ValueError`` — migrate it once with ``bucketize``.

    Concurrency: a lock file (``<path>.__merge_lock__``, atomic create)
    rejects a second merge on the same destination — two merges would
    fight over one staging directory and one next generation. A crash
    leaves the lock behind; clear it with ``io.fsutil.vacuum_dest`` (or
    delete the file) once no merge runs.
    """
    spec = read_bucket_spec(spark, path)
    if spec is None:
        raise ValueError(
            f"{path} has no {SPEC_FILE}; initialize with write_bucketed() first"
        )
    if spec["version"] != MANIFEST_VERSION:
        raise ValueError(
            f"{path} is in the Hive bucket layout (spec version "
            f"{spec['version']}), which partial_merge does not merge; migrate "
            "it once with bucketize(spark, path, keys, n_buckets)"
        )

    lock_fs, lock_path_cls = hadoop_fs(spark, path)
    lock = lock_path_cls(path.rstrip("/") + ".__merge_lock__")
    if not lock_fs.createNewFile(lock):
        raise RuntimeError(
            f"another merge holds {lock}: concurrent merges on one "
            "destination are rejected (stale after a crash? clear it "
            "with io.fsutil.vacuum_dest)"
        )
    try:
        return _merge_locked(spark, path, spec, increment, deleted_keys)
    finally:
        lock_fs.delete(lock, False)


def _merge_locked(
    spark: SparkSession,
    path: str,
    spec: dict,
    increment: DataFrame,
    deleted_keys: DataFrame | None,
) -> dict:
    """The body of ``partial_merge``, run under its lock.

    Row counts per bucket come from the new dirs' footers and, for
    untouched buckets, from the old manifest. Not from observations:
    the merge plan's joins sit above the scans, and AQE drops a subtree
    it finds empty together with its observations."""
    from fastetl_spark.operators.sync import delete_sync, merge_upsert

    keys, n_buckets = spec["keys"], spec["n_buckets"]
    m = read_manifest(spark, path)
    gen, old_buckets = m["gen"], dict(m["buckets"])
    next_gen = gen + 1
    base = path.rstrip("/")
    fs, path_cls = hadoop_fs(spark, path)

    rows = _live_rows(spark, base, m)
    inc, dels, touched_ids = _tag_touched(increment, deleted_keys, keys, n_buckets)
    if not touched_ids:
        return {
            "n_buckets": n_buckets,
            "buckets_touched": 0,
            "rows_written": 0,
            "rows": sum(rows.values()),
        }

    live_touched = [f"{base}/{old_buckets[b]}" for b in touched_ids if b in old_buckets]
    if live_touched:
        dest = _read_dirs(spark, m, live_touched)
        merged = merge_upsert(dest, inc.drop(BUCKET_COL).select(*dest.columns), keys)
    else:
        merged = inc.drop(BUCKET_COL)
    if dels is not None:
        merged = delete_sync(merged, dels.select(*keys), keys)

    staging = base + ".__merge_staging__"
    if fs.exists(path_cls(staging)):
        fs.delete(path_cls(staging), True)
    _write_by_bucket(merged.withColumn(BUCKET_COL, bucket_id(keys, n_buckets)), staging)

    new_buckets = {b: d for b, d in old_buckets.items() if b not in touched_ids}
    rows = {b: n for b, n in rows.items() if b in new_buckets}
    for b in touched_ids:
        src = path_cls(f"{staging}/{BUCKET_COL}={b}")
        if not fs.exists(src):
            continue  # bucket emptied: simply not referenced anymore
        dirname = f"bucket_{b}_v{next_gen}"
        dst = path_cls(f"{base}/{dirname}")
        if fs.exists(dst):  # orphan from a crashed previous attempt
            fs.delete(dst, True)
        if not fs.rename(src, dst):
            raise IOError(f"could not place {dirname} under {base}")
        new_buckets[b] = dirname
        rows[b] = parquet_rows(spark, f"{base}/{dirname}")
    fs.delete(path_cls(staging), True)
    if not new_buckets:
        # destination fully emptied: keep one schema-bearing empty dir
        dirname = f"bucket_0_v{next_gen}"
        literal_frame(spark, merged.schema).write.mode("overwrite").parquet(
            f"{base}/{dirname}"
        )
        new_buckets[0], rows[0] = dirname, 0
    _commit_manifest(
        spark, path, next_gen, new_buckets, shards=m.get("shards"),
        rows=rows, schema=merged.schema.jsonValue(),
    )
    _gc_generations(spark, path, keep_gens=int(spec.get("keep_gens", 2)))
    return {
        "n_buckets": n_buckets,
        "buckets_touched": len(touched_ids),
        "rows_written": sum(rows[b] for b in touched_ids if b in rows),
        "rows": sum(rows.values()),
    }


DEFAULT_MAX_FILES_PER_BUCKET = 16


def bucket_file_counts(
    spark: SparkSession, path: str, bucket_ids: list[int] | None = None
) -> dict[int, int]:
    """Data-file count per bucket directory of a Hive-layout index
    (Hadoop listStatus — pure metadata, no data read).
    ``bucket_ids=None`` lists every bucket."""
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    if bucket_ids is None:
        bucket_ids = [
            int(s.getPath().getName().split("=", 1)[1])
            for s in fs.listStatus(path_cls(base))
            if s.isDirectory() and s.getPath().getName().startswith(f"{BUCKET_COL}=")
        ]
    out: dict[int, int] = {}
    for b in sorted(set(bucket_ids)):
        p = path_cls(f"{base}/{BUCKET_COL}={b}")
        if not fs.exists(p):
            continue
        out[b] = sum(
            1
            for s in fs.listStatus(p)
            if not s.isDirectory()
            and not s.getPath().getName().startswith(("_", "."))
        )
    return out


def compact_buckets(
    spark: SparkSession,
    path: str,
    bucket_ids: list[int] | None = None,
    max_files: int = DEFAULT_MAX_FILES_PER_BUCKET,
    target_rows_per_file: int = 1_000_000,
) -> dict[int, int]:
    """Per-bucket small-file compaction for the append-maintained
    Hive-layout indexes (the persistent dedup indexes append a few files per
    increment forever — without this, a year of daily batches turns the
    "read only touched buckets" win into a file-count-overhead loss).

    Only buckets whose data-file count EXCEEDS ``max_files`` are
    rewritten (one coalesce + atomic swap each, via io/writers
    atomic_overwrite); everything else is left untouched, so calling
    this after every append is cheap — the steady state is one no-op
    listStatus per touched bucket. Returns {bucket_id: file_count_after}
    for the buckets that were compacted."""
    from fastetl_spark.io.writers import atomic_overwrite

    base = path.rstrip("/")
    counts = bucket_file_counts(spark, path, bucket_ids)
    compacted: dict[int, int] = {}
    for b, n_files in counts.items():
        if n_files <= max_files:
            continue
        bdir = f"{base}/{BUCKET_COL}={b}"
        df = spark.read.parquet(bdir)
        n_rows = df.count()  # parquet footer metadata only
        k = max(1, -(-n_rows // target_rows_per_file))
        atomic_overwrite(df.coalesce(k), bdir)
        compacted[b] = bucket_file_counts(spark, path, [b])[b]
    return compacted


def advise_n_buckets(
    spark: SparkSession,
    path: str,
    target_bucket_bytes: int = 32 << 30,
    power_of_two: bool = True,
) -> int:
    """Recommend a bucket count for migrating `path` to the bucketed
    layout: ceil(on-disk bytes / target), optionally rounded UP to a
    power of two. One filesystem content-summary call — no data scan.

    The default 32 GiB target sits in the RUNBOOK's 10-50 GB band
    (one bucket ≈ one comfortable merge task's working set). Note the
    measure is COMPRESSED parquet bytes — if downstream processing
    explodes rows (arrays, joins), size the target down accordingly.
    Power-of-two counts are a convention, not a requirement; two
    destinations only join bucket-to-bucket when their counts are
    EQUAL, so standardizing on powers of two makes accidental
    co-location matches more likely across tables."""
    import math

    fs, path_cls = hadoop_fs(spark, path)
    total = fs.getContentSummary(path_cls(path.rstrip("/"))).getLength()
    n = max(1, math.ceil(total / target_bucket_bytes))
    if power_of_two:
        n = 1 << (n - 1).bit_length()
    return n


# --- rendezvous shard layer -----------------------------------------------
#
# Shards are the PLACEMENT unit layered over the hash buckets: each
# bucket is owned by the shard that wins its rendezvous (HRW, Thaler &
# Ravishankar 1996). Rows never change buckets (pmod(hash) is fixed for
# the store's lifetime), so a shard-count change moves whole buckets —
# and HRW guarantees only ~1/new_n of buckets (hence ~1/new_n of ROWS)
# change owner, vs ~(n-1)/n under modulo placement. On a cluster the
# moved buckets are the only data that crosses the network; here the
# move is a physical copy into new-generation dirs so the migration
# cost is measured, not waved off. The weight is the same md5-portable
# form operators/partitioning.rendezvous_shard uses for row-level
# sharding (cross-checked in tests), so engine and store agree on
# placement.


def _hrw_shard(bucket: int, n_shards: int) -> int:
    """Rendezvous shard of a bucket id: argmax over shards of the
    64-bit-safe md5 weight of f"{bucket}#{shard}", ties to the lower
    shard id — the driver-side twin of partitioning.rendezvous_shard."""
    import hashlib

    def w(s: int) -> int:
        return int(
            hashlib.md5(f"{bucket}#{s}".encode()).hexdigest()[:15], 16
        )

    return max(range(n_shards), key=lambda s: (w(s), -s))


def shard_map(spark: SparkSession, path: str) -> dict[int, int]:
    """Current bucket -> shard placement of a sharded v2 destination
    (from the latest manifest)."""
    m = read_manifest(spark, path)
    if m is None or "shards" not in m:
        raise ValueError(
            f"{path} has no shard layer — create with "
            "write_bucketed(..., n_shards=N) or run "
            "reshard_bucketed once to initialize placement"
        )
    return m["shards"]


def read_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """One shard's rows (bucket dirs owned by `shard` in the latest
    manifest) — the per-worker view a sharded stateful consumer reads.
    Empty-but-typed frame when the shard owns no populated bucket.
    Dirs and placement come from ONE manifest read — re-resolving the
    placement separately could tear across a racing reshard commit
    (gen-N dirs paired with gen-N+1 ownership = a bucket served to two
    workers)."""
    m = read_manifest(spark, path)
    if m is None or "shards" not in m:
        raise ValueError(
            f"{path} has no shard layer — create with "
            "write_bucketed(..., n_shards=N) or run "
            "reshard_bucketed once to initialize placement"
        )
    shards = m["shards"]
    base = path.rstrip("/")
    dirs = [
        f"{base}/{d}"
        for b, d in m["buckets"].items()
        if shards.get(b) == shard
    ]
    if not dirs:
        return read_bucketed(spark, path).limit(0)
    return spark.read.parquet(*dirs)


def reshard_bucketed(
    spark: SparkSession, path: str, new_n_shards: int
) -> dict:
    """Online reshard of a v2 destination to ``new_n_shards`` rendezvous
    shards, moving ONLY the buckets whose HRW owner changes.

    Mechanics: recompute the HRW winner of every bucket under the new
    shard count (driver-side, n_buckets bounded ints), physically copy
    just the MOVED buckets into fresh ``bucket_<K>_v<gen+1>`` dirs (on a
    cluster this copy is the actual data migration; unmoved buckets'
    dirs are re-referenced untouched — zero I/O), then publish the new
    placement map + dir set with ONE manifest commit. Readers racing
    the reshard resolve a complete old or new generation, and
    ``rollback_bucketed`` undoes the flip like any other publish.

    Growing n -> m only ever moves buckets TO the new shards n..m-1
    (surviving shards' relative rendezvous order is unchanged), so
    expected moved volume is ~(m-n)/m of the store — the stable-
    resharding property modulo placement lacks.

    Initializing: on a store written without ``n_shards`` this records
    the first placement map without copying anything (nothing was
    placed before, so nothing moves).

    Returns {"gen", "old_n_shards", "new_n_shards", "n_buckets",
    "buckets_moved", "rows_moved", "rows_total"}."""
    spec = read_bucket_spec(spark, path)
    if spec is None or spec["version"] != MANIFEST_VERSION:
        raise ValueError(
            f"{path} is not a manifest-layout (v2) bucketed destination — "
            "the shard layer needs committed generations (write_bucketed)"
        )
    if new_n_shards < 1:
        raise ValueError(f"new_n_shards must be >= 1, got {new_n_shards}")
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    lock = path_cls(base + ".__merge_lock__")
    if not fs.createNewFile(lock):
        raise RuntimeError(
            f"another merge holds {lock}: resharding racing a merge is rejected"
        )
    try:
        m = read_manifest(spark, path)
        n_buckets = int(spec["n_buckets"])
        old_shards = m.get("shards")
        # the MANIFEST is the source of truth for the prior ring size
        # (it commits atomically with the placement map); the spec is a
        # mirror refreshed AFTER commit and can be one step stale if a
        # previous reshard crashed between the two writes
        old_n = int(m.get("n_shards") or spec.get("n_shards") or 0)
        new_shards = {b: _hrw_shard(b, new_n_shards) for b in range(n_buckets)}
        moved = (
            sorted(
                b
                for b in m["buckets"]
                if old_shards.get(b) != new_shards[b]
            )
            if old_shards is not None
            else []  # first placement: nothing was placed, nothing moves
        )
        next_gen = m["gen"] + 1
        new_buckets = dict(m["buckets"])
        rows = _live_rows(spark, base, m)
        for b in moved:
            dirname = f"bucket_{b}_v{next_gen}"
            dst = f"{base}/{dirname}"
            dst_p = path_cls(dst)
            if fs.exists(dst_p):  # orphan from a crashed previous attempt
                fs.delete(dst_p, True)
            src = f"{base}/{m['buckets'][b]}"
            _read_dirs(spark, m, [src]).write.mode("overwrite").parquet(dst)
            new_buckets[b] = dirname
        _commit_manifest(
            spark, path, next_gen, new_buckets,
            shards=new_shards, n_shards=int(new_n_shards),
            rows=rows, schema=m.get("schema"),
        )
        spec["n_shards"] = int(new_n_shards)
        replace_text_file(spark, _spec_path(path), json.dumps(spec))
        _gc_generations(spark, path, keep_gens=int(spec.get("keep_gens", 2)))
        return {
            "gen": next_gen,
            "old_n_shards": old_n,
            "new_n_shards": int(new_n_shards),
            "n_buckets": n_buckets,
            "buckets_moved": len(moved),
            "rows_moved": sum(rows[b] for b in moved),
            "rows_total": sum(rows.values()),
        }
    finally:
        fs.delete(lock, False)


def bucketize(
    spark: SparkSession,
    path: str,
    keys: list[str],
    n_buckets: int,
    keep_gens: int = 2,
) -> None:
    """Migrate an existing parquet destination — plain, or a Hive-layout
    bucketed root — to the manifest layout (one full rewrite, the last
    one it will need; ``keep_gens`` sets the GC retention window for
    rollback/time-travel). Staged to a sibling directory and swapped,
    so the migration never caches the destination and readers never see
    a partial layout. A Hive-layout root's bucket column is dropped:
    ``write_bucketed`` derives its own."""
    df = spark.read.parquet(path).drop(BUCKET_COL)
    staging = path.rstrip("/") + ".__bucketize_staging__"
    fs, path_cls = hadoop_fs(spark, path)
    if fs.exists(path_cls(staging)):
        fs.delete(path_cls(staging), True)
    write_bucketed(df, staging, keys, n_buckets, keep_gens=keep_gens)
    replace_dir(fs, path_cls, staging, path.rstrip("/"))
