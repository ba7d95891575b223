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
  — a bounded, documented driver value, not a data collect) and writes
  a delta for those buckets only (merge-on-read, below);
- untouched buckets are never opened, and touched ones are read only
  for their key columns (the exact post-merge row count), so a merge
  writes O(|increment|) plus the occasional fold of a bucket.

Every merge destination has one layout, the manifest layout (spec
version 2, ``write_bucketed``): bucket data lives in versioned
``bucket_<K>_v<gen>`` base dirs, and a rename-committed
``_manifest_<gen>.json`` is the single pointer that publishes a
generation. The manifest also records each bucket's row count and the
data schema, so a count or a read needs no Spark job. The trade: the
root is not raw-readable with ``spark.read.parquet(path)`` — go through
``read_bucketed`` (``Engine.read`` does so for any bucketed root).
``Engine.sync`` and the streaming merge know no other destination: the
first sync creates the root with ``write_bucketed``, every later one
calls ``partial_merge`` (``merge_dest_spec`` tells the two apart).

Merges are merge-on-read, after Iceberg v2 equality deletes
(https://iceberg.apache.org/spec/#equality-delete-files):

- a merge writes ONE delta dir, ``delta_v<gen>/__fe_bucket=K/`` (one
  file per touched bucket), holding the increment's rows and the
  deletion feed's keys as tombstone rows (``__fe_del`` true, other
  columns null). It rewrites no bucket (it reads their key columns,
  for the exact row count); the manifest lists each bucket's base dir
  and its pending delta dirs in generation order, and the merge writes
  about as much as the increment (reference fast_etl.py:601-610 updates
  only the changed rows, too);
- readers resolve base + deltas through one resolver (``_resolve``):
  the latest generation of a key wins and a tombstone deletes it, the
  base is anti-joined against all delta keys, then the live delta rows
  are unioned. A bucket with no deltas is a plain scan. Pending deltas
  cost a read one shuffle of the delta rows and one broadcast of their
  keys (so the base is never shuffled) — up to ``BROADCAST_DELTA_ROWS``
  pending rows in the buckets read; past it the anti-join shuffles the
  base instead;
- once the delta is written, a touched bucket FOLDS — its base and
  deltas, resolved, rewritten as a new base — when, before the merge,
  its pending delta rows, tombstones included, passed
  ``FOLD_DELTA_SHARE`` of its live rows or it had
  ``DEFAULT_MAX_FILES_PER_BUCKET`` delta dirs. A bucket may hold deltas
  without a base (a sparse table, a bucket emptied by deletes); its
  deltas are all its rows, so the next merge touching it folds it. All
  folding buckets of a merge go in one write, committed in the same
  manifest as the delta. The share bounds what a read pays for deltas;
  amortised, a fold rewrites a bucket once per ~``FOLD_DELTA_SHARE`` of
  its rows merged.

A merge writes the delta (and any fold) first, unreferenced and
invisible, then flips the pointer once — readers racing the merge
resolve one committed generation, old or new, never a mix; a crash
before the commit leaves the old generation fully intact, and re-running
the same increment converges. The previous generation's dirs are
retained for in-flight readers and GC'd a generation later; since a
delta generation shares its base dirs with the one before, that
retention costs only the superseded deltas and folded bases.

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
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, IntegerType, StructField, StructType

from fastetl_spark.checkpointing import observed
from fastetl_spark.io.fsutil import (
    hadoop_fs,
    parquet_rows,
    read_text_file,
    replace_dir,
    replace_text_file,
    write_text_file,
)
from fastetl_spark.io.writers import literal_frame
from fastetl_spark.session import job_phase

BUCKET_COL = "__fe_bucket"
SPEC_FILE = "_bucket_spec.json"
# Hive layout: the append-only indexes (``__fe_bucket=K/`` dirs)
HIVE_VERSION = 1
# Manifest layout: every merge destination (versioned bucket dirs + a
# rename-committed manifest pointer; readers see one generation)
MANIFEST_VERSION = 2
MANIFEST_PREFIX = "_manifest_"
# Merge-on-read deltas: ``delta_v<gen>/__fe_bucket=K/`` dirs whose rows
# carry their generation and DELETED_COL (true on a tombstone: keys set,
# other columns null)
DELTA_PREFIX = "delta_v"
GEN_COL = "__fe_gen"
DELETED_COL = "__fe_del"
# A bucket folds into a new base once its pending delta rows pass this
# share of its live rows (or it has DEFAULT_MAX_FILES_PER_BUCKET delta
# dirs): it bounds a read's delta work against the rewrites a fold costs.
# 0.5 wrote 36% fewer bytes than 0.25 but made the median full read 1.5x
# slower (tools/merge_amortised.py, RUNBOOK "Merge-on-read")
FOLD_DELTA_SHARE = 0.25
DEFAULT_MAX_FILES_PER_BUCKET = 16
# A read broadcasts the keys of the pending delta rows it resolves up to
# this many rows; above it the base anti-joins them through a shuffle,
# so a large pending set never has to fit on the driver
BROADCAST_DELTA_ROWS = 1 << 20
# manifest keys that map a bucket id to a value
_PER_BUCKET = ("buckets", "rows", "shards", "deltas", "delta_rows")


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


def is_bucketed_root(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds a bucket spec or a committed manifest
    (the spec can be briefly absent next to one, see ``read_bucketed``):
    such a root reads through ``read_bucketed`` only. Two metadata calls,
    whatever the number of files under ``path``."""
    fs, path_cls = hadoop_fs(spark, path)
    if fs.exists(path_cls(_spec_path(path))):
        return True
    found = fs.globStatus(path_cls(f"{path.rstrip('/')}/{MANIFEST_PREFIX}*.json"))
    return found is not None and len(found) > 0


def merge_dest_spec(spark: SparkSession, path: str, keys: list[str]) -> dict | None:
    """The bucket spec of the merge destination ``path``, or None when
    nothing exists there yet (the first merge creates the root with
    ``write_bucketed``). An existing root that is not bucketed, or is
    bucketed on other keys than ``keys``, raises ``ValueError``."""
    spec = read_bucket_spec(spark, path)
    if spec is None:
        fs, path_cls = hadoop_fs(spark, path)
        if fs.exists(path_cls(path)):
            raise ValueError(
                f"{path} exists but is not a bucketed root (no {SPEC_FILE}); "
                "migrate it once with bucketize(spark, path, keys, n_buckets)"
            )
        return None
    if list(keys) != spec["keys"]:
        raise ValueError(
            f"{path} is bucketed on {spec['keys']}, not on the merge keys {list(keys)}"
        )
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
    {"gen": N, "buckets": {bucket_id: base dir name}} — the one pointer
    that defines which physical dirs are live. None when no manifest
    exists.

    Optional keys: ``rows`` ({bucket_id: live row count}) and ``schema``
    (the data schema as Spark JSON), so a row count or a read needs no
    Spark job (manifests older than both fall back to the footers and to
    schema inference); ``deltas`` ({bucket_id: [delta dir, ...]} in
    generation order) and ``delta_rows`` ({bucket_id: pending delta rows,
    tombstones included}) for buckets with merge-on-read deltas;
    ``keys`` (the merge keys, so a read resolves deltas while the spec
    is briefly absent); and ``shards``/``n_shards`` on a sharded
    destination."""
    fs, path_cls = hadoop_fs(spark, path)
    gens = _manifest_gens(fs, path_cls, path.rstrip("/"))
    if not gens:
        return None
    return _read_manifest_gen(spark, path, gens[-1])


def _commit_manifest(spark: SparkSession, path: str, m: dict) -> None:
    """THE atomic publish step: write manifest ``m`` (``read_manifest``'s
    form, ``m["gen"]`` its generation) to a hidden tmp name, then rename
    onto `_manifest_<gen>.json` (rename-to-new-name is atomic on
    HDFS/POSIX). A reader lists committed manifests and takes the
    highest generation, so at every instant it resolves either the old
    pointer or the new one — never a partially-published state.

    ``shards`` (sharded destinations only) is the bucket -> rendezvous
    shard placement map — per-bucket provenance carried on every
    generation so a reader/mover always knows which shard owns which
    bucket dirs as of this gen. ``n_shards`` rides along as the ring
    size the map was computed for: the MANIFEST is the source of truth
    for shard placement (it commits atomically with the data pointer),
    the spec file is a convenience mirror refreshed after commit."""
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    gen = m["gen"]
    tmp = f"{base}/.{MANIFEST_PREFIX}{gen}.json.tmp"
    final = f"{base}/{MANIFEST_PREFIX}{gen}.json"
    doc = {
        k: {str(b): x for b, x in v.items()} if k in _PER_BUCKET else v
        for k, v in m.items()
    }
    write_text_file(spark, tmp, json.dumps(doc))
    if not fs.rename(path_cls(tmp), path_cls(final)):
        fs.delete(path_cls(tmp), False)
        raise IOError(
            f"could not commit {final} (a concurrent merge may have won the race)"
        )


def _referenced(m: dict) -> list[str]:
    """Every dir manifest ``m`` reads: base dirs, then delta dirs."""
    return list(m["buckets"].values()) + [
        d for dirs in m.get("deltas", {}).values() for d in dirs
    ]


def _gc_generations(spark: SparkSession, path: str, keep_gens: int = 2) -> None:
    """Drop base dirs, delta dirs and manifests no longer referenced by
    the newest ``keep_gens`` manifests. The previous generation is
    retained so a reader that resolved the old pointer just before a
    flip can still open its files; anything older is dead. A delta dir
    goes bucket by bucket, as folds stop referencing its parts."""
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    gens = _manifest_gens(fs, path_cls, base)
    live: set[str] = set()
    for g in gens[-keep_gens:]:
        live |= set(_referenced(_read_manifest_gen(spark, path, g)))
    for g in gens[:-keep_gens]:
        fs.delete(path_cls(f"{base}/{MANIFEST_PREFIX}{g}.json"), False)
    for s in fs.listStatus(path_cls(base)):
        name = s.getPath().getName()
        if not s.isDirectory():
            continue
        if name.startswith("bucket_") and name not in live:
            fs.delete(s.getPath(), True)
        elif name.startswith(DELTA_PREFIX):
            parts = {d.split("/", 1)[1] for d in live if d.startswith(name + "/")}
            if not parts:
                fs.delete(s.getPath(), True)
                continue
            for p in fs.listStatus(s.getPath()):
                if p.isDirectory() and p.getPath().getName() not in parts:
                    fs.delete(p.getPath(), True)


def write_bucketed(
    df: DataFrame,
    path: str,
    keys: list[str],
    n_buckets: int,
    keep_gens: int = 2,
    n_shards: int | None = None,
) -> int:
    """Initial full load of a bucketed merge destination, in the
    manifest layout; returns the rows written. Bucket data lands in
    versioned ``bucket_<K>_v<gen>`` dirs and a rename-committed manifest
    file is the single pointer that publishes a generation. Merges then flip
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
    m: dict = {
        "gen": gen, "buckets": buckets, "rows": rows, "schema": df.schema.jsonValue(),
        "keys": list(keys),
    }
    if n_shards is not None:
        m["shards"] = {b: _hrw_shard(b, n_shards) for b in range(n_buckets)}
        m["n_shards"] = int(n_shards)
    _commit_manifest(spark, path, m)
    spec: dict = {
        "version": MANIFEST_VERSION,
        "keys": list(keys),
        "n_buckets": int(n_buckets),
        "keep_gens": int(keep_gens),
    }
    if n_shards is not None:
        spec["n_shards"] = int(n_shards)
    write_text_file(spark, _spec_path(path), json.dumps(spec))
    return sum(rows.values())


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


def _schema(spark: SparkSession, base: str, m: dict) -> StructType:
    """Data schema of generation ``m``: the recorded one, or (for a
    manifest that predates recording it) inferred from its base dirs,
    which costs a Spark job."""
    if "schema" in m:
        return StructType.fromJson(m["schema"])
    return spark.read.parquet(*[f"{base}/{d}" for d in m["buckets"].values()]).schema


def _ids(m: dict) -> set[int]:
    """Buckets of generation ``m`` that hold rows: a base, deltas, or both."""
    return set(m["buckets"]) | set(m.get("deltas", {}))


def _pending(spark: SparkSession, base: str, m: dict, ids: list[int]) -> DataFrame | None:
    """Every pending delta row of buckets ``ids`` in generation ``m``,
    tombstones included; None when they have no deltas."""
    deltas = m.get("deltas", {})
    dirs = [f"{base}/{d}" for b in ids for d in deltas.get(b, [])]
    if not dirs:
        return None
    marks = [StructField(GEN_COL, IntegerType()), StructField(DELETED_COL, BooleanType())]
    return spark.read.schema(StructType(_schema(spark, base, m).fields + marks)).parquet(*dirs)


def _resolve(
    spark: SparkSession,
    path: str,
    m: dict,
    bucket_ids: list[int] | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """THE reader of generation ``m``: the live rows of its buckets
    (all, or ``bucket_ids``), every reader goes through it.

    A bucket without deltas is a plain scan of its base. For buckets
    with deltas: the deltas resolve among themselves (per key the latest
    generation wins, a tombstone beats an upsert of its own generation,
    and a winning tombstone deletes the key); the base is anti-joined
    against every delta key — broadcast while the buckets read hold at
    most ``BROADCAST_DELTA_ROWS`` pending rows, so the base is not
    shuffled, through a shuffle above it; the live delta rows are unioned
    on. ``keys`` (the merge keys) is read from the manifest, else the
    spec, when not given and deltas exist."""
    base = path.rstrip("/")
    schema = _schema(spark, base, m)
    ids = sorted(_ids(m) if bucket_ids is None else set(bucket_ids) & _ids(m))
    deltas, bases = m.get("deltas", {}), m["buckets"]
    plain = [f"{base}/{bases[b]}" for b in ids if b in bases and b not in deltas]
    shadowed = [f"{base}/{bases[b]}" for b in ids if b in bases and b in deltas]
    parts = [spark.read.schema(schema).parquet(*plain)] if plain else []
    pending = _pending(spark, base, m, ids)
    if pending is not None:
        keys = keys or m.get("keys") or read_bucket_spec(spark, path)["keys"]
        if shadowed:
            dead = pending.select(*keys)
            if sum(m.get("delta_rows", {}).get(b, 0) for b in ids) <= BROADCAST_DELTA_ROWS:
                dead = F.broadcast(dead)
            old = spark.read.schema(schema).parquet(*shadowed)
            parts.append(old.join(dead, keys, "left_anti"))
        latest = Window.partitionBy(*keys).orderBy(F.desc(GEN_COL), F.desc(DELETED_COL))
        parts.append(
            pending.withColumn("__fe_rank", F.row_number().over(latest))
            .filter(f"__fe_rank = 1 AND NOT {DELETED_COL}")
            .select(*schema.names)
        )
    if not parts:
        return literal_frame(spark, schema)
    # by name: a join on ``keys`` puts the key columns first
    return reduce(DataFrame.unionByName, parts).select(*schema.names)


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
        return _resolve(spark, path, m, keys=spec and spec["keys"])
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
    for k in _PER_BUCKET:
        if k in m:
            m[k] = {int(b): v for b, v in m[k].items()}
    return m


def read_bucketed_at(spark: SparkSession, path: str, gen: int) -> DataFrame:
    """Time-travel read of a v2 destination: resolve generation ``gen``'s
    manifest instead of the latest. Only generations inside the GC
    retention window (``keep_gens``, default 2) still have their bucket
    dirs on disk; older gens raise here."""
    m = _read_manifest_gen(spark, path, gen)
    missing = _missing_dirs(spark, path, m)
    if missing:
        raise ValueError(
            f"generation {gen} of {path} is no longer readable: bucket dirs "
            f"{missing[:3]}{'...' if len(missing) > 3 else ''} were GC'd "
            "(outside the keep_gens retention window)"
        )
    return _resolve(spark, path, m)


def _missing_dirs(spark: SparkSession, path: str, m: dict) -> list[str]:
    """Dirs generation ``m`` reads that are gone (GC'd)."""
    fs, path_cls = hadoop_fs(spark, path)
    base = path.rstrip("/")
    return [d for d in _referenced(m) if not fs.exists(path_cls(f"{base}/{d}"))]


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
        missing = _missing_dirs(spark, path, m)
        if missing:
            raise ValueError(
                f"cannot roll back {path} to gen {target}: bucket dirs "
                f"{missing[:3]}{'...' if len(missing) > 3 else ''} were GC'd"
            )
        new_gen = gens[-1] + 1
        _commit_manifest(spark, path, {**m, "gen": new_gen})
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
        live = [b for b in touched if b in _ids(m)]
        dest = _resolve(spark, path, m, live, keys)
        if not live:
            return dest  # empty, typed
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


def _folds(m: dict, b: int) -> bool:
    """Whether a merge touching bucket ``b`` folds it (base and deltas
    into a new base), judged on generation ``m`` before the merge: its
    pending delta rows pass ``FOLD_DELTA_SHARE`` of its live rows —
    always so for a bucket of deltas only — or it has
    ``DEFAULT_MAX_FILES_PER_BUCKET`` delta dirs. A bucket without deltas
    in ``m`` (or absent from it) does not fold."""
    if b not in m.get("deltas", {}):
        return False
    return (
        m["delta_rows"][b] > FOLD_DELTA_SHARE * m["rows"][b]
        or len(m["deltas"][b]) >= DEFAULT_MAX_FILES_PER_BUCKET
    )


def _delta_frame(
    schema: StructType,
    keys: list[str],
    n_buckets: int,
    gen: int,
    inc: DataFrame,
    dels: DataFrame | None,
) -> DataFrame:
    """The increment's rows as upserts and the deletion feed's keys as
    tombstones of generation ``gen``, cast to the destination schema:
    the data columns, ``GEN_COL``, ``DELETED_COL`` and the bucket
    column."""
    cast = {f.name: F.col(f.name).cast(f.dataType).alias(f.name) for f in schema}
    rows = inc.select(*cast.values(), F.lit(False).alias(DELETED_COL))
    if dels is not None:
        tombstones = dels.select(
            *[cast[f.name] if f.name in keys else F.lit(None).cast(f.dataType).alias(f.name) for f in schema],
            F.lit(True).alias(DELETED_COL),
        )
        rows = rows.union(tombstones)
    return rows.select(
        *schema.names,
        F.lit(gen).alias(GEN_COL),
        DELETED_COL,
        bucket_id(keys, n_buckets).alias(BUCKET_COL),
    )


def _bucket_counts(
    spark: SparkSession, path: str, m: dict, ids: list[int], keys: list[str], n_buckets: int
) -> dict[int, tuple[int, int]]:
    """{bucket: (live rows, pending delta rows)} of buckets ``ids`` in
    generation ``m``: one aggregate over their key columns, distributed
    by bucket so that it runs a single shuffle. It resolves as
    ``_resolve`` does: per key the greatest (generation, tombstone)
    wins, base rows being generation 0."""
    base = path.rstrip("/")
    parts = []
    based = [f"{base}/{m['buckets'][b]}" for b in ids if b in m["buckets"]]
    if based:
        parts.append(
            spark.read.schema(_schema(spark, base, m))
            .parquet(*based)
            .select(*keys, F.lit(0).alias(GEN_COL), F.lit(False).alias(DELETED_COL))
        )
    pending = _pending(spark, base, m, ids)
    if pending is not None:
        parts.append(pending.select(*keys, GEN_COL, DELETED_COL))
    if not parts:
        return {}
    rows = reduce(DataFrame.union, parts)
    latest = F.max(F.struct(GEN_COL, DELETED_COL))[DELETED_COL]
    per_key = (
        rows.withColumn(BUCKET_COL, bucket_id(keys, n_buckets))
        .repartition(BUCKET_COL)
        .groupBy(BUCKET_COL, *keys)
        .agg(latest.alias("dead"), F.count_if(F.col(GEN_COL) > 0).alias("pending"))
    )
    agg = per_key.groupBy(BUCKET_COL).agg(F.count_if(~F.col("dead")), F.sum("pending"))
    return {r[0]: (r[1], r[2]) for r in agg.collect()}


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
    """Merge an increment into a bucketed destination, writing only for
    the buckets the increment (or deletion feed) touches.

    Upsert semantics match operators/sync.merge_upsert (incoming rows
    win on key match, new keys append — reference fast_etl.py:437-451);
    deletions match delete_sync (anti-join retain), and a key in both
    the increment and the deletion feed is deleted. The increment must
    be key-unique (callers dedupe, as the streaming merge already does).

    Merge-on-read (module docstring): the touched buckets get one delta
    dir, ``delta_v<gen+1>``, of upserts and tombstones; then the touched
    buckets due a fold are rewritten from that new generation as
    ``bucket_<K>_v<gen+1>`` in one write. Both are invisible until ONE
    manifest rename-commit publishes every touched bucket at once. A
    crash before the commit leaves the destination exactly at the old
    generation (orphan dirs are overwritten by the re-run and collected
    by generation GC); a crash after the commit IS the new state, and a
    re-run converges.

    Returns ``{"n_buckets": N, "buckets_touched": t, "rows_written": w,
    "rows": r}``: ``w`` is the rows physically written (delta rows,
    tombstones and folded buckets) and ``r`` the destination's exact row
    count after the merge, kept in the manifest from one aggregate over
    the touched buckets' key columns. A bucket left without rows is
    dropped from the manifest.

    Only manifest-layout roots merge; a Hive-layout root (spec version
    1) raises ``ValueError`` — migrate it once with ``bucketize``.

    Concurrency: a lock file (``<path>.__merge_lock__``, atomic create)
    rejects a second merge on the same destination — two merges would
    fight over one staging directory and one next generation. A crash
    leaves the lock behind; clear it with ``io.fsutil.vacuum_dest`` (or
    delete the file) once no merge runs.

    The Spark jobs run under the descriptions ``fastetl:sync:<phase>``,
    phases ``delta_write``, ``count`` and ``fold``.
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

    The increment and the deletion feed are read once, by the delta
    write, which observes the touched buckets and the rows written. Row
    counts per bucket come from an aggregate over the new generation,
    not from observations: AQE drops a subtree it finds empty together
    with its observations. The touched buckets that ``_folds`` on the
    old generation and still hold rows fold: their new base is the
    resolved new generation."""
    keys, n_buckets = spec["keys"], spec["n_buckets"]
    m = read_manifest(spark, path)
    base = path.rstrip("/")
    m["rows"] = _live_rows(spark, base, m)
    schema = _schema(spark, base, m)
    next_gen = m["gen"] + 1
    fs, path_cls = hadoop_fs(spark, path)

    delta_dir = f"{DELTA_PREFIX}{next_gen}"
    obs = Observation()
    with job_phase(spark, "sync", "delta_write"):
        delta = _delta_frame(schema, keys, n_buckets, next_gen, increment, deleted_keys)
        observe = [F.count(F.lit(1)).alias("n"), F.collect_set(BUCKET_COL).alias("b")]
        _write_by_bucket(delta.observe(obs, *observe), f"{base}/{delta_dir}")
    written = observed(obs, {"n": 0, "b": []})
    touched = sorted(written["b"])
    if not touched:  # nothing to merge: drop the empty delta dir
        fs.delete(path_cls(f"{base}/{delta_dir}"), True)
        return {
            "n_buckets": n_buckets,
            "buckets_touched": 0,
            "rows_written": 0,
            "rows": sum(m["rows"].values()),
        }

    per_bucket = ("buckets", "rows", "deltas", "delta_rows")
    new = {
        **m,
        "gen": next_gen,
        "schema": schema.jsonValue(),
        **{k: dict(m.get(k, {})) for k in per_bucket},
    }
    for b in touched:
        new["deltas"][b] = new["deltas"].get(b, []) + [f"{delta_dir}/{BUCKET_COL}={b}"]
    with job_phase(spark, "sync", "count"):
        counts = _bucket_counts(spark, path, new, touched, keys, n_buckets)
    for b in touched:
        live, pending = counts.get(b, (0, 0))
        if live == 0:  # emptied: referenced no more
            for k in per_bucket:
                new[k].pop(b, None)
        else:
            new["rows"][b], new["delta_rows"][b] = live, pending

    rows_written = written["n"]
    fold = [b for b in touched if b in new["deltas"] and _folds(m, b)]
    if fold:
        staging = base + ".__merge_staging__"
        with job_phase(spark, "sync", "fold"):
            if fs.exists(path_cls(staging)):
                fs.delete(path_cls(staging), True)
            folded = _resolve(spark, path, new, fold, keys)
            _write_by_bucket(folded.withColumn(BUCKET_COL, bucket_id(keys, n_buckets)), staging)
        for b in fold:
            dirname = f"bucket_{b}_v{next_gen}"
            dst = path_cls(f"{base}/{dirname}")
            if fs.exists(dst):  # orphan from a crashed previous attempt
                fs.delete(dst, True)
            if not fs.rename(path_cls(f"{staging}/{BUCKET_COL}={b}"), dst):
                raise IOError(f"could not place {dirname} under {base}")
            new["buckets"][b] = dirname
            new["deltas"].pop(b)
            new["delta_rows"].pop(b)
            rows_written += new["rows"][b]
        fs.delete(path_cls(staging), True)

    if not _ids(new):
        # destination fully emptied: keep one schema-bearing empty dir
        dirname = f"bucket_0_v{next_gen}"
        literal_frame(spark, schema).write.mode("overwrite").parquet(f"{base}/{dirname}")
        new["buckets"][0], new["rows"][0] = dirname, 0
    _commit_manifest(spark, path, new)
    _gc_generations(spark, path, keep_gens=int(spec.get("keep_gens", 2)))
    return {
        "n_buckets": n_buckets,
        "buckets_touched": len(touched),
        "rows_written": rows_written,
        "rows": sum(new["rows"].values()),
    }


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
    owned = [b for b, s in m["shards"].items() if s == shard]
    return _resolve(spark, path, m, owned)


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
                for b in _ids(m)
                if old_shards.get(b) != new_shards[b]
            )
            if old_shards is not None
            else []  # first placement: nothing was placed, nothing moves
        )
        next_gen = m["gen"] + 1
        rows = _live_rows(spark, base, m)
        new = {
            **m, "gen": next_gen, "rows": rows, "shards": new_shards,
            "n_shards": int(new_n_shards), "buckets": dict(m["buckets"]),
            "deltas": dict(m.get("deltas", {})),
            "delta_rows": dict(m.get("delta_rows", {})),
        }
        for b in moved:
            # the copy resolves the bucket's deltas: it moves as a base
            dirname = f"bucket_{b}_v{next_gen}"
            dst = f"{base}/{dirname}"
            dst_p = path_cls(dst)
            if fs.exists(dst_p):  # orphan from a crashed previous attempt
                fs.delete(dst_p, True)
            _resolve(spark, path, m, [b], spec["keys"]).write.mode("overwrite").parquet(dst)
            new["buckets"][b] = dirname
            new["deltas"].pop(b, None)
            new["delta_rows"].pop(b, None)
        _commit_manifest(spark, path, new)
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
