"""Rendezvous shard layer over the v2 bucketed store (io/bucketed):
the stable-resharding claims, measured.

- growing n -> n+1 moves ~1/(n+1) of buckets AND rows, and every moved
  bucket lands on the NEW shard (HRW never reorders survivors);
- content is identical before/after a reshard (also hash-gated by the
  rendezvous_reshard_roundtrip query);
- shards partition the store: read_shard frames are disjoint and union
  to the full content;
- resharding to the same count is a no-op; unmoved bucket files
  survive byte-identical (same paths, same mtimes);
- the placement map survives a partial_merge and a rollback;
- a reshard killed after staging or after placing its moved buckets
  leaves the old rows and placement, releases its lock, and a plain
  re-run converges to an uninterrupted reshard;
- the driver-side HRW (_hrw_shard) agrees with the row-level
  rendezvous_shard column expression for identical string keys.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import fastetl_spark.io.bucketed as B
from fastetl_spark.io.bucketed import (
    _hrw_shard,
    list_generations,
    partial_merge,
    read_bucket_spec,
    read_bucketed,
    read_manifest,
    read_shard,
    reshard_bucketed,
    rollback_bucketed,
    shard_map,
    write_bucketed,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def store(spark, tmp_path):
    """256-bucket, 4-shard store over 4096 synthetic keyed rows."""
    path = str(tmp_path / "sharded_store")
    df = spark.range(4096).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    write_bucketed(df, path, ["k"], 256, n_shards=4)
    return path


@pytest.mark.slow  # full gate only (with the 3 siblings below): reshard correctness runs in the default profile via the rendezvous_reshard_roundtrip oracle gate + the cheap hrw/validation tests at the bottom of this file
def test_grow_moves_about_one_nth(spark, store):
    before = _rows(read_bucketed(spark, store))
    stats = reshard_bucketed(spark, store, 5)
    assert stats["old_n_shards"] == 4 and stats["new_n_shards"] == 5
    # expected moved fraction is 1/5 of 256 buckets = ~51; binomial
    # 3-sigma band is ~±19 — the band also excludes the two failure
    # modes (modulo-style ~4/5 moved, or 0 moved)
    assert 25 <= stats["buckets_moved"] <= 80, stats
    frac = stats["rows_moved"] / stats["rows_total"]
    assert 0.08 <= frac <= 0.33, stats
    # HRW grow property: every moved bucket lands on the NEW shard
    new_map = shard_map(spark, store)
    old_map = {b: _hrw_shard(b, 4) for b in range(256)}
    moved = [b for b in new_map if new_map[b] != old_map[b]]
    assert len(moved) == stats["buckets_moved"]
    assert all(new_map[b] == 4 for b in moved)
    # content identity
    assert _rows(read_bucketed(spark, store)) == before


@pytest.mark.slow  # full gate only: see test_grow_moves_about_one_nth
def test_shards_partition_the_store(spark, store):
    reshard_bucketed(spark, store, 5)
    full = _rows(read_bucketed(spark, store))
    parts = [read_shard(spark, store, s) for s in range(5)]
    keys_per_shard = [set(r[0] for r in p.collect()) for p in parts]
    # disjoint
    for i in range(5):
        for j in range(i + 1, 5):
            assert not (keys_per_shard[i] & keys_per_shard[j])
    # union = everything
    assert sorted(t for p in parts for t in _rows(p)) == full


@pytest.mark.slow  # full gate only: see test_grow_moves_about_one_nth
def test_same_count_is_noop_and_unmoved_files_survive(spark, store):
    base = store.rstrip("/")
    m = read_manifest(spark, store)
    mtimes = {}
    for d in m["buckets"].values():
        full = os.path.join(base, d)
        mtimes[d] = {f: os.path.getmtime(os.path.join(full, f))
                     for f in os.listdir(full) if not f.startswith(".")}
    stats = reshard_bucketed(spark, store, 4)
    assert stats["buckets_moved"] == 0 and stats["rows_moved"] == 0
    stats = reshard_bucketed(spark, store, 5)
    # unmoved buckets: same dirs referenced, files byte-untouched
    m2 = read_manifest(spark, store)
    new_map, old_map = shard_map(spark, store), {
        b: _hrw_shard(b, 4) for b in range(256)
    }
    unmoved = [b for b in m2["buckets"] if new_map[b] == old_map[b]]
    assert unmoved
    for b in unmoved:
        d = m2["buckets"][b]
        full = os.path.join(base, d)
        assert {
            f: os.path.getmtime(os.path.join(full, f))
            for f in os.listdir(full)
            if not f.startswith(".")
        } == mtimes[d]


@pytest.mark.slow  # full gate only: see test_grow_moves_about_one_nth
def test_placement_survives_merge_and_rollback(spark, store):
    reshard_bucketed(spark, store, 5)
    placed = shard_map(spark, store)
    inc = spark.range(100).select(
        (F.col("id") + 10_000).alias("k"), F.lit(1).cast("long").alias("v")
    )
    partial_merge(spark, store, inc)
    assert shard_map(spark, store) == placed
    assert read_bucketed(spark, store).count() == 4096 + 100
    gen = rollback_bucketed(spark, store)
    assert gen == max(list_generations(spark, store))
    assert shard_map(spark, store) == placed
    assert read_bucketed(spark, store).count() == 4096


def test_initializes_unsharded_store_without_moving(spark, tmp_path):
    path = str(tmp_path / "plain_v2")
    df = spark.range(500).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    write_bucketed(df, path, ["k"], 32)
    stats = reshard_bucketed(spark, path, 3)
    assert stats["old_n_shards"] == 0 and stats["buckets_moved"] == 0
    assert read_manifest(spark, path)["n_shards"] == 3
    assert "n_shards" not in read_bucket_spec(spark, path)  # the spec is written once
    assert set(shard_map(spark, path).values()) <= {0, 1, 2}
    assert read_bucketed(spark, path).count() == 500


def _crash_in(monkeypatch, name: str, after_call: bool, only=lambda *a: True):
    """Make ``io.bucketed.<name>`` raise (after running, with
    ``after_call``) where ``only(*args)`` holds."""
    real = getattr(B, name)

    def crash(*args, **kwargs):
        if not only(*args):
            return real(*args, **kwargs)
        if after_call:
            real(*args, **kwargs)
        raise RuntimeError(f"injected crash in {name}")

    monkeypatch.setattr(B, name, crash)


def _pending_store(spark, path: str) -> None:
    """32 buckets at 3 shards, then a merge that leaves every bucket a
    pending delta, so a moved bucket resolves its delta into its base."""
    df = spark.range(640).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    write_bucketed(df, path, ["k"], 32, n_shards=3)
    partial_merge(spark, path, df.filter("k % 20 = 0").withColumn("v", F.lit(-1).cast("long")))


@pytest.mark.parametrize(
    "boundary",
    [
        "staged",  # moved buckets staged in .__merge_staging__, not placed
        "placed",  # moved buckets placed as new bases, manifest not committed
    ],
)
def test_reshard_killed_then_rerun_converges(spark, tmp_path, monkeypatch, boundary):
    """A reshard killed after it staged the moved buckets, or after it
    placed them but before its commit: readers see the old rows and the
    old placement, the lock is gone, and a plain re-run ends where an
    uninterrupted reshard does."""
    path, twin = str(tmp_path / "store"), str(tmp_path / "twin")
    _pending_store(spark, path)
    _pending_store(spark, twin)
    rows, placed = _rows(read_bucketed(spark, path)), shard_map(spark, path)
    if boundary == "staged":
        _crash_in(
            monkeypatch, "_write_by_bucket", after_call=True,
            only=lambda df, p: p.endswith(".__merge_staging__"),
        )
    else:
        _crash_in(monkeypatch, "_commit_manifest", after_call=False)
    with pytest.raises(RuntimeError, match="injected crash"):
        reshard_bucketed(spark, path, 5)
    monkeypatch.undo()
    assert not os.path.exists(path + ".__merge_lock__")
    assert _rows(read_bucketed(spark, path)) == rows
    assert shard_map(spark, path) == placed

    stats = reshard_bucketed(spark, path, 5)
    want = reshard_bucketed(spark, twin, 5)
    assert stats == want and stats["buckets_moved"] > 0
    assert _rows(read_bucketed(spark, path)) == _rows(read_bucketed(spark, twin)) == rows
    m, m_twin = read_manifest(spark, path), read_manifest(spark, twin)
    assert (m["buckets"], m["shards"], m.get("deltas")) == (
        m_twin["buckets"], m_twin["shards"], m_twin.get("deltas")
    )
    assert sorted(os.listdir(path)) == sorted(os.listdir(twin))
    assert not os.path.exists(path + ".__merge_staging__")


def test_hrw_matches_rendezvous_shard_column(spark):
    from fastetl_spark.operators.partitioning import rendezvous_shard

    keys = [str(b) for b in range(128)]
    df = spark.createDataFrame([(k,) for k in keys], ["key"])
    for n in (4, 5, 9):
        got = {
            r["key"]: r["s"]
            for r in df.select(
                "key", rendezvous_shard(F.col("key"), n).alias("s")
            ).collect()
        }
        assert got == {k: _hrw_shard(int(k), n) for k in keys}


def test_sharded_requires_atomic_layout(spark, tmp_path):
    """The shard map rides on manifests: a Hive-layout index root has
    none to carry it and is rejected."""
    from fastetl_spark.operators.dedup_index import build_shingle_index

    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="n_shards"):
        write_bucketed(df, str(tmp_path / "x"), ["k"], 4, n_shards=0)
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    build_shingle_index(docs, idx, n_buckets=4)
    with pytest.raises(ValueError, match="v2"):
        reshard_bucketed(spark, idx, 2)


def test_hrw_stability_property():
    """HRW invariants at arbitrary shard counts (pure driver-side
    property — no Spark): growing n -> n+1 only ever moves keys TO the
    new shard, shrinking is the exact inverse, and the moved fraction
    concentrates near 1/(n+1)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(st.integers(min_value=1, max_value=12))
    def check(n):
        keys = range(400)
        old = {k: _hrw_shard(k, n) for k in keys}
        new = {k: _hrw_shard(k, n + 1) for k in keys}
        moved = [k for k in keys if old[k] != new[k]]
        assert all(new[k] == n for k in moved)  # only to the NEW shard
        frac = len(moved) / len(old)
        # binomial(400, 1/(n+1)) stays inside a generous 4-sigma band
        import math

        p = 1 / (n + 1)
        sigma = math.sqrt(p * (1 - p) / 400)
        assert abs(frac - p) < 4 * sigma + 0.01, (n, frac, p)

    check()
