"""Key-bucketed destination (io/bucketed): the partial-MERGE layout.

The core scale claim under test: an increment touching 1 of N buckets
rewrites exactly that bucket — every other bucket's files survive
byte-identical (same paths, same modification times), because the
manifest of the new generation still points at their dirs. Plus semantic
equivalence against the full-frame merge operators, deletion handling,
the Engine.sync integration, and the streaming foreachBatch path.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fastetl_spark.io.bucketed import (
    BUCKET_COL,
    _write_hive_bucketed,
    bucket_id,
    bucketize,
    partial_merge,
    read_bucket_spec,
    read_bucketed,
    read_buckets_for_keys,
    read_manifest,
    write_bucketed,
)
from fastetl_spark.io.readers import read_table
from fastetl_spark.operators.sync import delete_sync, merge_upsert

N_BUCKETS = 8


def _bucket_listing(spark, path: str) -> dict[int, dict[str, float]]:
    """{bucket_id: {file_path: mtime}} for every live bucket dir, as the
    latest manifest maps bucket -> dir."""
    out: dict[int, dict[str, float]] = {}
    for b, name in read_manifest(spark, path)["buckets"].items():
        d = os.path.join(path, name)
        out[b] = {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if not f.startswith(".")
        }
    return out


def _data_files(spark, path: str) -> dict[int, list[str]]:
    """{bucket_id: parquet data files} of the live generation."""
    return {
        b: [f for f in files if f.endswith(".parquet")]
        for b, files in _bucket_listing(spark, path).items()
    }


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_write_read_roundtrip_and_spec(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "nation_b")
    nation = read_table(spark, sf_dir, "nation")
    write_bucketed(nation, dest, ["n_nationkey"], N_BUCKETS)

    spec = read_bucket_spec(spark, dest)
    assert spec == {
        "version": 2, "keys": ["n_nationkey"], "n_buckets": N_BUCKETS, "keep_gens": 2
    }

    back = read_bucketed(spark, dest)
    assert BUCKET_COL not in back.columns
    assert _rows(back, nation.columns) == _rows(nation, nation.columns)

    # rows are distributed by bucket before the write: a 4-partition
    # input lands as one file per bucket, not one per (task, bucket)
    wide = str(tmp_path / "wide_b")
    write_bucketed(spark.range(0, 400, numPartitions=4), wide, ["id"], 16)
    files = _data_files(spark, wide)
    assert len(files) == 16
    assert all(len(f) == 1 for f in files.values()), files


def test_partial_merge_rewrites_only_touched_bucket(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "nation_b")
    nation = read_table(spark, sf_dir, "nation")
    write_bucketed(nation, dest, ["n_nationkey"], N_BUCKETS)
    before = _bucket_listing(spark, dest)
    assert len(before) > 1  # 25 keys over 8 buckets: several dirs exist

    inc = nation.filter(F.col("n_nationkey") == 7).withColumn(
        "n_name", F.lit("UPDATED")
    )
    stats = partial_merge(spark, dest, inc)
    assert stats["n_buckets"] == N_BUCKETS
    assert stats["buckets_touched"] == 1

    (touched_bucket,) = [
        r[0] for r in inc.select(bucket_id(["n_nationkey"], N_BUCKETS)).collect()
    ]
    after = _bucket_listing(spark, dest)
    assert set(after) == set(before)
    for b, files in before.items():
        if b == touched_bucket:
            continue  # the one rewritten bucket
        assert after[b] == files, f"untouched bucket {b} was rewritten"

    got = read_bucketed(spark, dest)
    assert got.count() == nation.count()
    assert (
        got.filter(F.col("n_nationkey") == 7).first().n_name == "UPDATED"
    )


def test_partial_merge_matches_full_merge(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "orders_b")
    orders = read_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0)
    inc = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    dels = orders.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey")

    write_bucketed(base, dest, ["o_orderkey"], N_BUCKETS)
    partial_merge(spark, dest, inc, deleted_keys=dels)

    expected = delete_sync(
        merge_upsert(base, inc.select(*base.columns), ["o_orderkey"]),
        dels,
        ["o_orderkey"],
    )
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    assert _rows(read_bucketed(spark, dest), cols) == _rows(expected, cols)


def test_partial_merge_new_keys_land_in_new_buckets(spark, tmp_path):
    dest = str(tmp_path / "tiny_b")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_bucketed(df, dest, ["id"], 4)
    existing = set(_bucket_listing(spark, dest))

    # append keys until one lands in a bucket with no directory yet
    newbies = spark.createDataFrame(
        [(i, f"new{i}") for i in range(3, 40)], "id long, v string"
    )
    stats = partial_merge(spark, dest, newbies)
    assert stats["buckets_touched"] >= len(existing)
    got = read_bucketed(spark, dest)
    assert got.count() == 2 + 37
    assert set(_bucket_listing(spark, dest)) >= existing


def test_partial_merge_delete_can_empty_a_bucket(spark, tmp_path):
    dest = str(tmp_path / "del_b")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "id long, v string")
    write_bucketed(df, dest, ["id"], 4)
    # delete every key in one bucket
    tagged = df.withColumn("b", bucket_id(["id"], 4))
    victim = tagged.first().b
    dels = tagged.filter(F.col("b") == victim).select("id")
    n_deleted = dels.count()
    empty_inc = df.limit(0)
    partial_merge(spark, dest, empty_inc, deleted_keys=dels)

    assert victim not in _bucket_listing(spark, dest)
    got = read_bucketed(spark, dest)
    assert got.count() == 20 - n_deleted
    assert got.join(dels, on="id", how="left_semi").count() == 0


def test_read_buckets_for_keys_point_lookup(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "cust_b")
    customer = read_table(spark, sf_dir, "customer")
    write_bucketed(customer, dest, ["c_custkey"], N_BUCKETS)
    wanted = customer.select("c_custkey").limit(5)
    got = read_buckets_for_keys(spark, dest, wanted)
    assert got.count() == 5
    assert BUCKET_COL not in got.columns
    assert set(r.c_custkey for r in got.collect()) == set(
        r.c_custkey for r in wanted.collect()
    )


def test_bucketize_migration_then_engine_sync(spark, sf_dir, tmp_path):
    from fastetl_spark.api import Engine

    orders = read_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") <= F.lit("2000-01-01").cast("timestamp"))
    dest = str(tmp_path / "dest")
    old.write.parquet(dest)
    src = str(tmp_path / "src")
    orders.write.parquet(src)

    eng = Engine(spark)
    eng.bucketize(dest, ["o_orderkey"], N_BUCKETS)
    assert read_bucket_spec(spark, dest) is not None

    n = eng.sync(
        {"path": src}, {"path": dest}, keys=["o_orderkey"], watermark_col="o_orderdate"
    )
    assert n == orders.count()
    got = read_bucketed(spark, dest)
    assert got.count() == orders.count()
    assert got.select("o_orderkey").distinct().count() == orders.count()
    # still a bucketed destination after the sync
    assert read_bucket_spec(spark, dest)["n_buckets"] == N_BUCKETS


def test_partial_merge_requires_spec(spark, tmp_path):
    plain = str(tmp_path / "plain")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    df.write.parquet(plain)
    with pytest.raises(ValueError, match="bucket_spec"):
        partial_merge(spark, plain, df)


def test_partial_merge_rejects_hive_root_with_migration_hint(spark, tmp_path):
    """A Hive-layout root (spec version 1, the index layout) is not a
    merge destination: the merge names the one-time migration."""
    dest = str(tmp_path / "hive")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    _write_hive_bucketed(df, dest, ["id"], 4)
    with pytest.raises(ValueError, match="bucketize"):
        partial_merge(spark, dest, df)
    assert not os.path.exists(dest + ".__merge_lock__")


def test_bucketize_migrates_hive_root(spark, tmp_path):
    """bucketize on a Hive-layout root keeps the rows and the columns:
    the Hive bucket column is neither read back nor recorded in the
    manifest schema, and the migrated root merges."""
    from fastetl_spark.api import Engine

    dest = str(tmp_path / "hive")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(30)], "id long, v string")
    _write_hive_bucketed(df, dest, ["id"], 4)
    bucketize(spark, dest, ["id"], N_BUCKETS)

    assert read_bucket_spec(spark, dest)["version"] == 2
    schema = read_manifest(spark, dest)["schema"]
    assert [f["name"] for f in schema["fields"]] == ["id", "v"]
    back = read_bucketed(spark, dest)
    assert back.columns == ["id", "v"]
    assert _rows(back, ["id", "v"]) == _rows(df, ["id", "v"])

    stats = partial_merge(spark, dest, df.limit(3).withColumn("v", F.lit("x")))
    assert stats["rows"] == 30
    assert read_bucketed(spark, dest).filter(F.col("v") == "x").count() == 3

    with pytest.raises(ValueError, match="atomic"):
        Engine(spark).bucketize(dest, ["id"], N_BUCKETS, atomic=False)


def test_foreach_batch_merge_bucketed(spark, sf_dir, tmp_path):
    from fastetl_spark.streaming.stream_ops import (
        foreach_batch_merge,
        read_events_stream,
    )

    events_dir = str(tmp_path / "events")
    read_table(spark, sf_dir, "events").repartition(4).write.parquet(events_dir)
    dest = str(tmp_path / "dest")
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    q = foreach_batch_merge(
        stream,
        dest_path=dest,
        keys=["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=N_BUCKETS,
    )
    q.awaitTermination(180)
    assert read_bucket_spec(spark, dest)["n_buckets"] == N_BUCKETS
    got = read_bucketed(spark, dest)
    src = spark.read.parquet(events_dir)
    assert got.count() == src.count()
    assert got.select("event_id").distinct().count() == src.count()


def test_materialize_reliable_checkpoint_mode(spark, sf_dir, tmp_path):
    from fastetl_spark.checkpointing import (
        enable_reliable_checkpoints,
        materialize,
        reliable_checkpoint_dir,
    )

    nation = read_table(spark, sf_dir, "nation")
    local_result = _rows(materialize(nation), nation.columns)
    assert reliable_checkpoint_dir(spark) is None
    try:
        enable_reliable_checkpoints(spark, str(tmp_path / "ckpt"))
        assert reliable_checkpoint_dir(spark) is not None
        reliable = materialize(nation)
        assert _rows(reliable, nation.columns) == local_result
        # the reliable path actually wrote checkpoint data to the dir
        assert any((tmp_path / "ckpt").rglob("*"))
    finally:
        spark.sparkContext.setCheckpointDir(None)
    assert reliable_checkpoint_dir(spark) is None


def test_engine_sync_bucketed_watermark_store(spark, sf_dir, tmp_path):
    """With a watermark store, sync never scans the destination for its
    MAX watermark: the second (no-new-data) sync reads the stored value,
    finds an empty increment, and touches zero buckets — every bucket
    file survives byte-identical."""
    from fastetl_spark.api import Engine
    from fastetl_spark.operators.sync import WatermarkStore

    orders = read_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    dest = str(tmp_path / "dest")
    orders.filter(F.col("o_orderdate") <= cutoff).write.parquet(dest)
    src = str(tmp_path / "src")
    orders.write.parquet(src)

    wm_path = str(tmp_path / "wm_state")
    eng = Engine(spark, watermark_store_path=wm_path)
    eng.bucketize(dest, ["o_orderkey"], N_BUCKETS)

    n = eng.sync(
        {"path": src}, {"path": dest}, keys=["o_orderkey"], watermark_col="o_orderdate"
    )
    assert n == orders.count()
    # the store holds the source max now
    stored = WatermarkStore(spark, wm_path).get(dest)
    true_max = orders.agg(F.max("o_orderdate")).first()[0]
    assert stored == true_max

    before = _bucket_listing(spark, dest)
    n2 = eng.sync(
        {"path": src}, {"path": dest}, keys=["o_orderkey"], watermark_col="o_orderdate"
    )
    assert n2 == orders.count()
    assert _bucket_listing(spark, dest) == before, "no-op sync rewrote buckets"


def test_engine_sync_emptied_bucketed_dest_reloads_full_source(spark, tmp_path):
    """A deletion feed can legitimately empty a bucketed destination;
    the next sync must treat the missing watermark as 'load everything'
    instead of wedging on a valid destination."""
    from fastetl_spark.api import Engine

    dest = str(tmp_path / "dest")
    rows = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, ts long"
    )
    write_bucketed(rows, dest, ["id"], N_BUCKETS)
    # empty it via a deletion feed — the layout stays valid (schema-
    # bearing empty file, spec intact)
    partial_merge(
        spark, dest, rows.limit(0), deleted_keys=rows.select("id")
    )
    assert read_bucketed(spark, dest).count() == 0
    assert read_bucket_spec(spark, dest) is not None

    src = str(tmp_path / "src")
    rows.write.parquet(src)
    eng = Engine(spark)
    n = eng.sync({"path": src}, {"path": dest}, keys=["id"], watermark_col="ts")
    assert n == 3
    assert _rows(read_bucketed(spark, dest), ["id", "v", "ts"]) == _rows(
        rows, ["id", "v", "ts"]
    )


def _tree(root: str) -> dict[str, bytes]:
    """{relative path: content} of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for f in names:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_engine_sync_plain_parquet_raises_naming_bucketize(spark, tmp_path):
    """An existing parquet destination without a bucket spec is not
    merged: the sync names the one-time migration and leaves every byte
    of the destination as it was."""
    from fastetl_spark.api import Engine

    rows = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id long, v string, ts long")
    dest = str(tmp_path / "dest")
    rows.limit(1).write.parquet(dest)
    src = str(tmp_path / "src")
    rows.write.parquet(src)
    before = _tree(dest)
    with pytest.raises(ValueError, match="bucketize"):
        Engine(spark).sync({"path": src}, {"path": dest}, keys=["id"], watermark_col="ts")
    assert _tree(dest) == before
    assert not os.path.exists(dest + ".__merge_lock__")


def test_engine_sync_rejects_other_keys_and_non_parquet(spark, tmp_path):
    """A bucketed root merges on its spec's keys only, and a JDBC or CSV
    destination is no sync destination: each raises before any write."""
    from fastetl_spark.api import Engine

    rows = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id long, v string, ts long")
    dest, src = str(tmp_path / "dest"), str(tmp_path / "src")
    write_bucketed(rows, dest, ["ts"], N_BUCKETS)
    rows.write.parquet(src)
    before = _tree(dest)
    eng = Engine(spark)
    with pytest.raises(ValueError, match=r"bucketed on \['ts'\]"):
        eng.sync({"path": src}, {"path": dest}, keys=["id"], watermark_col="ts")
    assert _tree(dest) == before
    jdbc = {"jdbc": {"url": "jdbc:derby:memory:x", "table": "t"}}
    csv = {"path": str(tmp_path / "csv"), "format": "csv"}
    for other in (jdbc, csv):
        with pytest.raises(ValueError, match="JDBC merge"):
            eng.sync({"path": src}, other, keys=["id"], watermark_col="ts")
    assert not os.path.exists(csv["path"])


def test_first_sync_creates_bucketed_root_then_lands_a_delta(spark, tmp_path):
    """The first sync into a missing destination writes a bucketed root
    (bases, not deltas), without the keys the deletion feed names even
    where the source holds them. The second sync adds exactly one delta
    dir and leaves the base map alone. Both match the frame-level
    incremental_sync of the same inputs."""
    from fastetl_spark.api import Engine
    from fastetl_spark.io.bucketed import DELTA_PREFIX
    from fastetl_spark.operators.sync import incremental_sync

    cols = ["id", "v", "ts"]
    first = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(40)], "id long, v string, ts long"
    )
    dels = spark.createDataFrame([(3,), (7,)], "id long")  # both in the source
    dest, src1, src2 = (str(tmp_path / n) for n in ("dest", "src1", "src2"))
    first.write.parquet(src1)
    eng = Engine(spark, load_log_path=str(tmp_path / "log"))

    n = eng.sync({"path": src1}, {"path": dest}, ["id"], "ts", deleted_keys=dels)
    want = first.join(dels, "id", "left_anti")
    assert n == 38
    spec = read_bucket_spec(spark, dest)
    assert spec["keys"] == ["id"] and spec["n_buckets"] == 1  # a small source
    m1 = read_manifest(spark, dest)
    assert "deltas" not in m1
    assert _rows(eng.read({"path": dest}), cols) == _rows(want, cols)

    second = spark.createDataFrame(
        [(5, "u5", 2), (100, "new", 2), (1, "stale", 1)], "id long, v string, ts long"
    )
    first.unionByName(second).write.parquet(src2)
    n2 = eng.sync({"path": src2}, {"path": dest}, ["id"], "ts")
    deltas = [d for d in os.listdir(dest) if d.startswith(DELTA_PREFIX)]
    assert deltas == [f"{DELTA_PREFIX}{m1['gen'] + 1}"]
    m2 = read_manifest(spark, dest)
    assert m2["buckets"] == m1["buckets"]
    oracle = incremental_sync(want, spark.read.parquet(src2), ["id"], "ts")
    assert n2 == oracle.count() == 39
    assert _rows(eng.read({"path": dest}), cols) == _rows(oracle, cols)
    log = {(r.tp_carga, r.qt_linhas) for r in eng.load_info.read().collect()}
    assert log == {("full", 38), ("incremental", 39)}


def test_engine_read_resolves_a_merged_bucketed_root(spark, tmp_path):
    """A root with a pending delta is no raw-readable parquet tree;
    Engine.read resolves it like read_bucketed, spec or no spec."""
    from fastetl_spark.api import Engine
    from fastetl_spark.io.bucketed import SPEC_FILE

    dest = str(tmp_path / "dest")
    base = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    write_bucketed(base, dest, ["k"], 4)
    partial_merge(spark, dest, base.limit(5).withColumn("v", F.lit(-1)))
    want = _rows(read_bucketed(spark, dest), ["k", "v"])
    assert sum(v == -1 for _, v in want) == 5
    assert _rows(Engine(spark).read({"path": dest}), ["k", "v"]) == want
    os.remove(os.path.join(dest, SPEC_FILE))  # the manifest alone decides
    assert _rows(Engine(spark).read({"path": dest}), ["k", "v"]) == want


def test_v2_roundtrip_merge_and_key_pruning(spark, sf_dir, tmp_path):
    """Layout v2 (manifest-committed generations): write/read round
    trip, partial merge equivalence with the frame-level operators, and
    bucket-pruned point lookups."""
    from fastetl_spark.io.bucketed import read_manifest

    dest = str(tmp_path / "nation_v2")
    nation = read_table(spark, sf_dir, "nation")
    write_bucketed(nation, dest, ["n_nationkey"], N_BUCKETS)
    assert read_bucket_spec(spark, dest)["version"] == 2
    assert read_manifest(spark, dest)["gen"] == 1

    back = read_bucketed(spark, dest)
    assert _rows(back, nation.columns) == _rows(nation, nation.columns)

    inc = nation.limit(3).withColumn("n_comment", F.lit("merged"))
    dels = nation.orderBy(F.col("n_nationkey").desc()).limit(2).select("n_nationkey")
    stats = partial_merge(spark, dest, inc, deleted_keys=dels)
    assert stats["buckets_touched"] >= 1
    want = delete_sync(
        merge_upsert(nation, inc, ["n_nationkey"]), dels, ["n_nationkey"]
    )
    got = read_bucketed(spark, dest)
    assert _rows(got, nation.columns) == _rows(want, nation.columns)
    assert read_manifest(spark, dest)["gen"] == 2

    # point lookup prunes to manifest dirs (base and pending deltas) of
    # the touched buckets
    keys_df = nation.limit(2).select("n_nationkey")
    looked = read_buckets_for_keys(spark, dest, keys_df)
    assert looked.count() == 2
    m = read_manifest(spark, dest)
    wanted = {r[0] for r in keys_df.select(bucket_id(["n_nationkey"], N_BUCKETS)).collect()}
    allowed = {m["buckets"][b] for b in wanted}
    allowed |= {d for b in wanted for d in m.get("deltas", {}).get(b, [])}
    dest_files = [f for f in looked.inputFiles() if dest in f]
    assert dest_files and all(any(f"/{d}/" in f for d in allowed) for f in dest_files)


def test_v2_crash_before_pointer_flip_leaves_old_generation(spark, sf_dir, tmp_path, monkeypatch):
    """Kill the merge between writing new bucket dirs and the manifest
    commit: a reader must see the ENTIRE old generation (not a mix),
    and re-running the same increment must converge to the new state."""
    import fastetl_spark.io.bucketed as B

    dest = str(tmp_path / "dest_v2")
    nation = read_table(spark, sf_dir, "nation")
    write_bucketed(nation, dest, ["n_nationkey"], N_BUCKETS)
    before = _rows(read_bucketed(spark, dest), nation.columns)

    inc = nation.withColumn("n_name", F.lit("v2-merged"))  # touches all buckets

    real_commit = B._commit_manifest

    def crash(*a, **kw):
        raise RuntimeError("injected crash before pointer flip")

    monkeypatch.setattr(B, "_commit_manifest", crash)
    with pytest.raises(RuntimeError, match="injected"):
        partial_merge(spark, dest, inc)
    monkeypatch.setattr(B, "_commit_manifest", real_commit)

    # reader mid-crash: old generation, complete and unmixed
    assert B.read_manifest(spark, dest)["gen"] == 1
    mid = _rows(read_bucketed(spark, dest), nation.columns)
    assert mid == before
    assert not any("v2-merged" in r for r in mid)

    # re-run converges (orphan next-gen dirs are overwritten)
    partial_merge(spark, dest, inc)
    after = read_bucketed(spark, dest)
    assert after.filter(F.col("n_name") != "v2-merged").count() == 0
    assert after.count() == nation.count()


def test_v2_deletion_to_empty_then_sync_reloads(spark, tmp_path):
    """Emptying a v2 destination keeps a schema-bearing generation;
    Engine.sync reloads the full source afterwards."""
    from fastetl_spark.api import Engine

    dest = str(tmp_path / "dest")
    rows = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, ts long"
    )
    write_bucketed(rows, dest, ["id"], N_BUCKETS)
    partial_merge(spark, dest, rows.limit(0), deleted_keys=rows.select("id"))
    emptied = read_bucketed(spark, dest)
    assert emptied.count() == 0
    assert set(emptied.columns) == {"id", "v", "ts"}

    src = str(tmp_path / "src")
    rows.write.parquet(src)
    n = Engine(spark).sync({"path": src}, {"path": dest}, keys=["id"], watermark_col="ts")
    assert n == 3
    assert _rows(read_bucketed(spark, dest), ["id", "v", "ts"]) == _rows(
        rows, ["id", "v", "ts"]
    )


def test_v2_generation_gc_bounds_dirs(spark, tmp_path):
    """Repeated merges must not accumulate generations: only the live
    and previous generation's dirs and manifests survive."""
    import os

    from fastetl_spark.io.bucketed import read_manifest

    dest = str(tmp_path / "dest")
    rows = spark.createDataFrame([(i, i * 10) for i in range(8)], "id long, v long")
    write_bucketed(rows, dest, ["id"], 4)
    for g in range(5):
        inc = spark.createDataFrame([(i, 100 * g + i) for i in range(8)], "id long, v long")
        partial_merge(spark, dest, inc)
    m = read_manifest(spark, dest)
    assert m["gen"] == 6
    names = os.listdir(dest)
    manifests = [n for n in names if n.startswith("_manifest_")]
    assert sorted(manifests) == ["_manifest_5.json", "_manifest_6.json"]
    live = set(m["buckets"].values())
    bucket_dirs = {n for n in names if n.startswith("bucket_")}
    # every dir is referenced by gen 6 or gen 5 (kept for in-flight readers)
    import json as _json

    with open(os.path.join(dest, "_manifest_5.json")) as fh:
        prev_live = set(_json.load(fh)["buckets"].values())
    assert bucket_dirs == live | prev_live
    # the data is the last increment's
    got = {(r.id, r.v) for r in read_bucketed(spark, dest).collect()}
    assert got == {(i, 400 + i) for i in range(8)}


def test_v2_rollback_undoes_last_merge_and_history_continues(spark, tmp_path):
    """rollback_bucketed flips the pointer back to the pre-merge
    generation; reads see the old state, a later merge builds on the
    rolled-back state, and time-travel reads still resolve retained
    generations."""
    import pytest

    from fastetl_spark.io.bucketed import (
        list_generations,
        read_bucketed_at,
        read_manifest,
        rollback_bucketed,
    )

    dest = str(tmp_path / "dest")
    rows = spark.createDataFrame([(i, "orig") for i in range(8)], "id long, v string")
    write_bucketed(rows, dest, ["id"], 4)
    inc = spark.createDataFrame([(i, "merged") for i in range(8)], "id long, v string")
    partial_merge(spark, dest, inc)
    assert {r.v for r in read_bucketed(spark, dest).collect()} == {"merged"}

    new_gen = rollback_bucketed(spark, dest)
    assert new_gen == 3  # history: 1 (load), 2 (merge), 3 (rollback)
    assert {r.v for r in read_bucketed(spark, dest).collect()} == {"orig"}
    # the rolled-back-from generation is still time-travel readable
    assert {r.v for r in read_bucketed_at(spark, dest, 2).collect()} == {"merged"}
    assert list_generations(spark, dest) == [1, 2, 3]

    # a merge after rollback builds on the rolled-back state
    inc2 = spark.createDataFrame([(0, "post")], "id long, v string")
    partial_merge(spark, dest, inc2)
    got = {(r.id, r.v) for r in read_bucketed(spark, dest).collect()}
    assert got == {(0, "post")} | {(i, "orig") for i in range(1, 8)}
    assert read_manifest(spark, dest)["gen"] == 4

    # unknown generation raises; the Hive (index) layout raises
    with pytest.raises(ValueError, match="not in committed history"):
        rollback_bucketed(spark, dest, to_gen=99)
    hive = str(tmp_path / "hive_dest")
    _write_hive_bucketed(rows, hive, ["id"], 4)
    with pytest.raises(ValueError, match="v2"):
        rollback_bucketed(spark, hive)


def test_v2_rollback_rejects_gcd_generation(spark, tmp_path):
    """A generation whose bucket dirs were GC'd (outside keep_gens)
    cannot be rolled back to — the failure is loud, not a silent
    partial read."""
    import pytest

    from fastetl_spark.io.bucketed import rollback_bucketed

    dest = str(tmp_path / "dest")
    rows = spark.createDataFrame([(i, 0) for i in range(8)], "id long, v long")
    write_bucketed(rows, dest, ["id"], 4)
    for g in range(3):
        inc = spark.createDataFrame([(i, g + 1) for i in range(8)], "id long, v long")
        partial_merge(spark, dest, inc)
    # gens 1..4 committed; GC keeps the last 2 manifests (3, 4)
    with pytest.raises(ValueError, match="not in committed history|GC'd"):
        rollback_bucketed(spark, dest, to_gen=1)


def test_advise_n_buckets_sizes_from_disk_bytes(spark, tmp_path):
    from fastetl_spark.io.bucketed import advise_n_buckets

    p = str(tmp_path / "t")
    spark.range(50_000).selectExpr("id", "uuid() AS payload").write.parquet(p)
    import os

    total = sum(
        os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )
    # target = half the table -> ceil gives 2 buckets (power of two kept)
    assert advise_n_buckets(spark, p, target_bucket_bytes=total // 2 + 1) == 2
    # tiny target: count rounds UP to the next power of two
    n = advise_n_buckets(spark, p, target_bucket_bytes=total // 5)
    assert n == 8  # ceil(5.x) -> 5..6 -> next pow2 is 8
    assert advise_n_buckets(spark, p, target_bucket_bytes=total // 5, power_of_two=False) in (5, 6)
    # huge target collapses to one bucket
    assert advise_n_buckets(spark, p, target_bucket_bytes=10 << 40) == 1


def test_v2_keep_gens_widens_rollback_window(spark, tmp_path):
    """A destination written with keep_gens=4 retains enough history to
    roll back past the previous generation."""
    from fastetl_spark.io.bucketed import (
        list_generations,
        read_bucketed_at,
        rollback_bucketed,
    )

    dest = str(tmp_path / "dest")
    rows = spark.createDataFrame([(i, 0) for i in range(8)], "id long, v long")
    write_bucketed(rows, dest, ["id"], 4, keep_gens=4)
    for g in range(3):
        inc = spark.createDataFrame([(i, g + 1) for i in range(8)], "id long, v long")
        partial_merge(spark, dest, inc)
    assert list_generations(spark, dest) == [1, 2, 3, 4]
    assert {r.v for r in read_bucketed_at(spark, dest, 2).collect()} == {1}
    new_gen = rollback_bucketed(spark, dest, to_gen=1)
    assert new_gen == 5
    assert {r.v for r in read_bucketed(spark, dest).collect()} == {0}


def test_vacuum_dest_removes_leftovers_keeps_data(spark, tmp_path):
    """Stranded staging/backup dirs and old commit markers go; the live
    destination and the newest markers stay."""
    import os

    from fastetl_spark.io.fsutil import vacuum_dest
    from fastetl_spark.streaming.stream_ops import make_merge_batch

    dest = str(tmp_path / "dest")
    merge = make_merge_batch(dest, keys=["id"])
    for b in range(5):
        merge(spark.createDataFrame([(b, f"v{b}")], "id long, v string"), b)
    # strand fake leftovers like a crash would
    os.makedirs(dest + ".__staging__/x")
    os.makedirs(dest + ".__old__")

    stats = vacuum_dest(spark, dest, keep_commit_markers=2)
    assert not os.path.exists(dest + ".__staging__")
    assert not os.path.exists(dest + ".__old__")
    assert stats["markers_removed"] == 3
    kept = sorted(
        f for f in os.listdir(dest + ".__commits__") if not f.startswith(".")
    )
    assert kept == ["3", "4"]
    assert read_bucketed(spark, dest).count() == 5
    # redelivery of a RETAINED batch is still absorbed after the vacuum
    merge(spark.createDataFrame([(4, "XX")], "id long, v string"), 4)
    assert {r.v for r in read_bucketed(spark, dest).collect()} == {"v0", "v1", "v2", "v3", "v4"}


def test_partial_merge_lock_rejects_concurrent_and_vacuums(spark, tmp_path):
    from fastetl_spark.io.fsutil import vacuum_dest

    dest = str(tmp_path / "dest")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_bucketed(df, dest, ["id"], 4)
    # simulate a crashed merge that left its lock behind
    open(dest + ".__merge_lock__", "w").close()
    with pytest.raises(RuntimeError, match="another merge holds"):
        partial_merge(spark, dest, df)
    vacuum_dest(spark, dest)
    assert not os.path.exists(dest + ".__merge_lock__")
    # lock cleared: merges work again, and release their own lock
    stats = partial_merge(spark, dest, df.withColumn("v", F.lit("x")))
    assert stats["rows_written"] == 2
    assert not os.path.exists(dest + ".__merge_lock__")
