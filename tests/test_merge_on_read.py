"""Merge-on-read bucketed destinations (io/bucketed): deltas, tombstones
and folds.

A merge writes one delta dir for all the buckets it touches (upserts
plus tombstones) and then folds a touched bucket into a new base only
when its deltas pass ``FOLD_DELTA_SHARE`` of its rows. These tests check
every reader against an independent oracle while deltas are pending: a
kill at each commit boundary of a merge, of a sync and of a first sync
converges on a plain re-run to the full-frame
``merge_upsert``/``delete_sync`` result, with the manifest's watermark
moving together with the data, also across a rollback; a merge of 16
buckets writes one delta file; a bucket that folded reads none of its
rows from a delta dir that other buckets still list; random
upsert/delete sequences (re-inserts after deletes, deletes of absent
keys, emptied buckets, forced folds) match a Python model through
``read_bucketed``,
``read_buckets_for_keys``, ``read_bucketed_at`` and the manifest rows;
a keyed stream sink's batch killed before or after its commit and
replayed lands once; shards read their own rows; a read past
``BROADCAST_DELTA_ROWS`` does not broadcast; a sparse destination folds
only the buckets without a base; and the sync phases name their Spark
jobs.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import fastetl_spark.io.bucketed as B
from fastetl_spark.io.bucketed import (
    bucket_id,
    manifest_watermark,
    partial_merge,
    read_bucketed,
    read_bucketed_at,
    read_buckets_for_keys,
    read_manifest,
    read_shard,
    rollback_bucketed,
    shard_map,
    write_bucketed,
)
from fastetl_spark.operators.sync import delete_sync, merge_upsert

KEYS = ["id"]


def _frame(spark, ids, tag: str):
    """Rows (v, id): the key is not the first column, as a reader must
    not confuse column positions with names."""
    return spark.createDataFrame([(f"{tag}{i}", int(i)) for i in ids], "v string, id long")


def _keys(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "id long")


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select("id", "v").collect())


# (upserts, tag, deletes): round 0 lands as deltas (80 of 120 keys, so
# every bucket's deltas pass the fold share), round 1 folds every bucket
# it touches, round 2 lands as deltas on the folded bases. Deletes
# include absent keys, and round 1 re-inserts deleted keys.
ROUNDS = [
    (list(range(0, 80)) + list(range(200, 210)), "a", [1, 3, 999]),
    (list(range(1, 4)) + list(range(60, 130)), "b", [2, 4, 998]),
    (list(range(0, 10)), "c", [100, 205]),
]


def _oracle(spark, n_rounds: int) -> list[list[tuple]]:
    """Full-frame states: the base, then after each round."""
    state = _frame(spark, range(120), "base")
    states = [_rows(state)]
    for ups, tag, dels in ROUNDS[:n_rounds]:
        state = delete_sync(merge_upsert(state, _frame(spark, ups, tag), KEYS), _keys(spark, dels), KEYS)
        states.append(_rows(state))
    return states


def _merge(spark, dest, i: int) -> dict:
    ups, tag, dels = ROUNDS[i]
    return partial_merge(spark, dest, _frame(spark, ups, tag), deleted_keys=_keys(spark, dels))


def _assert_converged(spark, dest, want: list[tuple]) -> None:
    """Reads, manifest rows and the dirs on disk agree with ``want``:
    every dir left is referenced by a retained generation."""
    assert _rows(read_bucketed(spark, dest)) == want
    m = read_manifest(spark, dest)
    assert sum(m["rows"].values()) == len(want)
    retained = set(B._referenced(m))
    prev = [g for g in B.list_generations(spark, dest) if g < m["gen"]]
    if prev:
        retained |= set(B._referenced(B._read_manifest_gen(spark, dest, prev[-1])))
    for name in os.listdir(dest):
        if name.startswith(("bucket_", B.DELTA_PREFIX)):
            assert name in retained, name


def _crash_in(monkeypatch, name: str, after_call: bool, only=lambda *a: True):
    """Make ``io.bucketed.<name>`` raise (after running, with
    ``after_call``) where ``only(*args)`` holds; returns the undo."""
    real = getattr(B, name)

    def crash(*args, **kwargs):
        if not only(*args):
            return real(*args, **kwargs)
        if after_call:
            real(*args, **kwargs)
        raise RuntimeError(f"injected crash in {name}")

    monkeypatch.setattr(B, name, crash)
    return lambda: monkeypatch.setattr(B, name, real)


@pytest.mark.parametrize(
    "round_, boundary",
    [
        (0, "delta_written"),  # delta dir written, manifest not committed
        (0, "committed"),  # manifest committed, GC not run
        (1, "fold_staged"),  # mid-fold: folded rows staged, not placed
        (1, "fold_placed"),  # fold dirs placed, manifest not committed
        (2, "delta_written"),
    ],
)
def test_kill_at_commit_boundary_then_rerun_converges(spark, tmp_path, monkeypatch, round_, boundary):
    dest = str(tmp_path / "dest")
    write_bucketed(_frame(spark, range(120), "base"), dest, KEYS, 4)
    states = _oracle(spark, len(ROUNDS))
    for i in range(round_):
        _merge(spark, dest, i)
    if round_ == 1:
        assert all(B._folds(read_manifest(spark, dest), b) for b in range(4))

    if boundary in ("delta_written", "fold_placed"):
        undo = _crash_in(monkeypatch, "_commit_manifest", after_call=False)
    elif boundary == "committed":
        undo = _crash_in(monkeypatch, "_gc_generations", after_call=False)
    else:
        undo = _crash_in(
            monkeypatch, "_write_by_bucket", after_call=True,
            only=lambda df, path: path.endswith(".__merge_staging__"),
        )
    with pytest.raises(RuntimeError, match="injected crash"):
        _merge(spark, dest, round_)
    undo()
    assert not os.path.exists(dest + ".__merge_lock__")
    # a reader sees one whole generation: the new one only once committed
    seen = states[round_ + 1] if boundary == "committed" else states[round_]
    assert _rows(read_bucketed(spark, dest)) == seen

    for i in range(round_, len(ROUNDS)):
        _merge(spark, dest, i)
    _assert_converged(spark, dest, states[-1])


def _sync_round(spark, eng, src: str, dest: str, i: int) -> int:
    """Land ``ROUNDS[i]`` through ``Engine.sync``: its rows, at ts
    ``i + 2``, are appended to the source, which keeps every earlier
    round's rows, as a staged landing area does."""
    ups, tag, dels = ROUNDS[i]
    _frame(spark, ups, tag).withColumn("ts", F.lit(i + 2).cast("long")).write.mode("append").parquet(src)
    return eng.sync({"path": src}, {"path": dest}, KEYS, "ts", deleted_keys=_keys(spark, dels))


def _synced(spark, dest) -> tuple:
    """What a reader of ``dest`` sees: its rows and its watermark."""
    return _rows(read_bucketed(spark, dest)), manifest_watermark(read_manifest(spark, dest))


@pytest.mark.parametrize(
    "round_, boundary",
    [
        (0, "delta_written"),  # delta dir written, manifest not committed
        (1, "fold_staged"),  # folded rows staged, not placed
        (1, "fold_placed"),  # fold dirs placed, manifest not committed
        (0, "committed"),  # manifest committed, GC not run
        (2, "gc"),  # GC run, sync not returned
    ],
)
def test_sync_kill_at_each_boundary_keeps_data_and_watermark_together(
    spark, tmp_path, monkeypatch, round_, boundary
):
    """``Engine.sync`` killed at each commit boundary of its merge: the
    rows and the manifest's watermark are both the old ones or both the
    new ones, and a plain re-run of the same sync converges."""
    from fastetl_spark.api import Engine

    dest, src = str(tmp_path / "dest"), str(tmp_path / "src")
    base = _frame(spark, range(120), "base").withColumn("ts", F.lit(1).cast("long"))
    write_bucketed(base, dest, KEYS, 4, watermark_col="ts")
    states = _oracle(spark, len(ROUNDS))
    eng = Engine(spark)
    for i in range(round_):
        _sync_round(spark, eng, src, dest, i)
    old, new = (states[round_], round_ + 1), (states[round_ + 1], round_ + 2)
    assert _synced(spark, dest) == old

    if boundary in ("delta_written", "fold_placed"):
        _crash_in(monkeypatch, "_commit_manifest", after_call=False)
    elif boundary == "fold_staged":
        _crash_in(
            monkeypatch, "_write_by_bucket", after_call=True,
            only=lambda df, path: path.endswith(".__merge_staging__"),
        )
    else:
        _crash_in(monkeypatch, "_gc_generations", after_call=boundary == "gc")
    with pytest.raises(RuntimeError, match="injected crash"):
        _sync_round(spark, eng, src, dest, round_)
    monkeypatch.undo()
    assert _synced(spark, dest) == (new if boundary in ("committed", "gc") else old)

    ups, _, dels = ROUNDS[round_]
    eng.sync({"path": src}, {"path": dest}, KEYS, "ts", deleted_keys=_keys(spark, dels))
    assert _synced(spark, dest) == new
    for i in range(round_ + 1, len(ROUNDS)):
        _sync_round(spark, eng, src, dest, i)
    _assert_converged(spark, dest, states[-1])
    assert manifest_watermark(read_manifest(spark, dest)) == len(ROUNDS) + 1


def test_sync_after_rollback_remerges_the_rolled_back_increment(spark, tmp_path):
    """A rollback moves the watermark back with the data, so the next
    sync of the same source lands the undone round again."""
    from fastetl_spark.api import Engine

    dest, src = str(tmp_path / "dest"), str(tmp_path / "src")
    base = _frame(spark, range(120), "base").withColumn("ts", F.lit(1).cast("long"))
    write_bucketed(base, dest, KEYS, 4, watermark_col="ts")
    states = _oracle(spark, 2)
    eng = Engine(spark)
    _sync_round(spark, eng, src, dest, 0)
    _sync_round(spark, eng, src, dest, 1)
    assert _synced(spark, dest) == (states[2], 3)
    rollback_bucketed(spark, dest)
    assert _synced(spark, dest) == (states[1], 2)
    loads = read_manifest(spark, dest)["loads"]
    assert [r["kind"] for r in loads] == ["full", "incremental"]
    n = eng.sync({"path": src}, {"path": dest}, KEYS, "ts", deleted_keys=_keys(spark, ROUNDS[1][2]))
    assert n == len(states[2]) and _synced(spark, dest) == (states[2], 3)


@pytest.mark.parametrize(
    "name, after_call, only",
    [
        ("_write_by_bucket", True, None),  # bucket rows staged
        ("parquet_rows", False, None),  # bucket dirs being placed
        ("_commit_manifest", True, None),  # manifest staged, no spec
        ("write_text_file", True, lambda spark, path, text: path.endswith(B.SPEC_FILE)),
    ],
)
def test_first_sync_crash_at_each_step_then_rerun_converges(
    spark, tmp_path, monkeypatch, name, after_call, only
):
    """The first sync builds the whole root aside and renames it into
    place once: a crash at any step before leaves no destination, and a
    plain re-run of the same sync creates it, then later syncs match
    ``incremental_sync``."""
    from fastetl_spark.api import Engine
    from fastetl_spark.operators.sync import incremental_sync

    dest, src1, src2 = (str(tmp_path / n) for n in ("dest", "src1", "src2"))
    first = _frame(spark, range(40), "a").withColumn("ts", F.lit(1).cast("long"))
    first.write.parquet(src1)
    dels = _keys(spark, [3, 7])
    eng = Engine(spark)
    _crash_in(monkeypatch, name, after_call, only or (lambda *a: True))
    with pytest.raises(RuntimeError, match="injected crash"):
        eng.sync({"path": src1}, {"path": dest}, KEYS, "ts", deleted_keys=dels)
    monkeypatch.undo()
    assert not os.path.exists(dest)

    assert eng.sync({"path": src1}, {"path": dest}, KEYS, "ts", deleted_keys=dels) == 38
    want = first.join(dels, "id", "left_anti")
    assert _synced(spark, dest) == (_rows(want), 1)
    second = _frame(spark, [5, 100], "b").withColumn("ts", F.lit(2).cast("long"))
    first.unionByName(second).write.parquet(src2)
    assert eng.sync({"path": src2}, {"path": dest}, KEYS, "ts") == 39
    oracle = incremental_sync(want, spark.read.parquet(src2), KEYS, "ts")
    assert _synced(spark, dest) == (_rows(oracle), 2)


def _stream_batch(spark, sink: str, dest: str):
    """The body of a keyed stream sink over ``dest`` and its first
    batch (``ROUNDS[0]``, deletes only for the CDC feed, which carries
    no key twice), with the state one application of it leaves."""
    from fastetl_spark.streaming.stream_ops import make_cdc_batch, make_merge_batch

    ups, tag, dels = ROUNDS[0]
    base = _frame(spark, range(120), "base")
    if sink == "merge":
        batch = _frame(spark, ups, tag)
        return make_merge_batch(dest, KEYS), batch, _rows(merge_upsert(base, batch, KEYS))
    upserts = _frame(spark, [i for i in ups if i not in dels], tag)
    feed = upserts.withColumn("op", F.lit("U")).unionByName(
        _keys(spark, dels).withColumn("v", F.lit(None).cast("string")).withColumn("op", F.lit("D"))
    )
    want = delete_sync(merge_upsert(base, upserts, KEYS), _keys(spark, dels), KEYS)
    return make_cdc_batch(dest, KEYS), feed, _rows(want)


@pytest.mark.parametrize("sink", ["merge", "cdc"])
@pytest.mark.parametrize("committed", [False, True], ids=["before_commit", "after_commit"])
def test_stream_batch_killed_then_replayed_lands_once(spark, tmp_path, monkeypatch, sink, committed):
    """A keyed stream sink's batch killed before its manifest commit, or
    after it (the checkpoint never commits), then replayed with the same
    batch id as Structured Streaming does: the destination holds the
    batch once, and a replay of a committed batch writes no new
    generation."""
    dest = str(tmp_path / "dest")
    write_bucketed(_frame(spark, range(120), "base"), dest, KEYS, 4)
    body, batch, want = _stream_batch(spark, sink, dest)
    _crash_in(monkeypatch, "_commit_manifest", after_call=committed)
    with pytest.raises(RuntimeError, match="injected crash"):
        body(batch, 0)
    monkeypatch.undo()
    assert B.list_generations(spark, dest)[-1] == (2 if committed else 1)

    body(batch, 0)
    assert B.list_generations(spark, dest)[-1] == 2
    assert read_manifest(spark, dest)["loads"][-1]["txn"] == "0"
    _assert_converged(spark, dest, want)


def test_round_kinds_and_rows_written(spark, tmp_path):
    """Round 0 writes only its delta (upserts + tombstones), round 1
    writes its delta and folds it with the rest of every bucket into new
    bases, round 2 is a delta on the folded bases; a base dir is never
    rewritten by a round that does not fold it."""
    dest = str(tmp_path / "dest")
    write_bucketed(_frame(spark, range(120), "base"), dest, KEYS, 4)
    base_dirs = read_manifest(spark, dest)["buckets"]
    states = _oracle(spark, len(ROUNDS))

    stats = _merge(spark, dest, 0)
    m = read_manifest(spark, dest)
    assert stats["rows_written"] == len(ROUNDS[0][0]) + len(ROUNDS[0][2])
    assert m["buckets"] == base_dirs
    assert all(m["deltas"][b] == ["delta_v2"] for b in range(4))
    assert sum(m["delta_rows"].values()) == stats["rows_written"]

    stats = _merge(spark, dest, 1)
    m = read_manifest(spark, dest)
    assert not m["deltas"] and not os.path.exists(os.path.join(dest, "delta_v3"))
    assert all(d == f"bucket_{b}_v3" for b, d in m["buckets"].items())
    assert stats["rows"] == len(states[2])
    assert stats["rows_written"] == len(ROUNDS[1][0]) + len(ROUNDS[1][2]) + len(states[2])

    stats = _merge(spark, dest, 2)
    assert stats["rows_written"] == len(ROUNDS[2][0]) + len(ROUNDS[2][2])
    assert _rows(read_bucketed(spark, dest)) == states[3]
    assert _rows(read_bucketed_at(spark, dest, 3)) == states[2]


def test_merge_of_sixteen_buckets_writes_one_delta_file(spark, tmp_path):
    dest = str(tmp_path / "dest")
    write_bucketed(_frame(spark, range(1600), "base"), dest, KEYS, 16)
    stats = partial_merge(spark, dest, _frame(spark, range(0, 1600, 8), "new"))
    assert stats["buckets_touched"] == 16
    delta = os.path.join(dest, "delta_v2")
    data = [f for f in os.listdir(delta) if f.endswith(".parquet") and not f.startswith(".")]
    assert len(data) == 1 and os.path.isfile(os.path.join(delta, data[0])), os.listdir(delta)
    assert all(d == ["delta_v2"] for d in read_manifest(spark, dest)["deltas"].values())


def test_folded_bucket_reads_none_of_its_rows_in_a_dir_others_still_list(spark, tmp_path):
    """Bucket 0 folds at gen 3 while bucket 1 still lists ``delta_v2``,
    so a merge at gen 4 that touches both reads ``delta_v2`` again. It
    keeps the dir's rows of bucket 1 only: bucket 0's pending rows are
    its gen-4 rows alone, and its keys read their folded gen-3 version.
    A filter on the bucket alone counts bucket 0's gen-2 rows again and
    lets them win over the fold."""
    dest = str(tmp_path / "dest")
    where = _bucket_of(spark, 200, 2)
    a, b = ([k for k in range(200) if where[k] == x] for x in (0, 1))
    model = {k: f"base{k}" for k in range(200)}
    write_bucketed(_frame(spark, range(200), "base"), dest, KEYS, 2)

    def merge(ups, tag):
        partial_merge(spark, dest, _frame(spark, ups, tag))
        model.update({k: f"{tag}{k}" for k in ups})
        return read_manifest(spark, dest)

    m = merge(a[:40] + b[:5], "g2")  # bucket 0's deltas pass the fold share
    assert m["deltas"] == {0: ["delta_v2"], 1: ["delta_v2"]}
    m = merge(a[:5], "g3")
    assert 0 not in m["deltas"] and m["deltas"][1] == ["delta_v2"]
    m = merge(a[30:33] + b[5:6], "g4")
    assert m["deltas"] == {0: ["delta_v4"], 1: ["delta_v2", "delta_v4"]}
    assert m["delta_rows"] == {0: 3, 1: 6}
    assert {r.id: r.v for r in read_bucketed(spark, dest).collect()} == model
    probe = _keys(spark, a[:5] + b[:1])
    assert {r.id: r.v for r in read_buckets_for_keys(spark, dest, probe).collect()} == {
        k: model[k] for k in a[:5] + b[:1]
    }


def test_manifest_with_per_bucket_delta_entries_raises(spark, tmp_path):
    """A manifest of the layout before one delta dir per generation
    (an entry per bucket) is not read: the error names the entry."""
    import json

    dest = str(tmp_path / "dest")
    write_bucketed(_frame(spark, range(120), "base"), dest, KEYS, 4)
    _merge(spark, dest, 0)
    path = os.path.join(dest, f"{B.MANIFEST_PREFIX}2.json")
    with open(path) as fh:
        m = json.load(fh)
    m["deltas"] = {b: [f"delta_v2/{B.BUCKET_COL}={b}"] for b in m["deltas"]}
    with open(path, "w") as fh:
        json.dump(m, fh)
    os.remove(os.path.join(dest, f".{B.MANIFEST_PREFIX}2.json.crc"))
    with pytest.raises(ValueError, match=f"delta_v2/{B.BUCKET_COL}=0"):
        read_manifest(spark, dest)


def _bucket_of(spark, n_keys: int, n_buckets: int) -> dict[int, int]:
    df = spark.range(n_keys).select("id", bucket_id(KEYS, n_buckets).alias("b"))
    return {r.id: r.b for r in df.collect()}


_OPS = st.lists(
    st.tuples(
        st.sets(st.integers(0, 23), max_size=10),  # upserts
        st.sets(st.integers(0, 29), max_size=6),  # deletes (24-29 never exist)
        st.one_of(st.none(), st.integers(0, 3)),  # empty this bucket too
        st.booleans(),  # fold every touched bucket that has deltas
    ),
    min_size=2,
    max_size=5,
)


@given(st.data())
@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_random_sequences_match_python_model(spark, tmp_path_factory, data):
    dest = str(tmp_path_factory.mktemp("mor") / "dest")
    where = _bucket_of(spark, 30, 4)
    model = {k: f"base{k}" for k in range(0, 24, 2)}
    write_bucketed(_frame(spark, sorted(model), "base"), dest, KEYS, 4, keep_gens=10)
    history = {1: dict(model)}
    for step, (ups, dels, empty, fold) in enumerate(data.draw(_OPS)):
        if empty is not None:
            dels = dels | {k for k in model if where[k] == empty}
        inc = _frame(spark, sorted(ups), f"s{step}_")
        share = B.FOLD_DELTA_SHARE
        B.FOLD_DELTA_SHARE = -1.0 if fold else share
        try:
            stats = partial_merge(spark, dest, inc, deleted_keys=_keys(spark, sorted(dels)))
        finally:
            B.FOLD_DELTA_SHARE = share
        model.update({k: f"s{step}_{k}" for k in ups})
        for k in dels:
            model.pop(k, None)
        m = read_manifest(spark, dest)
        history[m["gen"]] = dict(model)

        assert {r.id: r.v for r in read_bucketed(spark, dest).collect()} == model
        assert stats["rows"] == sum(m["rows"].values()) == len(model)
        for b in range(4):
            assert m["rows"].get(b, 0) == sum(1 for k in model if where[k] == b)
        probe = data.draw(st.sets(st.integers(0, 29), min_size=1, max_size=5))
        got = {r.id: r.v for r in read_buckets_for_keys(spark, dest, _keys(spark, sorted(probe))).collect()}
        assert got == {k: v for k, v in model.items() if k in probe}
        gen = data.draw(st.sampled_from(sorted(history)))
        assert {r.id: r.v for r in read_bucketed_at(spark, dest, gen).collect()} == history[gen]


def test_read_shard_resolves_pending_deltas(spark, tmp_path):
    dest = str(tmp_path / "sharded")
    base = _frame(spark, range(400), "base")
    write_bucketed(base, dest, KEYS, 16, n_shards=3)
    inc, dels = _frame(spark, list(range(0, 400, 7)) + [900, 901], "new"), _keys(spark, range(1, 400, 11))
    partial_merge(spark, dest, inc, deleted_keys=dels)
    assert read_manifest(spark, dest)["deltas"]  # the shards have pending deltas

    want = delete_sync(merge_upsert(base, inc, KEYS), dels, KEYS)
    owner = shard_map(spark, dest)
    where = want.withColumn("b", bucket_id(KEYS, 16))
    for s in range(3):
        mine = [b for b, o in owner.items() if o == s]
        expected = _rows(where.filter(F.col("b").isin(mine)).drop("b"))
        got = read_shard(spark, dest, s)
        assert got.columns == ["v", "id"]
        assert _rows(got) == expected, s


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_read_past_broadcast_bound_shuffles_and_matches(spark, tmp_path, monkeypatch):
    """Above ``BROADCAST_DELTA_ROWS`` pending rows a read does not force
    a broadcast of the delta keys; the base anti-joins them through a
    shuffle and every reader returns the same rows."""
    dest = str(tmp_path / "dest")
    write_bucketed(_frame(spark, range(120), "base"), dest, KEYS, 4)
    _merge(spark, dest, 0)
    want = _oracle(spark, 1)[1]
    probe = _keys(spark, [0, 1, 5, 200, 999])
    probed = [r for r in want if r[0] in (0, 1, 5, 200, 999)]
    assert read_manifest(spark, dest)["deltas"]
    assert "BroadcastHashJoin" in _executed_plan(read_bucketed(spark, dest))

    monkeypatch.setattr(B, "BROADCAST_DELTA_ROWS", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        full = read_bucketed(spark, dest)
        plan = _executed_plan(full)
        assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan, plan
        assert _rows(full) == want
        assert _rows(read_buckets_for_keys(spark, dest, probe)) == probed
        assert _rows(read_bucketed_at(spark, dest, 2)) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_sparse_destination_keeps_delta_only_buckets(spark, tmp_path):
    """Buckets without a base (a sparse table, a bucket emptied by
    deletes) hold deltas only until a merge touches them again, which
    folds them. A merge that touches only buckets below the fold share
    writes only its delta, whatever other buckets lack."""
    dest = str(tmp_path / "dest")
    where = _bucket_of(spark, 200, 4)
    in_b = {b: [k for k in range(200) if where[k] == b] for b in range(4)}
    model = {k: f"base{k}" for k in in_b[0] + in_b[1]}
    write_bucketed(_frame(spark, sorted(model), "base"), dest, KEYS, 4)
    bases = read_manifest(spark, dest)["buckets"]
    assert sorted(bases) == [0, 1]

    def merge(ups, tag, dels=()):
        stats = partial_merge(spark, dest, _frame(spark, ups, tag), deleted_keys=_keys(spark, list(dels)))
        model.update({k: f"{tag}{k}" for k in ups})
        for k in dels:
            model.pop(k, None)
        m = read_manifest(spark, dest)
        assert {r.id: r.v for r in read_bucketed(spark, dest).collect()} == model
        assert stats["rows"] == sum(m["rows"].values()) == len(model)
        probe = [in_b[b][0] for b in range(4)]
        got = {r.id: r.v for r in read_buckets_for_keys(spark, dest, _keys(spark, probe)).collect()}
        assert got == {k: v for k, v in model.items() if k in probe}
        return stats, m

    stats, m = merge(in_b[0][:2], "a")  # bucket 0 only, under the share
    assert stats["rows_written"] == 2 and m["buckets"] == bases
    stats, m = merge(in_b[2][:5], "b")  # bucket 2: deltas, no base
    assert stats["rows_written"] == 5 and 2 not in m["buckets"] and m["rows"][2] == 5
    assert {r.id for r in read_bucketed_at(spark, dest, m["gen"]).collect()} == set(model)
    stats, m = merge(in_b[2][5:7], "c")  # touched again: folds
    assert m["buckets"][2] == f"bucket_2_v{m['gen']}" and 2 not in m["deltas"]
    assert stats["rows_written"] == 2 + 7 and m["buckets"][0] == bases[0]
    stats, m = merge([], "d", dels=in_b[1])  # bucket 1 emptied: dropped
    assert 1 not in m["buckets"] and 1 not in m["deltas"] and 1 not in m["rows"]
    stats, m = merge(in_b[1][:1], "e")  # back as deltas only
    assert 1 not in m["buckets"] and m["rows"][1] == 1


def _job_descriptions(spark, group: str) -> list[str]:
    """Descriptions of the jobs of ``group``, from the status store."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            out.append(job.description().get() if job.description().isDefined() else None)
    return out


def test_sync_phases_describe_their_jobs(spark, tmp_path):
    from fastetl_spark.api import Engine

    dest, src = str(tmp_path / "dest"), str(tmp_path / "src")
    base = spark.range(400).select("id", F.col("id").cast("string").alias("v"), F.lit(1).cast("long").alias("ts"))
    write_bucketed(base, dest, KEYS, 8)
    # rewrite all of bucket 0 as a delta: its next merge folds it
    partial_merge(spark, dest, base.filter(bucket_id(KEYS, 8) == 0).withColumn("v", F.lit("x")))
    assert 0 in read_manifest(spark, dest)["deltas"]
    base.filter(F.col("id") % 5 == 0).withColumn("ts", F.lit(2).cast("long")).write.parquet(src)
    eng = Engine(spark, watermark_store_path=str(tmp_path / "wm"))
    eng.watermark_store.set(dest, 1)

    sc = spark.sparkContext
    sc.setJobGroup("phases", "caller's description")
    try:
        n = eng.sync({"path": src}, {"path": dest}, KEYS, "ts", deleted_keys=_keys(spark, [1]))
        assert sc.getLocalProperty("spark.job.description") == "caller's description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n == 399
    assert 0 not in read_manifest(spark, dest)["deltas"]  # folded
    got = set(_job_descriptions(spark, "phases"))
    phases = {"watermark", "delta_write", "count", "fold"}
    assert {f"fastetl:sync:{p}" for p in phases} <= got, got
