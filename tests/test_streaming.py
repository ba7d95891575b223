"""Streaming operators: batch-equivalence via trigger(availableNow).

The events fixture is re-landed as multiple parquet files in a tmp dir
(simulating stream arrival); each streaming aggregate must equal its
batch twin over the same data.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fastetl_spark.io.bucketed import read_bucket_spec, read_bucketed, read_manifest
from fastetl_spark.io.readers import read_table
from fastetl_spark.streaming.stream_ops import (
    dedup_stream,
    foreach_batch_merge,
    read_events_stream,
    sessionized_counts,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    path = tmp_path_factory.mktemp("stream") / "events"
    read_table(spark, sf_dir, "events").repartition(4).write.parquet(str(path))
    return str(path)


def run_to_memory(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_counts_match_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    got = run_to_memory(spark, windowed_event_counts(stream), "win_counts")
    batch = spark.read.parquet(events_dir)
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    g = {(r.window_start, r.event_type): r.n_events for r in got.collect()}
    e = {(r.window_start, r.event_type): r.n_events for r in expected.collect()}
    assert g == e


def test_sessionized_counts_match_batch_totals(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = run_to_memory(spark, sessionized_counts(stream), "sess_counts")
    total_events = got.agg(F.sum("n_events")).first()[0]
    assert total_events == spark.read.parquet(events_dir).count()
    # session windows never overlap per user
    rows = got.orderBy("user_id", "session_start").collect()
    by_user: dict = {}
    for r in rows:
        if r.user_id in by_user:
            assert r.session_start >= by_user[r.user_id]
        by_user[r.user_id] = r.session_end


def test_dedup_stream(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    deduped = dedup_stream(stream, ["user_id", "event_type"])
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    batch_distinct = (
        spark.read.parquet(events_dir).select("user_id", "event_type").distinct().count()
    )
    assert out.count() == batch_distinct
    assert out.select("user_id", "event_type").distinct().count() == batch_distinct


def test_dedup_then_windowed_counts_share_one_watermark(spark, tmp_path):
    """``dedup_stream`` declares the watermark and ``windowed_event_counts``
    reuses it (``watermark=None``): a second ``withWatermark`` on one
    stream is rejected by Spark 4.1. One file per micro-batch, append
    mode. By hand: event 1 repeats within batch 0 and event 2 across
    batches 0-1, so window 00:00 holds events 1 and 2 of type a and
    window 01:00 events 3 (b) and 4 (a). Batch 2 (05:00) moves the
    watermark to 03:00, past both windows, so they are emitted. Event 6
    (00:30) lands after that and is dropped as late; the 05:00 window
    stays open."""
    t0 = dt.datetime(2024, 1, 1)
    files = [
        [(1, 5, "a"), (2, 10, "a"), (1, 5, "a")],
        [(3, 70, "b"), (2, 10, "a"), (4, 65, "a")],
        [(5, 300, "c")],
        [(7, 301, "c")],
        [(6, 30, "a"), (1, 5, "a")],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for k, rows in enumerate(files):
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [t0 + dt.timedelta(minutes=r[1]) for r in rows], pa.timestamp("us", "UTC")
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array([r[2] for r in rows]),
                "value": pa.array([float(r[0]) for r in rows]),
                "props": pa.array([""] * len(rows)),
            }
        )
        path = str(src / f"f{k}.parquet")
        pq.write_table(table, path)
        os.utime(path, (1_000_000_000 + k,) * 2)  # file order = batch order

    stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
    counts = windowed_event_counts(dedup_stream(stream, ["event_id"]), watermark=None)
    q = (
        counts.writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(str(tmp_path / "out"))
    )
    q.awaitTermination(180)
    assert q.exception() is None
    got = sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert got == [
        (t0, "a", 2, 3.0),
        (t0 + dt.timedelta(hours=1), "a", 1, 4.0),
        (t0 + dt.timedelta(hours=1), "b", 1, 3.0),
    ]


def test_foreach_batch_merge_upserts(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    q = foreach_batch_merge(
        stream,
        dest_path=str(tmp_path / "dest"),
        keys=["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert read_bucket_spec(spark, str(tmp_path / "dest"))["n_buckets"] == 1
    dest = read_bucketed(spark, str(tmp_path / "dest"))
    src = spark.read.parquet(events_dir)
    assert dest.count() == src.count()  # every key exactly once
    assert dest.select("event_id").distinct().count() == src.count()


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    from fastetl_spark.streaming.stream_ops import stream_stream_purchase_attribution

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    joined = stream_stream_purchase_attribution(stream)
    q = (
        joined.writeStream.format("memory")
        .queryName("attribution")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT purchase_id, click_id FROM attribution")
    batch = spark.read.parquet(events_dir)
    clicks = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = batch.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    expected = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user)
        & (clicks.click_ts <= purchases.purchase_ts)
        & (clicks.click_ts >= purchases.purchase_ts - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "click_id")
    g = {(r.purchase_id, r.click_id) for r in got.collect()}
    e = {(r.purchase_id, r.click_id) for r in expected.collect()}
    assert g == e and len(g) > 0


def test_foreach_batch_agg_maintain_matches_batch(spark, events_dir, tmp_path):
    from fastetl_spark.streaming.stream_ops import foreach_batch_agg_maintain

    dest = str(tmp_path / "agg_dest")
    ckpt = str(tmp_path / "agg_ckpt")
    # force several micro-batches so the merge path (not just the
    # first-batch bootstrap) is exercised
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    q = foreach_batch_agg_maintain(stream, dest, ckpt)
    q.awaitTermination(180)

    got = {
        r["hour"]: (r["n_orders"], r["total"])
        for r in spark.read.parquet(dest).collect()
    }
    expected = {
        r["hour"]: (r["n_orders"], r["total"])
        for r in spark.read.parquet(events_dir)
        .select(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("value").cast("decimal(18,6)").alias("__v"),
        )
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("__v").alias("total"))
        .collect()
    }
    assert got == expected


def test_foreach_batch_quarantine_splits_stream(spark, events_dir, tmp_path):
    from fastetl_spark.streaming.stream_ops import foreach_batch_quarantine

    rules = [
        ("value_pos", F.col("value") > 0),
        ("type_known", F.col("event_type").isin("click", "view", "purchase")),
    ]
    valid_p, reject_p = str(tmp_path / "valid"), str(tmp_path / "rej")
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    q = foreach_batch_quarantine(stream, rules, valid_p, reject_p, str(tmp_path / "ck"))
    q.awaitTermination(180)

    src = spark.read.parquet(events_dir)
    valid, rejects = spark.read.parquet(valid_p), spark.read.parquet(reject_p)
    assert valid.count() + rejects.count() == src.count()
    n_bad_type = src.filter(
        ~F.col("event_type").isin("click", "view", "purchase")
    ).count()
    assert rejects.filter(F.array_contains("failed_rules", "type_known")).count() == n_bad_type
    assert "failed_rules" not in valid.columns


def test_merge_batch_redelivery_is_skipped(spark, tmp_path):
    """Structured Streaming replays the last micro-batch after a restart
    that crashed between sink write and checkpoint commit. A replayed
    (batch_id, data) must be a no-op: the commit marker written after
    the first merge short-circuits the redelivery."""
    import os

    from fastetl_spark.streaming.stream_ops import make_merge_batch

    dest = str(tmp_path / "dest")
    merge = make_merge_batch(dest, keys=["id"])

    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    merge(b0, 0)
    assert sorted(r.v for r in read_bucketed(spark, dest).collect()) == ["a", "b"]

    # redelivery of batch 0 with DIFFERENT payload (worst case): must be
    # ignored — the first commit won
    b0_replay = spark.createDataFrame([(1, "X"), (2, "Y")], "id long, v string")
    merge(b0_replay, 0)
    assert sorted(r.v for r in read_bucketed(spark, dest).collect()) == ["a", "b"]

    # the next batch id applies normally
    merge(spark.createDataFrame([(2, "b2"), (3, "c")], "id long, v string"), 1)
    got = {r.id: r.v for r in read_bucketed(spark, dest).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    assert os.path.isdir(dest + ".__commits__")


def test_merge_batch_first_batch_creates_bucketed_root(spark, tmp_path):
    """Without ``n_buckets`` the first batch still writes a bucketed
    root (one bucket, bases only); the next batch lands as a delta; an
    existing root that is not bucketed is rejected before any write."""
    from fastetl_spark.streaming.stream_ops import make_merge_batch

    dest = str(tmp_path / "dest")
    merge = make_merge_batch(dest, keys=["id"])
    merge(spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], "id long, v string"), 0)
    spec = read_bucket_spec(spark, dest)
    assert (spec["version"], spec["keys"], spec["n_buckets"]) == (2, ["id"], 1)
    assert "deltas" not in read_manifest(spark, dest)
    merge(spark.createDataFrame([(2, "b2"), (3, "c")], "id long, v string"), 1)
    assert read_manifest(spark, dest)["deltas"]
    got = {r.id: r.v for r in read_bucketed(spark, dest).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}

    plain = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(plain)
    with pytest.raises(ValueError, match="bucketize"):
        make_merge_batch(plain, keys=["id"])(spark.createDataFrame([(2, "b")], "id long, v string"), 0)
    assert not os.path.exists(plain + ".__commits__")


def test_cdc_batch_applies_ops_and_skips_redelivery(spark, tmp_path):
    """make_cdc_batch: one partial_merge per batch applies upserts AND
    deletes; a redelivered batch_id (even with different payload) is a
    no-op; an uninitialized destination is rejected loudly."""
    import pytest

    from fastetl_spark.io.bucketed import read_bucketed, write_bucketed
    from fastetl_spark.streaming.stream_ops import make_cdc_batch

    dest = str(tmp_path / "d")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(10)], "id long, v long"
    )
    apply_batch = make_cdc_batch(dest, keys=["id"])

    feed0 = spark.createDataFrame(
        [(1, 111, "U"), (2, None, "D"), (99, 990, "U")],
        "id long, v long, op string",
    )
    with pytest.raises(ValueError, match="not an initialized"):
        apply_batch(feed0, 0)  # must not invent a destination from a feed

    write_bucketed(base, dest, ["id"], 4)
    apply_batch(feed0, 0)
    state = {r.id: r.v for r in read_bucketed(spark, dest).collect()}
    assert state[1] == 111 and 2 not in state and state[99] == 990
    assert state[3] == 30  # untouched

    # redelivery of batch 0 with a DIFFERENT payload: skipped entirely
    poison = spark.createDataFrame(
        [(3, -1, "U"), (4, None, "D")], "id long, v long, op string"
    )
    apply_batch(poison, 0)
    state2 = {r.id: r.v for r in read_bucketed(spark, dest).collect()}
    assert state2 == state


def test_ivm_view_batch_redelivery_noop(spark, tmp_path):
    from fastetl_spark.streaming.stream_ops import make_view_delta_batch

    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, seg string")
    dest = str(tmp_path / "view")
    spark.createDataFrame([(10, 1)], "oid long, k long").join(
        dim, "k"
    ).write.parquet(dest)
    batch = spark.createDataFrame([(11, 2), (12, 1)], "oid long, k long")
    apply_batch = make_view_delta_batch(dest, dim, "k")
    apply_batch(batch, 7)
    once = sorted(map(tuple, spark.read.parquet(dest).collect()))
    apply_batch(batch, 7)  # redelivered micro-batch must be a no-op
    twice = sorted(map(tuple, spark.read.parquet(dest).collect()))
    assert once == twice
    assert len(once) == 3  # base row + two delta rows


def test_posting_batch_redelivery_noop(spark, tmp_path):
    """A redelivered document batch must not double-append its posting
    rows, and the maintained index must equal a from-scratch build."""
    from pyspark.sql import functions as F

    from fastetl_spark.operators.retrieval import doc_posting
    from fastetl_spark.streaming.stream_ops import make_posting_batch

    dest = str(tmp_path / "posting_dest")
    docs1 = spark.createDataFrame(
        [(1, "a b a"), (2, "b c")], ["doc_id", "text"]
    )
    docs2 = spark.createDataFrame([(3, "a c c c")], ["doc_id", "text"])
    batch = make_posting_batch(dest)
    batch(docs1, 0)
    batch(docs1, 0)  # redelivery: must be a no-op
    batch(docs2, 1)
    got = sorted(map(tuple, spark.read.parquet(dest).drop("__batch").collect()))
    want = sorted(
        map(tuple, doc_posting(docs1.unionByName(docs2)).collect())
    )
    assert got == want
    # crash-window redelivery: marker missing but partition written —
    # re-running the batch must converge, not double-append
    import os
    import shutil

    shutil.rmtree(dest + ".__commits__", ignore_errors=True)
    batch(docs1, 0)
    again = sorted(map(tuple, spark.read.parquet(dest).drop("__batch").collect()))
    assert again == want


def test_batch_partition_sink_redelivery_noop(spark, tmp_path):
    """make_batch_partition_sink (the 18th gate's update-mode sink):
    a redelivered batch_id — even with a DIFFERENT payload, the worst
    case — must not disturb the already-committed partition, and
    distinct batches land in their own partitions."""
    from fastetl_spark.streaming.stream_ops import make_batch_partition_sink

    dest = str(tmp_path / "late_dest")
    sink = make_batch_partition_sink(dest)
    b0 = spark.createDataFrame([("a", 1)], "k string, n long")
    sink(b0, 0)
    sink(spark.createDataFrame([("a", 99)], "k string, n long"), 0)
    sink(spark.createDataFrame([("b", 2)], "k string, n long"), 1)
    got = sorted(
        map(tuple, spark.read.option("basePath", dest).parquet(dest)
            .select("k", "n").collect())
    )
    assert got == [("a", 1), ("b", 2)]


@pytest.mark.slow  # full gate only: lag/boundary also pinned by the oracle gates (streaming_late_data_windows, streaming_tumbling_counts) and the invariant-property test above
def test_watermark_two_stage_lag_and_boundary(spark, tmp_path):
    """Pin the Spark lateness semantics the 18th gate's oracle encodes
    (measured on this engine build; if an upgrade changes them, THIS
    test names the contract that broke): the late-row filter of batch
    k uses the eviction watermark of batch k-1 (= max event time over
    batches <= k-2 minus delay), and a row is dropped iff its window
    END <= that value — a window ending exactly AT the watermark is
    dropped. The base sits ON the window grid (multiple of the window
    size) so the equality case is genuinely exercised: Spark windows
    align to the epoch, and an off-grid base silently shifts every
    window end off the boundary (a first version of this test made
    exactly that mistake and measured nothing at the boundary)."""
    import glob as _glob
    import os
    import shutil

    root = str(tmp_path / "wm")
    in_dir = f"{root}/in"
    os.makedirs(in_dir)
    base = 1704070000  # multiple of the 10000s window: ends hit the grid
    # delay 40000s; slice0 max = 100000 -> late watermark for batch 2
    # onward = 60000. batch1 carries an already-late row (end 50000 <=
    # 60000) that must STILL be admitted (filter lags one batch);
    # batch2 re-sends that window (drop), a true boundary window with
    # end == 60000 (DROPPED) and a clearly-fresh row (admit).
    slices = [
        [(0, 100000)],
        [(1, 45000)],
        [(2, 45001), (3, 55000), (4, 61000)],
    ]
    for i, rows in enumerate(slices):
        df = spark.createDataFrame(rows, "k long, sec long").select(
            "k", F.timestamp_seconds(F.col("sec") + base).alias("ts")
        )
        stage = f"{root}/s{i}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(
            _glob.glob(f"{stage}/part-*.parquet")[0],
            f"{in_dir}/slice_{i}.parquet",
        )
    stream = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    agg = (
        stream.withWatermark("ts", "40000 seconds")
        .groupBy(F.window("ts", "10000 seconds"), "k")
        .count()
    )
    seen: list[tuple[int, int]] = []

    def fb(bdf, bid):
        seen.extend((int(bid), int(r["k"])) for r in bdf.collect())

    q = (
        agg.writeStream.foreachBatch(fb)
        .outputMode("update")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    accepted = {k for _, k in seen}
    assert 1 in accepted  # late but filter lags one batch
    assert 2 not in accepted  # same window, one batch later: dropped
    assert 3 not in accepted  # window_end == watermark: DROPPED
    assert 4 in accepted
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 2


@pytest.mark.slow  # full gate only: the same filter==eviction complement is exercised by test_dedup_filter_eviction_invariant_property (default profile) and the streaming_late_dedup oracle gate
def test_dedup_watermark_eviction_filter_complement(spark, tmp_path):
    """Pin the dropDuplicates lateness contract the 21st gate's oracle
    encodes (measured on this engine build): the late-row filter of
    batch k drops event times <= max(batches <= k-2) - delay, and
    end-of-batch-j state eviction removes times <= max(batches <= j-1)
    - delay.  filter(k) == eviction(end k-1), both inclusive, so a
    redelivered duplicate either passes the filter into still-live
    state (suppressed) or is dropped by the filter — the silent
    double-count is impossible.  The boundary sits EXACTLY on the
    watermark (t == wm): dropped by the filter AND evicted from state,
    the equality case where a one-sided convention would double-emit."""
    import glob as _glob
    import os
    import shutil

    root = str(tmp_path / "ddwm")
    in_dir = f"{root}/in"
    os.makedirs(in_dir)
    # delay 10s.  slice0 max=20 -> wm line = 10; E sits ON the line.
    # slice1 advances max to 21.  slice2: dup E@10 (== line: filter
    # MUST drop it; a double-emit here is the contract break), dup
    # A@20 (> line: state alive, suppressed), first-seen G@10 (== line,
    # dropped) and fresh H@30 (admitted).
    slices = [
        [("E", 10), ("A", 20)],
        [("F", 21)],
        [("E", 10), ("A", 20), ("G", 10), ("H", 30)],
    ]
    for i, rows in enumerate(slices):
        df = spark.createDataFrame(rows, "k string, sec long").select(
            "k", F.timestamp_seconds(F.col("sec") + 1704070000).alias("ts")
        )
        stage = f"{root}/s{i}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(
            _glob.glob(f"{stage}/part-*.parquet")[0],
            f"{in_dir}/slice_{i}.parquet",
        )
    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    dd = stream.withWatermark("ts", "10 seconds").dropDuplicates(["k", "ts"])
    seen: list[tuple[int, str]] = []

    def fb(bdf, bid):
        seen.extend((int(bid), str(r["k"])) for r in bdf.collect())

    q = (
        dd.writeStream.foreachBatch(fb)
        .outputMode("append")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from collections import Counter

    emits = Counter(k for _, k in seen)
    assert emits["E"] == 1  # boundary dup filtered, NOT double-emitted
    assert emits["A"] == 1  # in-state dup suppressed
    assert emits["G"] == 0  # first-seen at the boundary: dropped
    assert emits["H"] == 1
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 2  # E@10 and G@10, both on the line


def _stage_session_slices(spark, root, rows):
    """rows: list of (key:int, dt, batch:int). Lands 3 slice files."""
    import glob as _glob
    import os
    import shutil

    in_dir = f"{root}/in"
    os.makedirs(in_dir)
    df = spark.createDataFrame(rows, "user_id long, tss timestamp, b int")
    for i in range(3):
        stage = f"{root}/s{i}"
        df.filter(F.col("b") == i).drop("b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        shutil.copy(
            _glob.glob(f"{stage}/part-*.parquet")[0],
            f"{in_dir}/slice_{i}.parquet",
        )
    return in_dir, "user_id long, tss timestamp"


def _run_session_append(spark, in_dir, schema, gap="30 minutes",
                        delay="2 hours"):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    agg = (
        stream.withWatermark("tss", delay)
        .groupBy(F.session_window("tss", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s"),
                F.col("w.end").alias("e"), "n")
    )
    import uuid

    name = "sess_sem_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        (r["user_id"], r["s"].strftime("%H:%M")): (
            r["e"].strftime("%H:%M"),
            r["n"],
        )
        for r in spark.table(name).collect()
    }


def test_session_window_exact_gap_edge_merges(spark):
    """session_window merges windows that TOUCH: an event at exactly
    last + gap joins the session (the r12 boundary finding — the
    streaming_session_counts oracle's is_new must use >, not >=)."""
    import datetime as dt

    T = lambda h, m: dt.datetime(2024, 3, 1, h, m, 0)
    df = spark.createDataFrame(
        [(1, T(10, 0)), (1, T(10, 30)), (1, T(11, 0)),  # chain of touches
         (2, T(10, 0)), (2, T(10, 30, ))],
        "user_id long, tss timestamp",
    )
    got = (
        df.groupBy(F.session_window("tss", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "w.start", "n")
        .collect()
    )
    by_user = {(r["user_id"], r["start"].strftime("%H:%M")): r["n"] for r in got}
    assert by_user == {(1, "10:00"): 3, (2, "10:00"): 2}


def test_session_late_merge_semantics(spark, tmp_path):
    """Pin the session_window lateness contract the 22nd gate's oracle
    encodes (measured on this engine build): the late filter of batch
    k drops a row iff its initial window end (t + gap) <=
    max(batches <= k-2) - delay (inclusive); accepted late rows MERGE
    with live state — extending a session's start backward, bridging
    two sessions into one, and chaining through the touch-merge edge
    (a late row exactly at a session's end joins it)."""
    import datetime as dt

    T = lambda h, m: dt.datetime(2024, 3, 1, h, m, 0)
    rows = [
        # batch 0: user1 two sessions [10:00,10:35) {10:00,10:05} and
        # [10:55,11:30); user2 sessions [10:00,10:30) and [10:52,11:22);
        # max(batch 0) = 11:30 -> filter line for batch 2 = 09:30
        (1, T(10, 0), 0), (1, T(10, 5), 0), (1, T(10, 55), 0), (1, T(11, 0), 0),
        (2, T(10, 0), 0), (2, T(10, 52), 0),
        (98, T(11, 30), 0),
        # batch 1: newest row -> closing eviction = 23:00 - 2h = 21:00
        (99, T(23, 0), 1),
        # batch 2 (late):
        (1, T(10, 26), 2),  # bridges user1's sessions -> one [10:00,11:30)
        (2, T(10, 30), 2),  # exactly at user2 session-1 end: touch-merge
                            # AND end 11:00 > 10:52 chains into session 2
        (3, T(9, 1), 2),    # end 09:31 > 09:30: ACCEPTED
        (3, T(9, 0), 2),    # end 09:30 == line: DROPPED (inclusive)
        (4, T(8, 0), 2),    # far too old: dropped
    ]
    in_dir, schema = _stage_session_slices(spark, str(tmp_path / "sml"), rows)
    got = _run_session_append(spark, in_dir, schema)
    assert got == {
        (1, "10:00"): ("11:30", 5),   # late bridge merged everything
        (2, "10:00"): ("11:22", 3),   # touch-merge chained both sessions
        (3, "09:01"): ("09:31", 1),   # the 09:00 twin fell to the filter
        (98, "11:30"): ("12:00", 1),
        # user99 (end 23:30 > eviction 21:00) stays in state
    }


@pytest.mark.slow  # full gate only: session emission semantics covered by test_session_late_merge_semantics (default profile) and the streaming_session_merge_late oracle gate
def test_session_append_final_batch_emission(spark, tmp_path):
    """availableNow runs a FINAL NO-DATA batch: the closing eviction
    watermark is max(ALL batches) - delay (not max(batches <= last-1)),
    and a session whose end sits EXACTLY on it is emitted (boundary
    inclusive) — both pins the 22nd gate's oracle relies on."""
    import datetime as dt

    T = lambda h, m: dt.datetime(2024, 3, 1, h, m, 0)
    rows = [
        (1, T(10, 0), 0),    # end 10:30
        (99, T(11, 0), 1),   # if eviction stopped at max(batches<=1)-2h
                             # = 09:00, NOTHING would emit
        (2, T(11, 0), 2),    # end 11:30 == closing line: emitted
        (98, T(13, 30), 2),  # newest: closing line = 13:30 - 2h = 11:30
    ]
    in_dir, schema = _stage_session_slices(spark, str(tmp_path / "snb"), rows)
    got = _run_session_append(spark, in_dir, schema)
    assert got == {
        (1, "10:00"): ("10:30", 1),
        (2, "11:00"): ("11:30", 1),   # exactly on the line: emitted
        (99, "11:00"): ("11:30", 1),
        # user98 (end 14:00 > 11:30) stays in state
    }


def _replay_dedup_lateness(slices, delay):
    """Pure-python replay of the pinned dropDuplicates lateness rule:
    filter(batch k) drops event seconds <= max(batches <= k-2) - delay
    (inclusive); an accepted duplicate's original state is still alive
    by the complement invariant, so a key emits at most once — on its
    first ACCEPTED arrival.  Returns (emitted per key, dropped count)."""
    from collections import Counter

    prefix_max: list[int] = []
    emitted: Counter = Counter()
    seen: set = set()
    dropped = 0
    for k, rows in enumerate(slices):
        fw = (
            max(prefix_max[: k - 1]) - delay
            if k >= 2 and prefix_max[: k - 1]
            else None
        )
        for key, sec in rows:
            if fw is not None and sec <= fw:
                dropped += 1
                continue
            if (key, sec) not in seen:
                seen.add((key, sec))
                emitted[key] += 1
        prefix_max.append(
            max([s for _, s in rows], default=prefix_max[-1] if prefix_max else 0)
        )
    return emitted, dropped


@pytest.mark.parametrize(
    "delay",
    [
        # delay=10 runs in the default (driver VERIFY) profile for both
        # layouts; the 5/20 delay sweeps re-test the same invariant at
        # shifted boundaries and run in the full release gate only.
        pytest.param(5, marks=pytest.mark.slow),
        10,
        pytest.param(20, marks=pytest.mark.slow),
    ],
)
@pytest.mark.parametrize("layout", ["advancing", "stalled"])
def test_dedup_filter_eviction_invariant_property(spark, tmp_path, delay,
                                                  layout):
    """r11 VERDICT ask #6: the 21st gate leans on the empirically
    pinned filter/eviction complement — sweep DELAY values and batch
    maxima patterns so a Spark version bump that shifts either
    boundary fails here, not as a gate-hash mystery.  Every layout
    plants rows ON the moving watermark line (scaled by the delay) and
    redelivers duplicates after 0, 1 and 2 watermark advances; the
    expectation comes from the generic replay, not hand-coded cases."""
    import glob as _glob
    import os
    import shutil
    from collections import Counter

    D = delay
    if layout == "advancing":
        # maxima strictly advance: 2D, 3D, 4D
        slices = [
            [("A", D), ("B", 2 * D)],
            [("C", 3 * D), ("A", D)],              # dup after 0 advances
            [("A", D), ("B", 2 * D), ("X", D),     # line = 2D - D = D
             ("Y", D + 1), ("Z", 4 * D)],
        ]
    else:
        # the late batch does NOT advance the max; dup after 2 advances
        slices = [
            [("A", 3 * D)],
            [("B", 3 * D + 1)],
            [("A", 3 * D), ("C", 2 * D), ("E", 2 * D + 1)],  # line = 2D
        ]
    root = str(tmp_path / f"prop_{layout}_{delay}")
    in_dir = f"{root}/in"
    os.makedirs(in_dir)
    base = 1704070000
    for i, rows in enumerate(slices):
        df = spark.createDataFrame(rows, "k string, sec long").select(
            "k", F.timestamp_seconds(F.col("sec") + base).alias("ts")
        )
        stage = f"{root}/s{i}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(
            _glob.glob(f"{stage}/part-*.parquet")[0],
            f"{in_dir}/slice_{i}.parquet",
        )
    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    dd = stream.withWatermark("ts", f"{D} seconds").dropDuplicates(["k", "ts"])
    got: Counter = Counter()

    def fb(bdf, bid):
        for r in bdf.collect():
            got[str(r["k"])] += 1

    q = (
        dd.writeStream.foreachBatch(fb)
        .outputMode("append")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    want, want_dropped = _replay_dedup_lateness(slices, D)
    assert got == want, (layout, D, dict(got), dict(want))
    assert max(got.values(), default=0) <= 1  # the invariant itself
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == want_dropped, (layout, D, dropped, want_dropped)


def test_session_merge_fixture_carries_mass_at_small_sf(spark):
    """r12 VERDICT ask #6: the 22nd gate's merge path must provably
    carry mass in the GRADED runs, not just at sf0.1.  The gated query
    asserts this itself (RuntimeError on zero); this test pins the
    batch replay count > 0 at both small SFs — under the corpus-size-
    adaptive gap (6 h below _SML_SMALL_N events, else 30 min)."""
    import os

    from fastetl_spark.streaming.stream_ops import (
        _LATE_CUT_LO,
        _LATE_CUT_TAIL,
        _SML_CARVE_HI,
        _SML_CARVE_LO,
        _SML_CUT_MID,
        _SML_GAP_MIN,
        _SML_GAP_MIN_SMALL,
        _SML_SHARD_MOD,
        _SML_SMALL_N,
        _session_merge_mass,
    )

    for sf in ("0.001", "0.01"):
        sf_dir = f"/root/testdata/sf{sf}"
        if not os.path.isdir(sf_dir):
            pytest.skip(f"{sf_dir} not present")
        ev = read_table(spark, sf_dir, "events").select(
            (F.col("user_id") % _SML_SHARD_MOD).alias("shard"),
            F.date_trunc("second", F.col("ts").cast("timestamp")).alias("tss"),
        )
        n = ev.count()
        gap_min = _SML_GAP_MIN_SMALL if n < _SML_SMALL_N else _SML_GAP_MIN
        slice_no = (
            F.when(
                (F.col("tss") < F.lit(_LATE_CUT_LO).cast("timestamp"))
                | (F.col("tss") >= F.lit(_LATE_CUT_TAIL).cast("timestamp"))
                | (
                    (F.col("tss") >= F.lit(_SML_CARVE_LO).cast("timestamp"))
                    & (F.col("tss") < F.lit(_SML_CARVE_HI).cast("timestamp"))
                ),
                2,
            )
            .when(F.col("tss") < F.lit(_SML_CUT_MID).cast("timestamp"), 0)
            .otherwise(1)
        )
        assert _session_merge_mass(ev, slice_no, gap_min) > 0, sf


@pytest.mark.slow  # full gate only: the join gate's two-watermark rule is pinned by the streaming_join_attribution / streaming_join_late_attribution oracle gates (default profile)
def test_stream_join_filter_boundary_and_eviction_complement(spark, tmp_path):
    """Pins the 23rd gate's two-watermark rule with second-exact rows
    (delay 2 h, window 1 h, min-of-sides policy):

    * the input filter of batch k drops a row iff its event time is
      <= L_k = min-side max(batches <= k-2) - delay -- INCLUSIVE drop,
      same boundary as the aggs/dedup gates (p@L dropped, p@L+1s
      kept);
    * state eviction is exactly complementary: partners one second
      above the relevant lines (purchase > L, click > L - W) still
      match arrivals two batches later -- eviction never removes a
      match the filter admits, which is what makes the append-mode
      inner join exact;
    * rows at/below the lines yield no pair through EITHER mechanism
      (the interval condition squeezes would-be pairs out), asserted
      by their absence.
    """
    import glob as _glob
    import os
    import shutil

    from pyspark.sql import functions as _F

    def t(s):
        return f"2024-01-01 {s}"

    # (side, uid, ts, rid) per slice; all uids distinct per case
    slices = [
        [  # batch 0 -- max = 18:01 BOTH sides (c119 / p107)
            ("c", 1, t("15:40:00"), 110),   # partner of the AT-line purchase
            ("c", 2, t("15:41:00"), 111),   # partner of the below-line purchase
            ("c", 5, t("15:42:00"), 114),   # partner of the above-line purchase
            ("c", 3, t("17:00:00"), 112),   # at L_3 - W
            ("c", 4, t("17:00:01"), 113),   # one second above L_3 - W
            ("p", 6, t("18:00:00"), 106),   # at L_3
            ("p", 7, t("18:01:00"), 107),   # above L_3
            ("c", 9, t("18:01:00"), 119),   # click-side max, unpaired
        ],
        [  # batch 1 -- advance both sides to 20:00
            ("c", 8, t("20:00:00"), 118),
            ("p", 8, t("20:00:00"), 108),
        ],
        [  # batch 2 -- L_2 = 18:01 - 2h = 16:01
            ("p", 1, t("16:01:00"), 100),   # exactly AT the line: dropped
            ("p", 2, t("16:00:00"), 101),   # below: dropped
            ("p", 5, t("16:01:01"), 104),   # one second above: kept
        ],
        [  # batch 3 -- L_3 = 20:00 - 2h = 18:00
            ("c", 6, t("18:00:00"), 116),   # at L_3: dropped by filter
            ("c", 7, t("18:00:30"), 117),   # kept; p107 must still be in state
            ("p", 3, t("18:00:00"), 102),   # at L_3: dropped by filter
            ("p", 4, t("18:00:01"), 103),   # kept; c113 must still be in state
        ],
    ]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir, exist_ok=True)
    for i, rows in enumerate(slices):
        df = spark.createDataFrame(
            rows, "side string, uid int, tss string, rid int"
        ).select("side", "uid", _F.col("tss").cast("timestamp").alias("tss"), "rid")
        stage = str(tmp_path / f"stage_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(
            _glob.glob(f"{stage}/part-*.parquet")[0],
            f"{in_dir}/slice_{i}.parquet",
        )
    stream = (
        spark.readStream.schema("side string, uid int, tss timestamp, rid int")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    clicks = (
        stream.filter("side = 'c'")
        .select(
            _F.col("uid").alias("c_uid"),
            _F.col("rid").alias("click_id"),
            _F.col("tss").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.filter("side = 'p'")
        .select(
            "uid",
            _F.col("rid").alias("purchase_id"),
            _F.col("tss").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        _F.expr(
            "uid = c_uid AND click_ts <= purchase_ts"
            " AND click_ts >= purchase_ts - INTERVAL 1 HOUR"
        ),
        "inner",
    ).select("purchase_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("sjl_complement")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = set(map(tuple, spark.table("sjl_complement").collect()))
    assert got == {
        (108, 118),  # in-order control
        (104, 114),  # purchase one second above the filter line: kept
        (107, 117),  # purchase above the line still in state at b3
        (103, 113),  # click one second above line - W still in state
        # absent: (100, 110) purchase exactly AT the line (inclusive drop)
        # absent: (101, 111) purchase below the line
        # absent: (106, 116) click at L_3: dropped by filter
        # absent: (102, 112) purchase at L_3: dropped by filter
    }
