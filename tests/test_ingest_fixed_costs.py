"""Fixed per-round cost of an ingest round: Spark jobs, the merge facts
and the bookkeeping the v2 manifest records, and the driver's own work:
code generation and py4j round trips.

A bucketed ``Engine.sync`` round is bound by fixed costs, not by its
data: every Spark job, Python-worker start, file created, generated
class compiled and py4j round trip costs the same at 10 rows as at 10k.
These tests pin the job ceilings of one round, of one index append
and match and of the ANN index appends and probes, the row counts, schema and watermark the manifest carries so
that the post-merge count and the next watermark need no job, the
compilations of a repeated round, the round trips of a round, of a GC
pass and of an index append and match, the jobs of a reshard, an
emptied root without a placeholder base, the bucket count's and the
band rows' plans and the index phases' job descriptions.
``make fixed-costs`` runs this file alone.
"""

from __future__ import annotations

import datetime as dt
import gc
import glob
import json
import os
import threading

import pyarrow.parquet as pq
import pytest
from py4j import protocol as proto
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from fastetl_spark.api import Engine
from fastetl_spark.io.bucketed import (
    MANIFEST_PREFIX,
    list_generations,
    manifest_watermark,
    partial_merge,
    read_bucketed,
    read_manifest,
    reshard_bucketed,
    rollback_bucketed,
    write_bucketed,
)
from fastetl_spark.io.readers import read_table
from fastetl_spark.meta.load_info import LOG_SCHEMA, LoadInfo
from fastetl_spark.operators.ann_index import (
    append_to_ivf_index,
    append_to_ivfpq_index,
    build_ivf_index,
    build_ivfpq_index,
    match_semantic_index,
    search_ivf_index,
    search_ivfpq_index,
)
from fastetl_spark.operators.dedup_index import (
    MAX_INCREMENT_MARKERS,
    _MARKER_PRUNE_BATCH,
    _band_rows,
    append_to_minhash_index,
    build_minhash_index,
    mark_increment_applied,
    match_minhash_index,
)
from fastetl_spark.operators.sync import WatermarkStore, _watermark_type

N_BUCKETS = 8

# Spark jobs of one bucketed sync round (the merge: its delta write and
# its count; the watermark and the load record ride the manifest, the
# source's schema comes from a footer), of one minhash index append
# (fingerprint, band-row write) and of one match plus its collect. They
# were 23 and 8 while the merge facts took actions of their own; the
# round was 13 while the watermark read inferred its schema and the
# merge materialised the increment and rewrote the touched buckets, 8
# while it read and wrote a watermark store and appended to the load
# log, and 5 while the source read ran Spark's schema inference. The
# append was 4 and the match 8 while the band rows were materialised,
# the probe keys were made distinct and the probe inferred the index
# schema.
SYNC_ROUND_JOBS = 4
INDEX_APPEND_JOBS = 3
INDEX_MATCH_JOBS = 5
# Spark jobs of the ANN index calls, each with its collect: an IVF
# append (fingerprint, cell write), an IVF search, a semantic match, an
# IVF-PQ append (fingerprint, codes write, vectors write) and an IVF-PQ
# search. They were 6, 7, 9, 8 and 15 while the appends materialised
# their rows and collected the touched cells, and the probes collected
# the probed cells and ran Spark's schema inference over the cell dirs.
IVF_APPEND_JOBS = 3
IVF_SEARCH_JOBS = 4
SEMANTIC_MATCH_JOBS = 6
IVFPQ_APPEND_JOBS = 4
IVFPQ_SEARCH_JOBS = 10
# Generated classes compiled by a second, identical round (sync plus
# index build, match and append; ~84 in the first): 6 with a codegen
# cache that holds a round's classes, 18-43 with Spark's default 100
# entries. The 6 are plans with a per-round literal inlined in the code.
REPEAT_ROUND_COMPILES = 12
# py4j round trips of one minhash index append and of one match plus
# its collect: 520-710 each. They were 4.4-5.6k each while the minhash
# expressions were built one Column call at a time, with call-site
# capture on.
INDEX_APPEND_ROUND_TRIPS = 1000
INDEX_MATCH_ROUND_TRIPS = 1000
# py4j round trips of one sync round into a 17-column, 8-bucket root
# that holds three pending delta generations: ~450. They were ~520
# while the GC and the manifest listing read each name with calls of
# its own, and ~1.3k while the delta frame cast one Column per column,
# the pending-delta filter and the bucket counts were Column calls, the
# manifest listing walked every file of the root and each JVM class was
# looked up one package name at a time.
SYNC_ROUND_ROUND_TRIPS = 650
# Spark jobs of a reshard of 32 buckets from 3 to 5 shards (15 buckets
# move): the moved buckets are one write. It was 15 while each moved
# bucket was a write of its own.
RESHARD_JOBS = 2
# py4j round trips of one GC pass over a 16-bucket root with three
# generations to drop (dead bases, delta dirs and manifests): ~85. It
# was ~340 while every dir listed cost its own isDirectory, getPath and
# getName calls.
GC_ROUND_TRIPS = 120


def _table(spark, lo: int, hi: int, ts: int):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        F.lit(ts).cast("long").alias("ts"),
    )


def _manifest_rows(spark, path: str) -> int:
    return sum(read_manifest(spark, path)["rows"].values())


class _Jobs:
    """Counts the Spark jobs run inside the block, by job group."""

    def __init__(self, spark, group: str):
        self.sc, self.group = spark.sparkContext, group

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.n = len(self.sc.statusTracker().getJobIdsForGroup(self.group))


_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
_OBJECT_ANSWERS = tuple(
    proto.SUCCESS + t
    for t in (proto.REFERENCE_TYPE, proto.LIST_TYPE, proto.SET_TYPE, proto.MAP_TYPE, proto.ARRAY_TYPE, proto.ITERATOR_TYPE)
)


class _RoundTrips:
    """Counts the py4j commands the block's thread sends inside the
    block: every call, and the release of every Java object the block
    created. The release of an object made before the block is not
    counted, nor is Python's cycle collector left running inside it
    (collected on entry): both would release the garbage of earlier
    work whenever they happen to run."""

    def __enter__(self):
        gc.collect()
        self._gc = gc.isenabled()
        gc.disable()
        self.n, self._send = 0, ClientServerConnection.send_command
        thread, made = threading.get_ident(), set()

        def send_command(conn, command):
            answer = self._send(conn, command)
            if threading.get_ident() != thread:
                return answer
            if command.startswith(_RELEASE):
                if command[len(_RELEASE) :].split("\n", 1)[0] not in made:
                    return answer
            elif answer.startswith(_OBJECT_ANSWERS):
                made.add(answer[2:])
            self.n += 1
            return answer

        ClientServerConnection.send_command = send_command
        return self

    def __exit__(self, *exc):
        ClientServerConnection.send_command = self._send
        if self._gc:
            gc.enable()


def _compilations(spark) -> int:
    """Generated classes compiled so far by this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _split_documents(spark, sf_dir):
    """(corpus, increment) of the fixture documents."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.filter(F.col("doc_id") % 4 != 0), docs.filter(F.col("doc_id") % 4 == 0)


def test_sync_round_and_index_append_job_budget(spark, sf_dir, tmp_path):
    dest, src0, src = (str(tmp_path / n) for n in ("dest", "src0", "src"))
    wm, log = str(tmp_path / "wm"), str(tmp_path / "log")
    eng = Engine(spark, load_log_path=log, watermark_store_path=wm)
    _table(spark, 0, 400, 1).write.parquet(src0)
    assert eng.sync({"path": src0}, {"path": dest}, ["id"], "ts") == 400
    assert manifest_watermark(read_manifest(spark, dest)) == 1
    _table(spark, 350, 450, 2).write.parquet(src)
    dels = spark.createDataFrame([(3,), (5,)], "id long")
    with _Jobs(spark, "budget-sync") as jobs:
        n = eng.sync({"path": src}, {"path": dest}, ["id"], "ts", deleted_keys=dels)
    assert n == 448 == read_bucketed(spark, dest).count()
    assert manifest_watermark(read_manifest(spark, dest)) == 2
    assert jobs.n <= SYNC_ROUND_JOBS, jobs.n
    # the sync writes neither the watermark store nor the load log
    assert not os.path.exists(wm) and not os.path.exists(log)

    corpus, inc = _split_documents(spark, sf_dir)
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx, n_buckets=N_BUCKETS)
    with _Jobs(spark, "budget-match") as jobs:
        assert match_minhash_index(spark, idx, inc).collect()
    assert jobs.n <= INDEX_MATCH_JOBS, jobs.n
    n_before = spark.read.parquet(idx).count()
    with _Jobs(spark, "budget-append") as jobs:
        append_to_minhash_index(inc, idx)
    assert jobs.n <= INDEX_APPEND_JOBS, jobs.n
    assert spark.read.parquet(idx).count() > n_before


def test_ann_index_job_budgets(spark, sf_dir, tmp_path):
    """The IVF and IVF-PQ appends and probes run through the dedup
    indexes' append and probe read: no job for the touched or probed
    cells, and none for the cells' schema."""
    e = read_table(spark, sf_dir, "embeddings")
    corpus, queries = e.filter(F.col("vec_id") < 400), e.filter(F.col("vec_id") % 50 == 0)

    def batch(lo: int):
        return e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 20))

    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    build_ivf_index(corpus, ivf, "vec_id", "embedding")
    build_ivfpq_index(corpus, ivfpq, "vec_id", "embedding", vec_buckets=4)
    calls = {
        "ivf_append": (IVF_APPEND_JOBS, lambda: append_to_ivf_index(batch(400), ivf)),
        "ivf_search": (IVF_SEARCH_JOBS, lambda: search_ivf_index(spark, ivf, queries).collect()),
        "semantic_match": (
            SEMANTIC_MATCH_JOBS,
            lambda: match_semantic_index(spark, ivf, batch(420)).collect(),
        ),
        "ivfpq_append": (IVFPQ_APPEND_JOBS, lambda: append_to_ivfpq_index(batch(400), ivfpq)),
        "ivfpq_search": (
            IVFPQ_SEARCH_JOBS,
            lambda: search_ivfpq_index(spark, ivfpq, queries).collect(),
        ),
    }
    over, out = {}, {}
    for name, (budget, call) in calls.items():
        with _Jobs(spark, f"budget-{name}") as jobs:
            out[name] = call()
        if jobs.n > budget:
            over[name] = (jobs.n, budget)
    assert not over, over
    assert out["ivf_search"] and out["ivfpq_search"] and len(out["semantic_match"]) == 20
    for root in (ivf, f"{ivfpq}/codes", f"{ivfpq}/vectors"):
        assert spark.read.parquet(root).count() == 420


def test_sync_round_round_trips(spark, sf_dir, tmp_path):
    """The driver's py4j round trips of one sync round stay flat in the
    destination's columns and pending delta dirs: the delta frame's cast
    and the pending-delta filter are SQL text, and the manifest listing
    globs the manifests alone."""
    keys = ["l_orderkey", "l_linenumber"]
    lineitem = read_table(spark, sf_dir, "lineitem")
    dest = str(tmp_path / "dest")
    write_bucketed(lineitem.withColumn("ts", F.lit(0)), dest, keys, N_BUCKETS, watermark_col="ts")
    eng = Engine(spark)

    def increment(r: int):
        src = str(tmp_path / f"src{r}")
        rows = lineitem.filter(F.col("l_orderkey") % 50 == r).withColumn("ts", F.lit(r))
        rows.withColumn("l_linestatus", F.lit(f"round {r}")).write.parquet(src)
        return {"path": src}, rows.select(*keys).limit(2)

    for r in (1, 2, 3):
        src, dels = increment(r)
        eng.sync(src, {"path": dest}, keys, "ts", deleted_keys=dels)
    assert len(read_manifest(spark, dest)["deltas"][0]) == 3  # three pending generations
    src, dels = increment(4)
    with _RoundTrips() as trips:
        eng.sync(src, {"path": dest}, keys, "ts", deleted_keys=dels)
    assert trips.n <= SYNC_ROUND_ROUND_TRIPS, trips.n


def test_reshard_moves_its_buckets_in_one_write(spark, tmp_path):
    dest = str(tmp_path / "dest")
    write_bucketed(_table(spark, 0, 2000, 1), dest, ["id"], 32, n_shards=3)
    with _Jobs(spark, "budget-reshard") as jobs:
        stats = reshard_bucketed(spark, dest, 5)
    assert stats["buckets_moved"] == 15 and stats["rows_total"] == 2000
    assert jobs.n <= RESHARD_JOBS, jobs.n
    assert read_bucketed(spark, dest).count() == 2000


def test_empty_root_has_no_base(spark, tmp_path):
    """A zero-row first load and a merge that deletes every row write no
    base: the manifest lists no bucket and records the schema, so the
    root reads back empty and typed, and later merges land as usual."""
    dest = str(tmp_path / "dest")
    schema = _table(spark, 0, 1, 1).schema.simpleString()
    write_bucketed(_table(spark, 0, 0, 1), dest, ["id"], N_BUCKETS)
    assert not [d for d in os.listdir(dest) if d.startswith("bucket_")]
    assert read_manifest(spark, dest)["buckets"] == {}
    got = read_bucketed(spark, dest)
    assert got.schema.simpleString() == schema and got.count() == 0

    partial_merge(spark, dest, _table(spark, 0, 50, 2))
    partial_merge(spark, dest, _table(spark, 0, 50, 3))  # folds every bucket
    m = read_manifest(spark, dest)
    assert m["buckets"] and not m.get("deltas")
    stats = partial_merge(spark, dest, _table(spark, 0, 0, 0), deleted_keys=_table(spark, 0, 50, 0))
    m = read_manifest(spark, dest)
    assert stats["rows"] == 0 and m["buckets"] == {} and m["rows"] == {}
    assert not [d for d in os.listdir(dest) if d.startswith("bucket_") and d.endswith(f"_v{m['gen']}")]
    got = read_bucketed(spark, dest)
    assert got.schema.simpleString() == schema and got.count() == 0
    partial_merge(spark, dest, _table(spark, 7, 9, 4))
    assert sorted(r.id for r in read_bucketed(spark, dest).collect()) == [7, 8]


def test_gc_round_trips(spark, tmp_path, monkeypatch):
    """A GC pass reads the names of a root's dirs in a fixed number of
    py4j round trips, and deletes exactly the dirs no retained
    generation lists."""
    import fastetl_spark.io.bucketed as B

    dest = str(tmp_path / "dest")
    write_bucketed(_table(spark, 0, 160, 1), dest, ["id"], 16)
    monkeypatch.setattr(B, "_gc_generations", lambda *a, **k: None)
    for r in range(2, 6):  # four merges, GC held back
        partial_merge(spark, dest, _table(spark, 0, 160 if r == 3 else 60, r))
    monkeypatch.undo()
    gens = list_generations(spark, dest)
    keep = set()
    for g in gens[-2:]:
        keep |= set(B._referenced(B._read_manifest_gen(spark, dest, g)))
    data = lambda: {d for d in os.listdir(dest) if d.startswith(("bucket_", "delta_v"))}
    assert data() - keep  # garbage to collect
    with _RoundTrips() as trips:
        B._gc_generations(spark, dest)
    assert data() == keep
    assert list_generations(spark, dest) == gens[-2:]
    assert trips.n <= GC_ROUND_TRIPS, trips.n


def _files(root: str) -> dict[str, int]:
    """{path: bytes} of every file under ``root``."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(root)
        for f in names
    }


def test_upsert_writes_about_the_increment(spark, tmp_path):
    """An upsert of 1/24 of a 16-bucket table writes at most 3x the
    increment's own parquet bytes under the destination: a delta per
    touched bucket, not the buckets. Rewriting every touched bucket
    wrote ~21x (24x the increment's rows)."""

    def rows(lo: int, hi: int, rev: float):
        return spark.range(lo, hi).select(
            F.col("id"),
            (F.col("id") * 7 % 1000).alias("qty"),
            (F.col("id") * 1.5 + rev).alias("price"),
            F.concat(F.lit("comment "), F.col("id").cast("string")).alias("note"),
        )

    dest, inc = str(tmp_path / "dest"), str(tmp_path / "inc")
    write_bucketed(rows(0, 48_000, 0), dest, ["id"], 16)
    rows(47_000, 49_000, 1).write.parquet(inc)  # 1000 updates, 1000 inserts
    before = _files(dest)
    stats = partial_merge(spark, dest, spark.read.parquet(inc))
    written = sum(n for f, n in _files(dest).items() if f not in before)
    assert stats["buckets_touched"] == 16 and stats["rows"] == 49_000
    assert stats["rows_written"] == 2_000
    assert written <= 3 * sum(_files(inc).values()), (written, _files(inc))


def _ingest_round(spark, sf_dir, root: str) -> None:
    """A bucketed sync plus a minhash index build, match and append,
    all from the same inputs every time."""
    dest, src, idx = f"{root}/dest", f"{root}/src", f"{root}/idx"
    write_bucketed(_table(spark, 0, 400, 1), dest, ["id"], N_BUCKETS)
    _table(spark, 350, 450, 2).write.parquet(src)
    eng = Engine(spark, load_log_path=f"{root}/log", watermark_store_path=f"{root}/wm")
    eng.watermark_store.set(dest, 1)
    dels = _table(spark, 3, 6, 0).select("id")
    assert eng.sync({"path": src}, {"path": dest}, ["id"], "ts", deleted_keys=dels) == 447
    corpus, inc = _split_documents(spark, sf_dir)
    build_minhash_index(corpus, idx, n_buckets=N_BUCKETS)
    match_minhash_index(spark, idx, inc).collect()
    append_to_minhash_index(inc, idx)


def test_repeated_round_reuses_generated_code(spark, sf_dir, tmp_path):
    """A round's generated classes stay in the codegen cache, so the
    next identical round compiles (almost) nothing."""
    _ingest_round(spark, sf_dir, str(tmp_path / "r1"))
    before = _compilations(spark)
    _ingest_round(spark, sf_dir, str(tmp_path / "r2"))
    assert _compilations(spark) - before <= REPEAT_ROUND_COMPILES


def test_index_append_and_match_round_trips(spark, sf_dir, tmp_path):
    corpus, inc = _split_documents(spark, sf_dir)
    for portable in (False, True):
        idx = str(tmp_path / f"idx_{portable}")
        build_minhash_index(corpus, idx, n_buckets=N_BUCKETS, portable=portable)
        with _RoundTrips() as match:
            match_minhash_index(spark, idx, inc).collect()
        with _RoundTrips() as append:
            append_to_minhash_index(inc, idx)
        assert match.n <= INDEX_MATCH_ROUND_TRIPS, (portable, match.n)
        assert append.n <= INDEX_APPEND_ROUND_TRIPS, (portable, append.n)


def _call_chain_band_rows(docs, portable: bool):
    """The band rows as the Column call chains built them before the
    expressions became SQL text: the reference for bit-identity."""
    m31, k, bands, n = (1 << 31) - 1, 32, 8, 3
    tokens = F.split(F.col("text"), " ")

    def windows(tokens, fn, elem):
        gen = F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: fn(*[F.element_at(tokens, i + j) for j in range(n)]),
        )
        return F.when(F.size(tokens) >= n, F.array_distinct(gen)).otherwise(
            F.expr(f"CAST(array() AS ARRAY<{elem}>)")
        )

    tok = docs.select("doc_id", tokens.alias("tokens"))
    if portable:
        sh = tok.select(
            "doc_id",
            windows(F.col("tokens"), lambda *w: F.concat_ws(" ", *w), "STRING").alias("sh"),
        )
        def md5_prefix(c):
            return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

        hs = F.transform(F.col("sh"), lambda s: F.pmod(md5_prefix(s), F.lit(m31)))
        hashed = sh.select("doc_id", hs.alias("hs"))
    else:
        hs = F.transform(
            windows(F.col("tokens"), F.xxhash64, "BIGINT"), lambda s: F.pmod(s, F.lit(m31))
        )
        hashed = tok.select("doc_id", hs.alias("hs"))
    hashed = hashed.filter(F.size("hs") > 0)
    acc0 = F.array_repeat(F.lit(m31).cast("long"), k)
    params = F.array(
        *[
            F.struct(
                F.lit(2 * i + 1).cast("long").alias("a"),
                F.lit(i * 7919).cast("long").alias("b"),
            )
            for i in range(k)
        ]
    )
    sig = F.aggregate(
        F.col("hs"),
        acc0,
        lambda acc, h: F.zip_with(
            acc, params, lambda m, p: F.least(m, (h * p["a"] + p["b"]) % m31)
        ),
    )
    sigs = hashed.select("doc_id", F.when(F.size("hs") > 0, sig).alias("sig"))
    per_band = k // bands

    def band_key(b: int):
        if portable:
            vals = [F.element_at(F.col("sig"), b * per_band + r + 1) for r in range(per_band)]
            return F.concat_ws("_", *[v.cast("string") for v in vals])
        return F.xxhash64(F.slice(F.col("sig"), b * per_band + 1, per_band))

    keyed = F.array(
        *[F.struct(F.lit(b).alias("band"), band_key(b).alias("band_hash")) for b in range(bands)]
    )
    return sigs.select("doc_id", F.explode(keyed).alias("bb")).select(
        F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"), "doc_id"
    )


@pytest.mark.parametrize("portable", [False, True])
def test_band_rows_match_call_chain_formula(spark, sf_dir, portable):
    edge = spark.createDataFrame(
        [
            (-1, None),
            (-2, ""),
            (-3, "two words"),
            (-4, "exactly three words"),
            (-5, "a a a a a a a a"),
            (-6, "  double  spaces  and   tabs\there  "),
            (-7, "ünïcode wörds ünïcode wörds ünïcode wörds"),
        ],
        "doc_id long, text string",
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").unionByName(edge)
    got = _band_rows(docs, portable=portable)
    want = _call_chain_band_rows(docs, portable)
    assert got.dtypes == want.dtypes
    got_rows, want_rows = sorted(map(tuple, got.collect())), sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    assert len(got_rows) > 8 * 400
    assert {r[2] for r in got_rows} & {-4, -5, -6, -7} == {-4, -5, -6, -7}


@pytest.mark.parametrize("portable", [False, True])
def test_band_rows_hash_shingles_once_per_row(spark, sf_dir, portable):
    """The band rows' optimized plan computes the shingle hashes in one
    projection: nothing is materialised under it, and no filter on the
    hashes is pushed below it to hash the shingles a second time."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = _band_rows(docs, portable=portable)._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan  # a checkpoint's scan
    assert plan.count("array_distinct(") == 1, plan  # the shingle set, hashed
    assert plan.count("aggregate(") == 1, plan  # the signature


def test_index_phases_describe_their_jobs(spark, sf_dir, tmp_path):
    """The jobs an index append and a match run themselves carry
    ``fastetl:index:<phase>`` descriptions; the caller's come back."""
    corpus, inc = _split_documents(spark, sf_dir)
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx, n_buckets=N_BUCKETS)
    sc = spark.sparkContext
    sc.setJobGroup("index-phases", "caller's description")
    try:
        assert match_minhash_index(spark, idx, inc).collect()
        append_to_minhash_index(inc, idx, compact_threshold=0)  # compacts every touched bucket
        assert sc.getLocalProperty("spark.job.description") == "caller's description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    got = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == "index-phases":
            got.add(job.description().get() if job.description().isDefined() else None)
    phases = {"probe", "fingerprint", "append", "compact"}
    assert {f"fastetl:index:{p}" for p in phases} <= got, got


def test_marker_count_is_flat_and_retention_holds(spark, tmp_path):
    """Appending a marker costs the same round trips with 0 and with 1100
    markers present; past the cap plus one prune batch the oldest go,
    by mtime (ties included), down to the cap."""

    def seed_markers(root, n: int):
        inc = root / "_increments"
        inc.mkdir(parents=True)
        for i in range(n):
            (inc / f"old{i:05d}").write_text("x")
            os.utime(inc / f"old{i:05d}", (1_000_000_000 + i // 2,) * 2)  # pairs tie
        return inc

    seed_markers(tmp_path / "empty", 0)
    seed_markers(tmp_path / "full", 1100)
    with _RoundTrips() as empty:
        mark_increment_applied(spark, str(tmp_path / "empty"), "new")
    with _RoundTrips() as full:
        mark_increment_applied(spark, str(tmp_path / "full"), "new")
    assert full.n == empty.n, (empty.n, full.n)
    assert len(os.listdir(tmp_path / "full" / "_increments")) == 1101 + 1  # + new .crc

    # one past the threshold, so the cut (130 oldest) falls between ties
    n = MAX_INCREMENT_MARKERS + _MARKER_PRUNE_BATCH + 1
    inc = seed_markers(tmp_path / "over", n)
    mark_increment_applied(spark, str(tmp_path / "over"), "new")
    kept = {f for f in os.listdir(inc) if not f.startswith(".")}
    newest = {f"old{i:05d}" for i in range(n - MAX_INCREMENT_MARKERS + 1, n)}
    assert kept == newest | {"new"}


def test_manifest_rows_track_every_publish(spark, tmp_path):
    dest, src = str(tmp_path / "dest"), str(tmp_path / "src")
    _table(spark, 0, 300, 1).write.parquet(dest)
    Engine(spark).bucketize(dest, ["id"], N_BUCKETS)

    def check():
        got = read_bucketed(spark, dest)
        assert _manifest_rows(spark, dest) == got.count()
        dirs = [f"{dest}/{d}" for d in read_manifest(spark, dest)["buckets"].values()]
        if dirs:  # an emptied root has no base to infer from
            assert got.schema == spark.read.parquet(*dirs).schema  # recorded == inferred

    check()
    partial_merge(spark, dest, _table(spark, 250, 400, 2))  # updates + inserts
    check()
    partial_merge(spark, dest, _table(spark, 0, 10, 3), deleted_keys=_table(spark, 5, 50, 0))
    check()
    assert _manifest_rows(spark, dest) == 400 - 45
    everything = read_bucketed(spark, dest).select("id")
    partial_merge(spark, dest, _table(spark, 0, 0, 0), deleted_keys=everything)
    check()
    assert _manifest_rows(spark, dest) == 0
    rollback_bucketed(spark, dest)
    check()
    assert _manifest_rows(spark, dest) == 355
    reshard_bucketed(spark, dest, 3)  # first placement: nothing moves
    reshard_bucketed(spark, dest, 5)
    check()
    # a no-op sync (empty increment, no deletes) returns the recorded count
    _table(spark, 0, 3, 0).write.parquet(src)
    eng = Engine(spark, watermark_store_path=str(tmp_path / "wm"))
    eng.watermark_store.set(dest, 10)
    gens = list_generations(spark, dest)
    assert eng.sync({"path": src}, {"path": dest}, ["id"], "ts") == 355
    assert list_generations(spark, dest) == gens


def test_sync_of_v2_table_without_recorded_rows(spark, tmp_path):
    """A manifest committed before ``rows``/``schema`` were recorded:
    the sync still reports the right count and records both."""
    dest, src = str(tmp_path / "dest"), str(tmp_path / "src")
    write_bucketed(_table(spark, 0, 200, 1), dest, ["id"], N_BUCKETS)
    (gen,) = list_generations(spark, dest)
    path = os.path.join(dest, f"{MANIFEST_PREFIX}{gen}.json")
    with open(path) as fh:
        m = json.load(fh)
    with open(path, "w") as fh:
        json.dump({"gen": m["gen"], "buckets": m["buckets"]}, fh)
    os.remove(os.path.join(dest, f".{MANIFEST_PREFIX}{gen}.json.crc"))
    assert "rows" not in read_manifest(spark, dest)

    _table(spark, 150, 260, 2).write.parquet(src)
    eng = Engine(spark, watermark_store_path=str(tmp_path / "wm"))
    assert eng.sync({"path": src}, {"path": dest}, ["id"], "ts") == 260
    assert _manifest_rows(spark, dest) == 260
    assert "schema" in read_manifest(spark, dest)
    assert manifest_watermark(read_manifest(spark, dest)) == 2


def test_bucket_count_is_a_hash_aggregate(spark, tmp_path, monkeypatch):
    """The post-merge count takes each key's liveness from a hash
    aggregate: a max over a (generation, tombstone) struct planned a
    SortAggregate, which sorted every key row of the touched buckets."""
    import fastetl_spark.io.bucketed as B

    dest = str(tmp_path / "dest")
    write_bucketed(_table(spark, 0, 200, 1), dest, ["id"], N_BUCKETS)
    partial_merge(spark, dest, _table(spark, 150, 260, 2), deleted_keys=_table(spark, 0, 10, 0))
    m = read_manifest(spark, dest)
    plans, frame = [], type(spark.range(1))
    collect = frame.collect

    def recording(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df)

    monkeypatch.setattr(frame, "collect", recording)
    counts = B._bucket_counts(spark, dest, m, sorted(B._ids(m)), ["id"], N_BUCKETS)
    monkeypatch.undo()
    (plan,) = plans
    assert "SortAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert {b: live for b, (live, _) in counts.items() if live} == m["rows"]
    assert sum(live for live, _ in counts.values()) == read_bucketed(spark, dest).count() == 250


def test_merge_facts_under_reliable_checkpoints(spark, tmp_path):
    """The touched buckets and the new watermark are observed on the
    materialisation; a reliable checkpoint must fill them exactly as
    ``localCheckpoint`` does."""
    from fastetl_spark.checkpointing import enable_reliable_checkpoints

    def run(tag: str):
        dest, src = str(tmp_path / f"dest_{tag}"), str(tmp_path / f"src_{tag}")
        write_bucketed(_table(spark, 0, 100, 1), dest, ["id"], N_BUCKETS)
        _table(spark, 90, 130, 2).write.parquet(src)
        eng = Engine(spark, watermark_store_path=str(tmp_path / f"wm_{tag}"))
        eng.watermark_store.set(dest, 1)
        dels = spark.createDataFrame([(7,)], "id long")
        n = eng.sync({"path": src}, {"path": dest}, ["id"], "ts", deleted_keys=dels)
        rows = sorted(tuple(r) for r in read_bucketed(spark, dest).collect())
        m = read_manifest(spark, dest)
        return n, manifest_watermark(m), m["rows"], rows

    local = run("local")
    try:
        enable_reliable_checkpoints(spark, str(tmp_path / "ckpt"))
        reliable = run("reliable")
    finally:
        spark.sparkContext.setCheckpointDir(None)
    assert local == reliable
    assert local[:2] == (129, 2)


def _old_watermark_row(spark, path, table, value, seq):
    """A watermark row as the createDataFrame(list) writer laid it down."""
    spark.createDataFrame(
        [(table, str(value), _watermark_type(value), seq)],
        "table_name string, watermark_value string, value_type string, seq long",
    ).withColumn("updated_at", F.current_timestamp()).write.mode("append").parquet(path)


def _file_schemas(path: str) -> set:
    return {
        str(pq.read_schema(f).remove_metadata())
        for f in glob.glob(os.path.join(path, "*.parquet"))
    }


@pytest.mark.parametrize(
    "old, new",
    [
        (7, 12),
        (dt.date(2020, 1, 2), dt.date(2021, 3, 4)),
        (dt.datetime(2020, 1, 2, 3, 4, 5), dt.datetime(2021, 3, 4, 5, 6, 7, 8)),
        ("a-old", "b-new"),
    ],
)
def test_bookkeeping_files_read_back_across_writers(spark, tmp_path, old, new):
    import time

    wm = str(tmp_path / "wm")
    _old_watermark_row(spark, wm, "t", old, time.time_ns())
    store = WatermarkStore(spark, wm)
    assert store.get("t") == old
    store.set("t", new)
    assert store.get("t") == new
    assert len(_file_schemas(wm)) == 1  # names, types and nullability agree

    log = str(tmp_path / "log")
    spark.createDataFrame(
        [("spark", "default", "t", "u", "incremental", 5)], LOG_SCHEMA
    ).withColumn("dt_consumo", F.current_timestamp()).coalesce(1).write.parquet(log)
    info = LoadInfo(spark, log)
    info.save("t", "incremental", 7)
    assert len(_file_schemas(log)) == 1
    (row,) = info.throughput().collect()
    assert (row["no_tabela"], row["total_rows"], row["n_loads"]) == ("t", 12, 2)
