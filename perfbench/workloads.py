"""The closed-loop workloads.

Four parts, each owning a directory under the run's scratch root: it
makes its inputs with ``gen`` from the seed, performs its initial load
through program calls, runs one op at a time (one client, no think
time) and checks its outputs against an oracle that does not share code
with the program: DuckDB SQL, or plain Python over the generated inputs.

- sync_rounds: the reference's core job, incremental replication. It is
  the only part that writes a bucketed destination, a watermark store
  and a load log.
- dedup_ingest: reads and appends to a bucketed index, the second user
  of io.bucketed, so a merge-path gain that slows appends shows.
- query_mix: read-only TPC-H-shaped queries; a write-path change should
  leave it unchanged and a planner or session change shows here first.
- stream_ingest: the only part that touches Structured Streaming state
  and its offset/commit logs.

Every Spark session costs seconds to start and every part a set-up and
a warm-up, so the declared workloads run two parts in one process:
``ingest_rounds`` (one op = one round over two tables: a lineitem sync,
then a documents batch) and ``analytics_mix`` (queries, then streaming
micro-batches).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re
import shutil
import statistics
import time
from collections import Counter
from contextlib import nullcontext

import duckdb
import pyarrow as pa

import gen
import stats
from tracing import Tracer, iso_epoch, progress_rows


class Workload:
    name = ""
    default_sf = 0.1    # scale factor unless --sf overrides it
    warmup = 2          # leading ops excluded from op metrics
    pass_len = 1        # measured ops come in whole passes of this many
    first_op = 0        # op id of this part's first op within its run

    def __init__(self, root: str, seed: int, sf: float | None, tracer: Tracer | None):
        self.root, self.seed, self.tracer = root, seed, tracer
        self.sf = self.default_sf if sf is None else sf
        self.spark = None
        self.failures: list[str] = []
        self.landed_bytes: list[int] = []   # per op, input bytes landed

    def d(self, *parts: str) -> str:
        p = os.path.join(self.root, self.name, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    # lifecycle hooks -------------------------------------------------------
    def generate(self) -> None:
        """Inputs that exist before set-up starts."""

    def initial_load(self) -> float | None:
        """Program calls that make the workload ready; returns their
        time when it must exclude input staging, else None."""

    def land(self, i: int) -> int:
        """Untimed: put op ``i``'s input in place; returns its bytes."""
        return 0

    def op(self, i: int) -> int:
        """Timed: one op; returns the input rows handed to it."""
        raise NotImplementedError

    def verify_op(self, i: int) -> None:
        """Untimed per-op correctness check; append to ``failures``."""

    def check(self) -> None:
        """Untimed end-of-run correctness check."""

    def io_dirs(self) -> list[str]:
        """Destination, control, index and checkpoint dirs (write/space
        amplification); empty for a read-only part."""
        return []

    def live_rows(self) -> list:
        """DataFrames of the live rows under ``io_dirs``, one per table
        (space_amp)."""
        return []

    def layer_metrics(self, ops: set[int]) -> dict[str, float | str]:
        """Per-layer values over measured ``ops``; a string value marks
        the metric absent and says why."""
        return {}

    def group_key(self, i: int):
        """Event-log group of op ``i`` (see ``tracing.event_group``):
        its job group by default."""
        return i

    def part_times(self, i: int, wall: float, cpu: float) -> dict[str, tuple]:
        """Op ``i``'s (wall, cpu) seconds split by the part that spent
        them."""
        return {self.name: (wall, cpu)}

    def run_ops(self, seconds: float, record) -> None:
        """Closed loop: op i+1 starts when op i returns. After the
        warm-up, ops run in whole passes of ``pass_len`` until
        ``seconds`` have passed (at least one pass)."""
        i, deadline = self.first_op, None
        while True:
            n = i - self.first_op
            warm = n < self.warmup
            self.landed_bytes.append(self.land(i))
            record(i, self.op, self.verify_op, warm=warm)
            i += 1
            if warm and n + 1 == self.warmup:
                stats.settle_jit(os.getpid())
                deadline = time.perf_counter() + seconds
            end_of_pass = (n + 1 - self.warmup) % self.pass_len == 0
            if not warm and end_of_pass and time.perf_counter() >= deadline:
                return


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer else nullcontext()


# --- sync_rounds -----------------------------------------------------------

N_BUCKETS = 16
KEYS = gen.LINEITEM_KEYS


class SyncRounds(Workload):
    name = "sync_rounds"
    default_sf = 0.01  # 60k lineitem rows

    def generate(self) -> None:
        t = gen.tpch_tables(self.sf, self.seed)
        self.base = t["lineitem"]
        self.base_file = self.d("base", "lineitem.parquet")
        gen.write_table(self.base, self.base_file)
        self.incs = gen.IncrementStream(
            self.base, t["part"].num_rows, t["supplier"].num_rows, self.seed
        )
        self.rounds: list[gen.Increment] = []
        self.reject_ratio: dict[int, float] = {}
        self.oracle = duckdb.connect()
        self.oracle.execute(
            f"CREATE TABLE state AS SELECT * FROM read_parquet('{self.base_file}')"
        )

    def initial_load(self) -> float:
        from fastetl_spark.api import Engine

        self.dest = self.d("dest", "lineitem")
        os.makedirs(self.dest)
        shutil.copy(self.base_file, self.dest)  # the pre-existing table
        t0 = time.perf_counter()
        self.engine = Engine(
            self.spark,
            load_log_path=self.d("control", "load_info"),
            watermark_store_path=self.d("control", "watermarks"),
        )
        self.engine.bucketize(self.dest, KEYS, N_BUCKETS, atomic=True)
        return time.perf_counter() - t0

    def land(self, i: int) -> int:
        inc = self.incs.next()
        self.rounds.append(inc)
        raw = self.d("landing", "raw", f"round_{i:05d}.parquet")
        dels = self.d("landing", "deletes", f"round_{i:05d}.parquet")
        return gen.write_table(inc.raw, raw) + gen.write_table(inc.deletes, dels)

    def op(self, i: int) -> int:
        from pyspark.sql import functions as F

        from fastetl_spark.checkpointing import materialize
        from fastetl_spark.plans.cleaners import DuplicatedRowCleaner

        eng, tr = self.engine, self.tracer
        with _span(tr, "plans.clean"):
            raw = eng.read({"path": self.d("landing", "raw", f"round_{i:05d}.parquet")})
            clean, qa = eng.clean(
                raw, [DuplicatedRowCleaner(KEYS, [F.desc("l_shipdate")], tabela="lineitem")]
            )
            clean = clean.transform(materialize)
            valid, rejects = eng.validate_split(clean, validation_rules())
            eng.write(qa, {"path": self.d("qa")}, mode="append")
            eng.write(rejects, {"path": self.d("rejects", f"round={i}")}, mode="append")
            eng.write(valid, {"path": self.d("staged")}, mode="append")
        deletes = eng.read({"path": self.d("landing", "deletes", f"round_{i:05d}.parquet")})
        self.last_n = eng.sync(
            {"path": self.d("staged")}, {"path": self.dest}, keys=KEYS,
            watermark_col="l_shipdate", deleted_keys=deletes, table_name="lineitem",
        )
        inc = self.rounds[i]
        return inc.raw.num_rows + inc.deletes.num_rows

    def verify_op(self, i: int) -> None:
        inc = self.rounds[i]
        con = self.oracle
        con.register("raw", inc.raw)
        con.register("dels", inc.deletes)
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE inc AS
            SELECT * FROM raw
            QUALIFY row_number() OVER (
              PARTITION BY l_orderkey, l_linenumber ORDER BY l_shipdate DESC) = 1
        """)
        n_clean = con.execute("SELECT count(*) FROM inc").fetchone()[0]
        con.execute(f"DELETE FROM inc WHERE NOT ({VALID_SQL})")
        n_valid = con.execute("SELECT count(*) FROM inc").fetchone()[0]
        con.execute("""
            DELETE FROM state WHERE (l_orderkey, l_linenumber) IN
              (SELECT (l_orderkey, l_linenumber) FROM inc)""")
        con.execute("INSERT INTO state SELECT * FROM inc")
        con.execute("""
            DELETE FROM state WHERE (l_orderkey, l_linenumber) IN
              (SELECT (l_orderkey, l_linenumber) FROM dels)""")
        con.unregister("raw")
        con.unregister("dels")
        expected = con.execute("SELECT count(*) FROM state").fetchone()[0]
        rejected = stats.parquet_rows(self.d("rejects", f"round={i}"))
        self.reject_ratio[i] = rejected / max(n_clean, 1)
        if rejected != n_clean - n_valid or rejected != inc.n_invalid:
            self.failures.append(
                f"round {i}: {rejected} rejects, planted {inc.n_invalid}"
            )
        if self.last_n != expected:
            self.failures.append(f"round {i}: sync reports {self.last_n} rows, oracle {expected}")

    def check(self) -> None:
        from fastetl_spark.io.bucketed import read_bucketed

        actual = read_bucketed(self.spark, self.dest).toArrow()
        con = self.oracle
        con.register("actual", actual)
        cols = ", ".join(self.base.column_names)
        q = f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {{}}"
        got = con.execute(q.format("actual")).fetchone()
        want = con.execute(q.format("state")).fetchone()
        if got != want:
            self.failures.append(f"destination (rows, hash) {got} != oracle {want}")

    def io_dirs(self) -> list[str]:
        return [self.dest, self.d("control"), self.d("qa"), self.d("rejects"), self.d("staged")]

    def live_rows(self) -> list:
        from fastetl_spark.io.bucketed import read_bucketed

        return [read_bucketed(self.spark, self.dest)]

    def layer_metrics(self, ops: set[int]) -> dict[str, float]:
        tr = self.tracer
        med = _median
        merges = tr.results("bucketed.partial_merge", ops)
        in_rows = sum(self.rounds[i].raw.num_rows for i in ops)
        wm_dir, li_dir = self.d("control", "watermarks"), self.d("control", "load_info")
        return {
            "api.sync_self_s": med(tr.self_times("api.sync", ops)),
            "api.sync_drift": self.sync_drift(ops),
            "plans.clean_s": med(tr.durations("plans.clean", ops)),
            "plans.reject_ratio": med(
                [self.reject_ratio[i] for i in ops if i in self.reject_ratio]
            ),
            "sync.watermark_get_s": med(tr.durations("sync.watermark_get", ops)),
            "sync.watermark_set_s": med(tr.durations("sync.watermark_set", ops)),
            "sync.watermark_files": stats.data_files(wm_dir),
            "load_info.save_s": med(tr.durations("load_info.save", ops)),
            "load_info.files": stats.data_files(li_dir),
            "bucketed.partial_merge_s": med(tr.durations("bucketed.partial_merge", ops)),
            "bucketed.buckets_touched_ratio": med(
                [m["buckets_touched"] / m["n_buckets"] for m in merges]
            ),
            "bucketed.rows_rewritten_per_input_row": sum(m["rows_written"] for m in merges)
            / max(in_rows, 1),
            "bucketed.read_s": med(tr.durations("bucketed.read_bucketed", ops)),
        }

    def sync_drift(self, ops: set[int]) -> float | str:
        """Median over increment sizes of (median Engine.sync time of the
        last quarter of that size's rounds) / (of the first quarter);
        absent unless some size was measured in at least two rounds."""
        by_size: dict[int, list[float]] = {}
        for s in self.tracer.spans:
            if s.name == "api.sync" and s.op in ops:
                size = self.rounds[s.op].raw.num_rows
                by_size.setdefault(size, []).append(s.end - s.start)
        ratios = []
        for xs in by_size.values():
            if len(xs) >= 2:
                q = max(len(xs) // 4, 1)
                ratios.append(_median(xs[-q:]) / _median(xs[:q]))
        if not ratios:
            return "no increment size measured in two rounds; needs a longer --seconds"
        return _median(ratios)


def validation_rules():
    """The rules handed to ``Engine.validate_split``; ``VALID_SQL`` is
    the oracle's independent statement of the same rules."""
    from pyspark.sql import functions as F

    return [
        ("quantity_positive", F.col("l_quantity") > 0),
        ("discount_range", F.col("l_discount").between(0, 0.1)),
        ("tax_nonnegative", F.col("l_tax") >= 0),
    ]


VALID_SQL = "l_quantity > 0 AND l_discount BETWEEN 0 AND 0.1 AND l_tax >= 0"


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# --- query_mix -------------------------------------------------------------

# The queries of every run: a fixed set, so that a run's median does not
# depend on which of the 22 the seed happens to put first. Between them
# they cover scan-aggregate, six-way join and IN-subquery plans.
QUERY_SET = ("q1_pricing_summary", "q5_local_supplier", "q18_large_orders")


class QueryMix(Workload):
    name = "query_mix"
    default_sf = 0.02
    pass_len = warmup = len(QUERY_SET)  # a warm-up pass, then measured passes

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.root, self.name, "tpch")
        os.makedirs(self.sf_dir)
        self.table_rows = {}
        self.con = duckdb.connect()
        for name, t in gen.tpch_tables(self.sf, self.seed).items():
            path = f"{self.sf_dir}/{name}.parquet"
            gen.write_table(t, path)
            self.table_rows[name] = t.num_rows
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def initial_load(self) -> None:
        import __spark_entry__ as entry

        qs, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {n: qs[n] for n in QUERY_SET}
        self.oracles = {n: oracles[n] for n in QUERY_SET}
        # rows handed to a query: the rows of every table its oracle reads
        self.rows_in = {
            n: sum(r for t, r in self.table_rows.items()
                   if re.search(rf"\b{t}\b", self.oracles[n]))
            for n in QUERY_SET
        }
        self.rng = gen.rng_for(self.seed, "query_order")
        self.order = self.shuffled()[:self.warmup]
        self.verified: set[str] = set()

    def shuffled(self) -> list[str]:
        return [QUERY_SET[j] for j in self.rng.permutation(len(QUERY_SET))]

    def name_of(self, i: int) -> str:
        """The warm-up queries, then one seeded order of the set a pass."""
        while i - self.first_op >= len(self.order):
            self.order += self.shuffled()
        return self.order[i - self.first_op]

    def op(self, i: int) -> int:
        n = self.name_of(i)
        with _span(self.tracer, "relational.build"):
            df = self.queries[n](self.spark, self.sf_dir)
        with _span(self.tracer, "relational.exec"):
            self.result = df.collect()  # at most a few thousand rows
        return self.rows_in[n]

    def verify_op(self, i: int) -> None:
        """Each query's first result of the run against its oracle."""
        n = self.name_of(i)
        result, self.result = self.result, None
        if n in self.verified:
            return
        self.verified.add(n)
        cur = self.con.execute(self.oracles[n])
        cols = [c[0] for c in cur.description]
        want = rows_multiset(cur.fetchall(), cols)
        got_cols = list(result[0].__fields__) if result else cols
        got = rows_multiset([tuple(r) for r in result], got_cols)
        if got != want:
            self.failures.append(f"{n}: result differs from its DuckDB oracle")

    def layer_metrics(self, ops: set[int]) -> dict[str, float]:
        return {
            "relational.build_s": _median(self.tracer.durations("relational.build", ops)),
            "relational.exec_s": _median(self.tracer.durations("relational.exec", ops)),
        }


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "is_finite"):  # Decimal
        return float(f"{float(v):.9g}")
    return v


def rows_multiset(rows, cols: list[str]) -> Counter:
    """Order-independent result comparison key: columns sorted by name,
    floats to 9 significant digits."""
    order = sorted(range(len(cols)), key=lambda k: cols[k])
    return Counter(tuple(_canon(r[k]) for k in order) for r in rows)


# --- dedup_ingest ----------------------------------------------------------

SHINGLE_N, JACCARD = 3, 0.35
BANDS = 8
INDEX_BUCKETS = 16


def shingles(text: str) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[k:k + SHINGLE_N]) for k in range(len(toks) - SHINGLE_N + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


class DedupIngest(Workload):
    name = "dedup_ingest"
    default_sf = 0.01  # 500 corpus documents, batches of 20

    def generate(self) -> None:
        self.corpus = gen.documents(max(int(50_000 * self.sf), 100), self.seed)
        self.corpus_file = self.d("base", "documents.parquet")
        gen.write_table(self.corpus, self.corpus_file)
        self.texts = dict(zip(self.corpus.column("doc_id").to_pylist(),
                              self.corpus.column("text").to_pylist()))
        self.batches_src = gen.DocBatchStream(
            self.corpus, max(int(2_000 * self.sf), 20), self.seed
        )
        self.batches: list[gen.DocBatch] = []
        self.kept_total = 0
        self.per_op: dict[int, dict] = {}

    def initial_load(self) -> None:
        from fastetl_spark.operators.dedup_index import build_minhash_index

        self.index = self.d("index", "minhash")
        docs = self.spark.read.parquet(self.corpus_file).select("doc_id", "text")
        build_minhash_index(docs, self.index, n_buckets=INDEX_BUCKETS)

    def land(self, i: int) -> int:
        b = self.batches_src.next()
        self.batches.append(b)
        return gen.write_table(b.docs, self.d("landing", f"batch_{i:05d}.parquet"))

    def op(self, i: int) -> int:
        from pyspark.sql import functions as F

        from fastetl_spark.checkpointing import materialize
        from fastetl_spark.operators.dedup_index import (
            append_to_minhash_index,
            match_minhash_index,
        )
        from fastetl_spark.plans.curation_pipeline import CorpusCurator

        tr = self.tracer
        with _span(tr, "plans.curate"):
            docs = self.spark.read.parquet(self.d("landing", f"batch_{i:05d}.parquet"))
            n_digits = F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
            curated, funnel = (
                CorpusCurator()
                .filter("min_length", F.length("text") >= 100)
                .filter("digit_ratio", n_digits * 100 <= 30 * F.length("text"))
                .dedup_exact_normalized()
                .run(docs)
            )
            curated = curated.select("doc_id", "text").transform(materialize)
            funnel = funnel()
        with _span(tr, "dedup_index.match"):
            cands = match_minhash_index(self.spark, self.index, curated).collect()
        with _span(tr, "dedup_index.append"):
            append_to_minhash_index(curated, self.index)
        self.per_op[i] = {"curated": curated, "funnel": funnel, "cands": cands}
        return self.batches[i].docs.num_rows

    def verify_op(self, i: int) -> None:
        b, rec = self.batches[i], self.per_op[i]
        kept = {r[0] for r in rec.pop("curated").select("doc_id").collect()}
        pairs = {(r["new_doc"], r["corpus_doc"]) for r in rec["cands"]}
        batch_text = dict(zip(b.docs.column("doc_id").to_pylist(),
                              b.docs.column("text").to_pylist()))
        for new, src in b.exact:
            if new in kept and (new, src) not in pairs:
                self.failures.append(f"batch {i}: exact copy {new} of {src} not matched")
        for new, _ in b.intra:
            if new in kept:
                self.failures.append(f"batch {i}: in-batch copy {new} survived dedup")
        eligible = [
            (n, s) for n, s in b.near
            if n in kept and jaccard(batch_text[n], self.texts[s]) >= JACCARD
        ]
        all_text = {**self.texts, **batch_text}
        verified = sum(
            1 for n, c in pairs if jaccard(all_text[n], all_text[c]) >= JACCARD
        )
        rec.update(
            n_docs=b.docs.num_rows,
            n_cands=len(pairs),
            verified=verified,
            near_found=sum(1 for p in eligible if p in pairs),
            near_eligible=len(eligible),
            keep_ratio=rec["funnel"][-1][2] / rec["funnel"][0][2],
        )
        rec.pop("cands")
        self.kept_total += len(kept)
        self.texts.update({k: batch_text[k] for k in kept})

    def check(self) -> None:
        n = self.spark.read.parquet(self.index).count()
        want = (self.corpus.num_rows + self.kept_total) * BANDS
        if n != want:
            self.failures.append(f"index has {n} rows, expected {want}")

    def io_dirs(self) -> list[str]:
        return [self.index]

    def live_rows(self) -> list:
        return [self.spark.read.parquet(self.index)]

    def layer_metrics(self, ops: set[int]) -> dict[str, float]:
        tr = self.tracer
        recs = [self.per_op[i] for i in ops]
        cands = sum(r["n_cands"] for r in recs)
        probes = tr.results("bucketed.read_buckets_for_keys", ops)
        compacted = tr.results("bucketed.compact_buckets", ops)
        return {
            "plans.curate_s": _median(tr.durations("plans.curate", ops)),
            "plans.funnel_keep_ratio": _median([r["keep_ratio"] for r in recs]),
            "dedup_index.match_s": _median(tr.durations("dedup_index.match", ops)),
            "dedup_index.append_s": _median(tr.durations("dedup_index.append", ops)),
            "dedup_index.candidates_per_doc": cands / max(sum(r["n_docs"] for r in recs), 1),
            "dedup_index.verified_ratio": sum(r["verified"] for r in recs) / max(cands, 1),
            "dedup_index.near_dup_recall": sum(r["near_found"] for r in recs)
            / max(sum(r["near_eligible"] for r in recs), 1),
            "bucketed.probe_s": _median(tr.durations("bucketed.read_buckets_for_keys", ops)),
            "bucketed.probe_files_ratio": _median(probes),
            "bucketed.compactions": float(sum(compacted)),
            "bucketed.compact_s": sum(tr.durations("bucketed.compact_buckets", ops)),
            "bucketed.files_per_bucket": stats.files_per_bucket(self.index),
        }


# --- stream_ingest ---------------------------------------------------------

# Slices landed before each availableNow query run: a short first run
# warms the JVM up, then longer runs, so most measured batches do not
# pay a query restart.
WARMUP_SLICES, SLICES_PER_RUN = 2, 5
WATERMARK_MS = 2 * 3600 * 1000
HOUR_US = 3600 * 1_000_000


class StreamIngest(Workload):
    name = "stream_ingest"

    def generate(self) -> None:
        self.rows = max(int(50_000 * self.sf), 50)
        self.src, self.sink, self.ck = self.d("src"), self.d("sink"), self.d("checkpoint")
        os.makedirs(self.src, exist_ok=True)
        self.slices: list[pa.Table] = []
        self.batches: list[dict] = []
        self.restarts: set[int] = set()  # first slice of every later query run
        self.t0 = time.time() - 3600

    def land(self, i: int) -> int:
        t = gen.event_slice(self.seed, i, self.rows)
        self.slices.append(t)
        p = f"{self.src}/slice_{i:05d}.parquet"
        n = gen.write_table(t, p)
        os.utime(p, (self.t0 + i, self.t0 + i))  # file order = slice order
        return n

    def run_ops(self, seconds: float, record) -> None:
        """One availableNow query run per group of landed slices;
        each data micro-batch is one op, timed by Spark's own trigger
        duration. The clock starts after the first query run, which
        holds the warm-up batches."""
        from fastetl_spark.streaming.stream_ops import (
            read_events_stream,
            windowed_event_counts,
        )

        deadline = None
        while deadline is None or time.perf_counter() < deadline:
            first = len(self.slices)
            if first:
                self.restarts.add(first)
            for i in range(first, first + (SLICES_PER_RUN if first else WARMUP_SLICES)):
                self.landed_bytes.append(self.land(i))
            cpu0 = stats.tree_cpu_s(os.getpid())
            q = (
                windowed_event_counts(read_events_stream(self.spark, self.src, 1))
                .writeStream.format("parquet")
                .option("checkpointLocation", self.ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start(self.sink)
            )
            q.awaitTermination()
            cpu = stats.tree_cpu_s(os.getpid()) - cpu0
            progress = [_as_dict(p) for p in q.recentProgress]
            if q.exception() is not None:
                self.failures.append(f"stream failed: {q.exception()}")
                return
            rows = progress_rows(progress)
            busy = sum(r["trigger_s"] for r in rows) or 1.0
            for r in rows:
                self.batches.append(r)
                # the query run's CPU, shared out by trigger time
                record(self.first_op + len(self.batches) - 1, None, None,
                       wall=r["trigger_s"], rows=r["rows"], start=r["start"],
                       warm=deadline is None, cpu=cpu * r["trigger_s"] / busy)
            self.final_watermark = progress[-1]["eventTime"].get("watermark")
            if deadline is None:
                stats.settle_jit(os.getpid())
                deadline = time.perf_counter() + seconds

    def check(self) -> None:
        if len(self.batches) != len(self.slices):
            self.failures.append(
                f"{len(self.batches)} data batches for {len(self.slices)} slices"
            )
            return
        # Batch b evicts with watermark wm[b] = max event time (ms) of
        # batches < b minus 2h, but drops late rows with wm[b-1] (Spark
        # keeps a separate, one-batch-older watermark for late events),
        # except in the first batch of a restarted query, which has no
        # older batch in memory and drops them with wm[b].
        late, prev, wm = [], 0, 0
        for b, t in enumerate(self.slices):
            late.append(wm if b in self.restarts else prev)
            prev = wm
            ts_max = t.column("ts").cast(pa.int64()).to_numpy().max()
            wm = max(wm, ts_max // 1000 - WATERMARK_MS)
        final = round(iso_epoch(self.final_watermark) * 1000)
        con = duckdb.connect()
        parts = []
        for b, t in enumerate(self.slices):
            con.register(f"s{b}", t)
            parts.append(f"SELECT *, {late[b]} AS wm FROM s{b}")
        want = con.execute(f"""
            WITH ev AS ({' UNION ALL '.join(parts)}),
            w AS (SELECT epoch_us(ts) // {HOUR_US} * {HOUR_US} AS ws, * FROM ev)
            SELECT ws AS window_start, event_type, count(*) AS n_events,
                   sum(value) AS total_value
            FROM w
            WHERE ws + {HOUR_US} > wm * 1000            -- not late on arrival
            GROUP BY ws, event_type
            HAVING ws + {HOUR_US} <= {final} * 1000     -- closed by the final watermark
        """).fetchall()
        got = self.emitted()
        cols = ["window_start", "event_type", "n_events", "total_value"]
        g, e = rows_multiset(got, cols), rows_multiset(want, cols)
        if g != e:
            self.failures.append(
                f"emitted windows differ from the oracle: {len(got)} vs {len(want)} rows,"
                f" e.g. {sorted(g - e)[:2]} vs {sorted(e - g)[:2]}"
            )

    def emitted(self) -> list[tuple]:
        """The sink's rows, window start in epoch microseconds."""
        return [
            (int(r[0].replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000, r[1], r[2], r[3])
            for r in self.spark.read.parquet(self.sink).collect()
        ]

    def group_key(self, i: int):
        return ("batch", self.batches[i - self.first_op]["batch_id"])

    def io_dirs(self) -> list[str]:
        return [self.sink, self.ck]

    def live_rows(self) -> list:
        return [self.spark.read.parquet(self.sink)]

    def layer_metrics(self, ops: set[int]) -> dict[str, float]:
        rows = [self.batches[i - self.first_op] for i in sorted(ops)]
        out = {
            f"streaming.{k}": _median([r[k] for r in rows])
            for k in ("add_batch_s", "query_planning_s", "latest_offset_s",
                      "wal_commit_s", "commit_offsets_s")
        }
        out["streaming.state_rows"] = float(rows[-1]["state_rows"])
        out["streaming.state_mem_bytes"] = float(rows[-1]["state_mem_bytes"])
        out["streaming.checkpoint_bytes_per_batch"] = (
            stats.dir_bytes([self.ck]) / len(self.batches)
        )
        return out


def _as_dict(p) -> dict:
    import json

    return json.loads(p.json) if hasattr(p, "json") else p


# --- the declared workloads -------------------------------------------------


class Composite(Workload):
    """Two parts in one process and one Spark session, sharing the
    failure list; set-up is the sum of the parts' initial loads."""

    parts: tuple[type[Workload], ...] = ()

    def __init__(self, root: str, seed: int, sf: float | None, tracer: Tracer | None):
        super().__init__(root, seed, sf, tracer)
        self.members = [p(root, seed, sf, tracer) for p in self.parts]
        for m in self.members:
            m.failures = self.failures
        self.owner: dict[int, Workload] = {}

    def generate(self) -> None:
        for m in self.members:
            m.generate()

    def initial_load(self) -> float:
        total = 0.0
        for m in self.members:
            m.spark = self.spark
            t0 = time.perf_counter()
            took = m.initial_load()
            total += took if took is not None else time.perf_counter() - t0
        return total

    def check(self) -> None:
        for m in self.members:
            m.check()

    def io_dirs(self) -> list[str]:
        return [d for m in self.members for d in m.io_dirs()]

    def live_rows(self) -> list:
        return [df for m in self.members for df in m.live_rows()]

    def group_key(self, i: int):
        return self.owner[i].group_key(i) if i in self.owner else i

    def part_times(self, i: int, wall: float, cpu: float) -> dict[str, tuple]:
        return {self.owner[i].name: (wall, cpu)}

    def layer_metrics(self, ops: set[int]) -> dict[str, float | str]:
        out: dict[str, float | str] = {}
        for m in self.members:
            mine = {i for i in ops if self.owner.get(i, m) is m}
            out.update(m.layer_metrics(mine))
        return out


class IngestRounds(Composite):
    """One op is one load round over two tables, one after the other as
    ``Engine.sync_many`` runs them: a lineitem increment through clean,
    validate and sync, then a documents batch through curation, index
    match and index append."""

    name = "ingest_rounds"
    parts = (SyncRounds, DedupIngest)
    warmup = 1

    def land(self, i: int) -> int:
        return sum(m.land(i) for m in self.members)

    def op(self, i: int) -> int:
        rows, self.times = 0, {}
        for m in self.members:
            c0, t0 = stats.tree_cpu_s(os.getpid()), time.perf_counter()
            rows += m.op(i)
            t1 = time.perf_counter()
            self.times[m.name] = (t1 - t0, stats.tree_cpu_s(os.getpid()) - c0)
        return rows

    def part_times(self, i: int, wall: float, cpu: float) -> dict[str, tuple]:
        return self.times

    def verify_op(self, i: int) -> None:
        for m in self.members:
            m.verify_op(i)


class AnalyticsMix(Composite):
    """Registered TPC-H queries, then streaming micro-batches; each part
    warms up on its own and is measured for half of ``--seconds`` (the
    stream for at least one query run of SLICES_PER_RUN batches)."""

    name = "analytics_mix"
    parts = (QueryMix, StreamIngest)

    def run_ops(self, seconds: float, record) -> None:
        for m in self.members:
            m.first_op = len(self.owner)

            def mark(i, *args, m=m, **kwargs):
                self.owner[i] = m
                record(i, *args, **kwargs)

            m.run_ops(seconds / len(self.members), mark)
        self.landed_bytes = [b for m in self.members for b in m.landed_bytes]


WORKLOADS = {w.name: w for w in (IngestRounds, AnalyticsMix)}
