"""The benchmark's own tests: generators, statistics, tracing, and a
smoke run of every workload at sf 0.001 with all correctness checks.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def test_same_seed_same_rows_and_other_seed_differs():
    a, b, c = (gen.tpch_tables(0.001, s) for s in (7, 7, 8))
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])

    def increments(seed):
        t = gen.tpch_tables(0.001, seed)
        s = gen.IncrementStream(t["lineitem"], t["part"].num_rows, t["supplier"].num_rows, seed)
        return [s.next() for _ in range(3)]

    for x, y in zip(increments(7), increments(7)):
        assert x.raw.equals(y.raw) and x.deletes.equals(y.deletes)
    assert gen.event_slice(7, 3, 100).equals(gen.event_slice(7, 3, 100))
    docs = gen.documents(100, 7)
    assert docs.equals(gen.documents(100, 7))
    assert (gen.DocBatchStream(docs, 20, 7).next().docs
            .equals(gen.DocBatchStream(docs, 20, 7).next().docs))


def test_increments_plant_what_they_claim():
    t = gen.tpch_tables(0.001, 3)
    s = gen.IncrementStream(t["lineitem"], t["part"].num_rows, t["supplier"].num_rows, 3)
    base_max = t["lineitem"].column("l_shipdate").cast("int64").to_pylist()
    wm = max(base_max)
    for r in range(6):
        inc = s.next()
        assert inc.raw.num_rows == gen.increment_size(r)
        ship = inc.raw.column("l_shipdate").cast("int64").to_pylist()
        assert min(ship) > wm  # every round lies above the last watermark
        wm = max(ship)
        keys = list(zip(inc.raw.column("l_orderkey").to_pylist(),
                        inc.raw.column("l_linenumber").to_pylist()))
        assert len(keys) - len(set(keys)) == inc.n_dups


@pytest.mark.parametrize(
    "n, pct",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        assert round(n * (100 - pct) / 100, 6) >= stats.MIN_BEYOND


def test_op_tail_falls_back_to_max_below_twenty_samples():
    assert stats.op_tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    values = [float(v) for v in range(1, 41)]
    assert stats.op_tail(values) == (30.25, 75.0)


def test_op_figures_sum_each_parts_own_statistic():
    import run

    def op(part, wall, cpu):
        return {"parts": {part: (wall, cpu)}}

    ops = [op("q", 1.0, 2.0), op("q", 3.0, 4.0), op("q", 2.0, 9.0),
           op("s", 0.5, 1.0), op("s", 0.7, 1.0)]
    assert run.op_p50(ops) == pytest.approx(2.0 + 0.6)  # medians, one per part
    assert run.op_cpu(ops) == pytest.approx(5.0 + 1.0)  # CPU per op, one per part
    # how many ops of a part a run measures does not move its figure
    assert run.op_p50(ops + [op("s", 0.6, 1.0)] * 4) == pytest.approx(2.6)


def test_tree_cpu_counts_a_busy_child():
    before = stats.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert stats.tree_cpu_s(os.getpid()) - before >= 0.4


def test_self_time_subtracts_union_of_direct_children():
    t = tracing.Tracer()
    parent = tracing.Span("p", 0.0, 10.0, None, 0)
    kids = [
        tracing.Span("a", 1.0, 3.0, 0, 0),
        tracing.Span("b", 2.0, 5.0, 0, 0),    # overlaps a: counted once
        tracing.Span("c", 8.0, 12.0, 0, 0),   # clipped at the parent's end
    ]
    grandchild = tracing.Span("g", 1.5, 2.5, 1, 0)
    t.spans = [parent, *kids, grandchild]
    assert tracing.self_time(parent, kids) == pytest.approx(10 - 4 - 2)
    assert t.self_times("p") == [pytest.approx(4.0)]
    assert t.self_times("a") == [pytest.approx(1.0)]


def test_wrap_records_nested_spans_and_restores():
    import types

    mod = types.ModuleType("fastetl_spark._perfbench_probe")
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    sys.modules[mod.__name__] = mod
    try:
        t = tracing.Tracer()
        orig = mod.inner
        t.wrap(mod, "inner", "inner", keep=lambda r, a, k: r)
        t.wrap(mod, "outer", "outer")
        t.op = 5
        assert mod.outer(1) == 4
        assert [s.name for s in t.spans] == ["outer", "inner"]
        assert t.spans[1].parent == 0 and t.spans[1].op == 5
        assert t.results("inner") == [2]
        t.restore()
        assert mod.inner is orig
    finally:
        del sys.modules[mod.__name__]


def test_overhead_base_only_from_a_run_of_the_same_scale_and_length(tmp_path, monkeypatch):
    import types

    import run

    monkeypatch.setattr(run, "RESULTS", str(tmp_path))
    default = types.SimpleNamespace(workload="w", sf=None, seconds=10.0, seed=1)
    smoke = types.SimpleNamespace(workload="w", sf=0.001, seconds=1.0, seed=3)
    assert run.last_untraced_p50(default) is None
    run.save_untraced_p50(default, 1.5)
    run.save_untraced_p50(smoke, 0.2)  # a smoke run does not replace it
    assert run.last_untraced_p50(types.SimpleNamespace(**{**vars(default), "seed": 9})) == 1.5
    assert run.last_untraced_p50(smoke) == 0.2
    assert run.last_untraced_p50(types.SimpleNamespace(**{**vars(default), "seconds": 20.0})) is None


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)[kind]


def _run(workload: str, *extra: str, code: str | None = None) -> dict:
    args = ["--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", "0", "--sf", "0.001", *extra]
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), *args]
    if code:
        cmd = [sys.executable, "-c", code, *args]
    out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["ingest_rounds", "analytics_mix"])
def test_smoke_every_workload_passes_its_checks(workload):
    res = _run(workload)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in _declared("end_to_end")}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload, exercised", [
    ("ingest_rounds", ["bucketed.partial_merge_s", "dedup_index.append_s", "plans.curate_s"]),
    ("analytics_mix", ["relational.exec_s", "streaming.add_batch_s"]),
])
def test_smoke_traced_run_reports_every_per_layer_metric(workload, exercised):
    res = _run(workload, "--trace", "1")
    assert set(res["metrics"]) == {m["name"] for m in _declared("per_layer")}
    for name in ["spark.jobs_per_op", *exercised]:
        assert res["metrics"][name]["value"] > 0, name


# Each patch corrupts one result (of the program, or of the oracle it is
# compared with) before the benchmark checks it.
CORRUPT = {
    "query_result": """
check = workloads.QueryMix.verify_op
def corrupt(self, i):
    if self.result and not getattr(self, "corrupted", False):
        self.result, self.corrupted = self.result[1:], True  # drop one row
    check(self, i)
workloads.QueryMix.verify_op = corrupt
""",
    "sync_oracle_state": """
check = workloads.SyncRounds.verify_op
def corrupt(self, i):
    check(self, i)
    if i == 0:  # drop one row from DuckDB's replayed state
        self.oracle.execute("DELETE FROM state WHERE rowid = (SELECT min(rowid) FROM state)")
workloads.SyncRounds.verify_op = corrupt
""",
    "stream_sink_row": """
emitted = workloads.StreamIngest.emitted
workloads.StreamIngest.emitted = lambda self: emitted(self)[1:]  # drop one emitted row
""",
}
PRELUDE = f"""
import sys
sys.path.insert(0, {BENCH!r})
import run, workloads
"""


@pytest.mark.parametrize("workload, patch", [
    ("analytics_mix", "query_result"),
    ("analytics_mix", "stream_sink_row"),
    ("ingest_rounds", "sync_oracle_state"),
])
def test_smoke_corrupted_result_is_flagged(workload, patch):
    code = PRELUDE + CORRUPT[patch] + "sys.exit(run.main(sys.argv[1:]))\n"
    res = _run(workload, code=code)
    assert not res["correct"]
    assert res["failed"] >= 1
