"""Benchmark of fastetl_spark: seeded closed-loop ETL workloads.

    python3 perfbench/run.py --workload ingest_rounds --seed 1 --seconds 5 --trace 0

Run from the repository root. One process drives the public API on
``local[N]`` (N = usable cores), one op at a time. Inputs are generated
from ``--seed`` into a fresh scratch directory under ``.bench_scratch/``
that is deleted at exit. Lines starting with ``#`` describe the run;
the last line is one JSON object: ``--trace 0`` reports the end-to-end
metrics BENCHMARK.json declares (``#`` lines show all of them),
``--trace 1`` the per-layer metrics of a traced run. The traced
run's overhead is its op_p50_s minus that of the latest untraced run of
the same workload, scale factor and --seconds in this checkout (kept in
``.bench_results/``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()

import stats  # noqa: E402 - the benchmark's own modules, next to this file
import tracing  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"  # fits a 15 GB box; the session default is 24g


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="scale factor of every part (default: each part's own; tests use 0.001)")
    return p.parse_args(argv)


def java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.splitlines()[0] if out else "unknown"


def loadavg() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(REPO, "fastetl_spark")):
        print(f"fastetl_spark not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    parent = os.path.join(REPO, ".bench_scratch")
    os.makedirs(parent, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=parent)
    try:
        return Run(args, root).main()
    finally:
        stop_jvm()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def stop_jvm() -> None:
    """Stop the Spark session and wait for the JVM pyspark launched."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, args, root: str):
        self.args, self.root = args, root
        self.n = usable_cores()
        self.ops: list[dict] = []
        self.gen_s = 0.0

    def env(self) -> None:
        """Keep every temp file of Python, the JVM and Spark in the run's
        scratch root, and size the driver heap to the box."""
        tmp = os.path.join(self.root, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "spark-local")
        os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.n)

    def session(self):
        from fastetl_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads",  # see stats.tree_cpu_s
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.root, "eventlog")
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.event_dir
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        spark = get_spark("perfbench", master=f"local[{self.n}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def main(self) -> int:
        a = self.args
        self.env()
        capture = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "nproc": self.n, "master": f"local[{self.n}]",
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "python": platform.python_version(),
            "loadavg_start": loadavg(),
        }
        ticks0 = cpu_ticks()
        tracer = tracing.Tracer() if a.trace else None
        wl = workloads.WORKLOADS[a.workload](self.root, a.seed, a.sf, tracer)
        capture["sf"] = {m.name: m.sf for m in wl.members}

        t0 = time.perf_counter()
        wl.generate()
        self.gen_s += time.perf_counter() - t0

        # set-up: session start (from process start, minus input
        # generation) plus the initial load
        import pyspark

        spark = wl.spark = self.session()
        session_s = time.perf_counter() - T_PROCESS - self.gen_s
        t0 = time.perf_counter()
        took = wl.initial_load()
        load_s = took if took is not None else time.perf_counter() - t0
        capture["pyspark"] = pyspark.__version__
        if tracer:
            install_spans(tracer)

        self.io = wl.io_dirs()
        self.prev_walk = None
        wl.run_ops(a.seconds, lambda *x, **k: self.record(wl, *x, **k))
        if tracer:
            tracer.restore()

        failed_ops = {o["i"] for o in self.ops if not o["ok"]}
        n_end = len(wl.failures)
        try:
            wl.check()
        except Exception as e:  # noqa: BLE001 - a crashed check is a failed check
            wl.failures.append(f"end-of-run check raised {type(e).__name__}: {e}")
        end_failed = len(wl.failures) > n_end
        measured = [o for o in self.ops if not o["warm"] and o["ok"]]
        ref = os.path.join(self.root, "space_ref")
        space_amp = 0.0
        try:
            for k, df in enumerate(wl.live_rows()):
                df.write.parquet(os.path.join(ref, str(k)))
            space_amp = stats.dir_bytes(self.io) / stats.dir_bytes([ref])
        except Exception as e:  # noqa: BLE001 - unreadable output is a failed check
            wl.failures.append(f"rewriting the live rows raised {type(e).__name__}")
            end_failed = True
        layers = {}
        if tracer:
            layers = self.layers(wl, tracer, measured, session_s, load_s)
        spark.stop()
        capture["loadavg_end"] = loadavg()
        capture["java"] = java_version()
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        capture["cpu_steal_pct"] = round(100.0 * steal / total, 2) if total else "n/a"

        attempted = len(self.ops)
        failed = min(len(failed_ops) + (1 if end_failed else 0), attempted)
        return self.report(wl, capture, attempted, failed, measured, session_s,
                           load_s, space_amp, layers)

    def record(self, wl, i, op, verify, wall=None, rows=None, start=None,
               warm=False, cpu=None) -> None:
        """Run op ``i`` and its check, or (``op`` None) account for an op
        the workload ran and timed itself: ``wall`` seconds from epoch
        ``start``, ``cpu`` CPU seconds. A ``warm`` op is left out of the
        op metrics."""
        ok = True
        if op is None:
            end = start + wall
        else:
            cpu0 = stats.tree_cpu_s(os.getpid())
            sc = wl.spark.sparkContext
            if wl.tracer:
                wl.tracer.op = i
            n_fail = len(wl.failures)
            sc.setJobGroup(f"op-{i}", f"{wl.name} op {i}")
            t0 = time.perf_counter()
            try:
                rows = op(i)
            except Exception as e:  # noqa: BLE001 - count, keep the loop going
                wl.failures.append(f"op {i} raised {type(e).__name__}: {e}")
                ok, rows = False, 0
            wall = time.perf_counter() - t0
            end = time.time()
            cpu = stats.tree_cpu_s(os.getpid()) - cpu0
            sc.setLocalProperty("spark.jobGroup.id", None)
            if ok:
                try:
                    verify(i)
                except Exception as e:  # noqa: BLE001 - a crashed check is a failure
                    wl.failures.append(f"op {i} check raised {type(e).__name__}: {e}")
                ok = len(wl.failures) == n_fail
        now = stats.walk(self.io)
        files, nbytes = stats.written_since(self.prev_walk or {}, now)
        self.prev_walk = now
        self.ops.append({
            "i": i, "wall": wall, "rows": rows, "ok": ok, "warm": warm, "files": files,
            "bytes": nbytes, "span": (end - wall, end),
            "parts": wl.part_times(i, wall, cpu) if ok else {},
        })

    def layers(self, wl, tracer, measured, session_s, load_s) -> dict[str, float]:
        med = statistics.median
        traced = {o["i"] for o in measured}
        p50 = op_p50(measured)
        out = {
            "session.start_s": session_s,
            "session.initial_load_s": load_s,
            "bench.gen_s": self.gen_s,
            "trace.op_p50_s": p50,
        }
        untraced = last_untraced_p50(self.args)
        out["trace.overhead_s"] = (
            p50 - untraced if untraced is not None else
            "no untraced run of this workload, --sf and --seconds in this checkout yet"
        )
        out.update(wl.layer_metrics(traced))
        mats = tracer.durations("checkpointing.materialize", traced)
        out["checkpointing.materialize_calls"] = len(mats) / max(len(traced), 1)
        out["checkpointing.materialize_s"] = med(mats) if mats else 0.0
        # Spark engine: per op, from the event log (written at stop)
        wl.spark.stop()  # flushes the event log
        groups = tracing.parse_event_log(self.event_dir, tracing.event_group)
        per = [groups.get(wl.group_key(o["i"]), tracing.JobStats()) for o in measured]
        k = max(len(per), 1)
        busy = sum(g.task_busy_s for g in per)
        wall = sum(o["wall"] for o in measured) or 1.0
        gap = med([
            o["wall"] - tracing.covered(g.job_intervals, *o["span"])
            for o, g in zip(measured, per)
        ]) if per else 0.0
        out.update({
            "spark.jobs_per_op": sum(g.jobs for g in per) / k,
            "spark.stages_per_op": sum(g.stages for g in per) / k,
            "spark.tasks_per_op": sum(g.tasks for g in per) / k,
            "spark.task_busy_s": busy / k,
            "spark.core_util": busy / (wall * self.n),
            "spark.driver_gap_s": gap,
            "spark.input_bytes": sum(g.input_bytes for g in per) / k,
            "spark.output_bytes": sum(g.output_bytes for g in per) / k,
            "spark.shuffle_write_bytes": sum(g.shuffle_write_bytes for g in per) / k,
            "spark.spill_bytes": sum(g.spill_bytes for g in per) / k,
            "spark.gc_s": sum(g.gc_s for g in per) / k,
            "fs.files_created": sum(o["files"] for o in self.ops) / max(len(self.ops), 1),
            "fs.bytes_written": sum(o["bytes"] for o in self.ops) / max(len(self.ops), 1),
        })
        return out

    def report(self, wl, capture, attempted, failed, measured, session_s,
               load_s, space_amp, layers) -> int:
        p50 = op_p50(measured)
        cpu = op_cpu(measured)
        tails = {part: stats.op_tail(xs) for part, xs in part_times(measured).items()}
        tail = sum(t for t, _ in tails.values())  # the same sum as op_p50_s
        rows_per_s = sum(o["rows"] for o in measured) / (sum(o["wall"] for o in measured) or 1)
        landed = sum(wl.landed_bytes)
        write_amp = sum(o["bytes"] for o in self.ops) / landed if landed else 0.0
        e2e = {
            "setup_s": (session_s + load_s, "s"),
            "op_p50_s": (p50, "s"),
            "op_cpu_s": (cpu, "s"),
            "op_tail_s": (tail, "s"),
            "rows_per_s": (rows_per_s, "rows/s"),
            "write_amp": (write_amp, "ratio"),
            "space_amp": (space_amp, "ratio"),
        }
        failed_ratio = failed / max(attempted, 1)
        for k, v in capture.items():
            print(f"# {k}: {v}")
        print(f"# gen_s: {self.gen_s:.3f} (input generation, outside every metric)")
        print(f"# setup: session_start_s {session_s:.3f} + initial_load_s {load_s:.3f}")
        n_warm = sum(1 for o in self.ops if o["warm"])
        print(f"# ops: {attempted} attempted, {len(measured)} measured after {n_warm} warm-up")
        print("# op walls (s): " + " ".join(f"{o['wall']:.3f}" for o in self.ops))
        cpus = part_times(measured, CPU)
        for part, xs in part_times(measured).items():
            t, pct = tails[part]
            print(f"# {part}: {len(xs)} measured ops, p50 {statistics.median(xs):.4f} s,"
                  f" tail p{pct:g} {t:.4f} s, cpu per op {statistics.fmean(cpus[part]):.4f} s")
        for k, (v, unit) in e2e.items():
            print(f"# {k} = {v:.6g} {unit}")
        print(f"# failed_ratio = {failed_ratio:.6g} ratio")
        for f in wl.failures:
            print(f"# FAILED: {f}")
        if self.args.trace:
            metrics = per_layer_metrics(layers, write_amp, space_amp)
        else:
            metrics = {
                m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                for m in declared("end_to_end")
            }
            save_untraced_p50(self.args, p50)
        print(json.dumps({
            "correct": not wl.failures and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0


WALL, CPU = 0, 1


def part_times(ops: list[dict], k: int = WALL) -> dict[str, list[float]]:
    """Wall (or CPU) seconds of ``ops`` by the part that spent them."""
    out: dict[str, list[float]] = {}
    for o in ops:
        for part, t in o["parts"].items():
            out.setdefault(part, []).append(t[k])
    return out


def op_p50(ops: list[dict]) -> float:
    """op_p50_s: the sum over the workload's parts of the median wall
    of that part's ops, i.e. the median latency of a round that runs one
    op of each part. Each part's median is over its own ops, so how many
    ops of each part a run measures does not move it."""
    return sum(statistics.median(xs) for xs in part_times(ops).values())


def op_cpu(ops: list[dict]) -> float:
    """op_cpu_s: the sum over the workload's parts of the CPU seconds
    per op of that part (its total over its op count), i.e. the CPU cost
    of a round that runs one op of each part."""
    return sum(statistics.fmean(xs) for xs in part_times(ops, CPU).values())


# --- traced run -------------------------------------------------------------

RESULTS = os.path.join(REPO, ".bench_results")


def _untraced_file(args) -> str:
    return os.path.join(RESULTS, f"{args.workload}.json")


def _run_key(args) -> str:
    return f"sf={args.sf},seconds={args.seconds:g}"


def _untraced_records(args) -> dict:
    try:
        with open(_untraced_file(args), encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def save_untraced_p50(args, p50: float) -> None:
    """Keep the latest untraced op_p50_s per scale factor and --seconds,
    with its seed: the base of trace.overhead_s."""
    records = _untraced_records(args)
    records[_run_key(args)] = {"seed": args.seed, "op_p50_s": p50}
    os.makedirs(RESULTS, exist_ok=True)
    with open(_untraced_file(args), "w", encoding="utf-8") as fh:
        json.dump(records, fh)


def last_untraced_p50(args) -> float | None:
    """That op_p50_s for this run's scale factor and --seconds (any
    seed), or None."""
    rec = _untraced_records(args).get(_run_key(args))
    if not isinstance(rec, dict) or "op_p50_s" not in rec:
        return None
    print(f"# trace.overhead_s base: untraced run with seed {rec.get('seed')}")
    return float(rec["op_p50_s"])


def install_spans(tracer) -> None:
    """Wrap the program's public functions named in BENCHMARK.json."""
    from fastetl_spark import checkpointing
    from fastetl_spark.api import Engine
    from fastetl_spark.io import bucketed
    from fastetl_spark.meta.load_info import LoadInfo
    from fastetl_spark.operators.sync import WatermarkStore

    def probe_ratio(df, args, kwargs):
        return len(df.inputFiles()) / max(stats.data_files(args[1]), 1)

    tracer.wrap(Engine, "sync", "api.sync")
    tracer.wrap(WatermarkStore, "get", "sync.watermark_get")
    tracer.wrap(WatermarkStore, "set", "sync.watermark_set")
    tracer.wrap(LoadInfo, "save", "load_info.save")
    tracer.wrap(checkpointing, "materialize", "checkpointing.materialize")
    tracer.wrap(bucketed, "partial_merge", "bucketed.partial_merge", keep=lambda r, a, k: r)
    tracer.wrap(bucketed, "read_bucketed", "bucketed.read_bucketed")
    tracer.wrap(bucketed, "read_buckets_for_keys", "bucketed.read_buckets_for_keys",
                keep=probe_ratio)
    tracer.wrap(bucketed, "compact_buckets", "bucketed.compact_buckets",
                keep=lambda r, a, k: len(r))


def declared(kind: str) -> list[dict]:
    """The ``end_to_end`` or ``per_layer`` metrics of BENCHMARK.json."""
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)[kind]


def per_layer_metrics(layers: dict, write_amp: float, space_amp: float) -> dict:
    """Every per_layer metric of BENCHMARK.json. One the workload does
    not exercise, or could not measure (a string value says why), reads
    0 and is named with its reason on a '# absent' line."""
    layers = dict(layers, **{"fs.write_amp": write_amp, "fs.space_amp": space_amp})
    out = {}
    for m in declared("per_layer"):
        v = layers.get(m["name"], "layer not exercised by this workload")
        if isinstance(v, str):
            print(f"# absent: {m['name']}: {v}")
            v = 0.0
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return out


if __name__ == "__main__":
    sys.exit(main())
