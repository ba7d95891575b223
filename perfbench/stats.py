"""Small statistics and filesystem helpers shared by the benchmark."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

# Ladder of reportable tail percentiles, highest last.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """The highest percentile of ``TAIL_LADDER`` that still leaves at
    least ``MIN_BEYOND`` of ``n`` samples strictly above its rank, or
    None when even the median does not (fewer than 20 samples)."""
    best = None
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:  # 100 - 99.9 < 0.1
            best = p
    return best


def op_tail(values: list[float]) -> tuple[float, float]:
    """(tail latency, percentile used). Below 20 samples no ladder
    percentile qualifies; the maximum is reported as percentile 100."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), 100.0
    return float(np.percentile(values, p)), p


CLK_TCK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")  # names as /proc cuts them


def _stat(path: str) -> list[bytes]:
    """The fields of a /proc stat file after the command name."""
    with open(path, "rb") as fh:
        return fh.read().rsplit(b")", 1)[1].split()


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and all processes
    below it (the JVM pyspark launched, its Python workers), from /proc,
    less the JVM's JIT compiler threads: compiling is warm-up, not the
    program's work. Exited children count through their parent's
    cutime/cstime. The JVM must keep a fixed set of compiler threads
    (-XX:-UseDynamicNumberOfCompilerThreads), or the CPU of one that
    exits between two samples would be counted."""
    total, jit = _tree_ticks(root)
    return (total - jit) / CLK_TCK


def settle_jit(root: int, limit_s: float = 5.0) -> None:
    """Wait, at most ``limit_s``, until the JIT compiler threads under
    ``root`` are idle (under 20% of one core for 0.25 s), so that
    measured ops start from the code the warm-up got compiled rather
    than from a compile queue drained by however much CPU the host
    happened to leave it."""
    end = time.perf_counter() + limit_s
    last = _tree_ticks(root)[1]
    while time.perf_counter() < end:
        time.sleep(0.25)
        now = _tree_ticks(root)[1]
        if (now - last) / CLK_TCK < 0.05:
            return
        last = now


def _tree_ticks(root: int) -> tuple[int, int]:
    """(all, JIT compiler threads') CPU ticks under ``root``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_stat(f"/proc/{name}/stat")[1])
            except OSError:
                continue
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    ticks = jit = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            ticks += sum(int(x) for x in _stat(f"/proc/{pid}/stat")[11:15])
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            task = f"/proc/{pid}/task/{tid}"
            try:
                with open(f"{task}/comm", "rb") as fh:
                    if fh.read().startswith(JIT_THREADS):
                        jit += sum(int(x) for x in _stat(f"{task}/stat")[11:13])
            except OSError:
                continue
    return ticks, jit


def walk(dirs: list[str]) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under ``dirs``."""
    out: dict[str, tuple[int, int]] = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) that are new or rewritten in ``after``."""
    files = nbytes = 0
    for p, meta in after.items():
        if before.get(p) != meta:
            files += 1
            nbytes += meta[0]
    return files, nbytes


def dir_bytes(dirs: list[str]) -> int:
    return sum(size for size, _ in walk(dirs).values())


def data_files(path: str) -> int:
    """Parquet data files under ``path``."""
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def files_per_bucket(path: str) -> float:
    """Parquet files per directory that holds any, under ``path``."""
    dirs = [r for r, _, fs in os.walk(path) if any(f.endswith(".parquet") for f in fs)]
    return data_files(path) / max(len(dirs), 1)


def parquet_rows(path: str) -> int:
    """Rows in the parquet files under ``path``, from their footers."""
    return sum(
        pq.read_metadata(os.path.join(r, f)).num_rows
        for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
