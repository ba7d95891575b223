"""Traced-run tooling: span recorder, self time, event-log and
streaming-progress readers.

Spans are recorded from the benchmark's own files by wrapping public
functions of the program's modules; nothing inside the program changes.
A wrapped function is replaced on its defining module *and* on every
already-imported ``fastetl_spark`` module that bound the same object by
name (``from x import f`` copies), and restored at exit.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import json
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    result: object = None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: int | None = None
    _stack: list[int] = field(default_factory=list)
    _undo: list[tuple[object, str, object]] = field(default_factory=list)

    def span(self, name: str):
        """Context manager recording one span under the current one."""
        return _SpanCtx(self, name)

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int, result=None) -> None:
        self._stack.pop()
        s = self.spans[idx]
        s.end = time.perf_counter()
        s.result = result

    def wrap(self, owner, attr: str, name: str, keep=None) -> None:
        """Replace ``owner.attr`` (a module or class) with a recording
        wrapper. ``keep(result, args, kwargs)`` may return a small value
        to store on the span (e.g. a merge's touched-bucket count)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            idx = tracer._open(name)
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                kept = keep(result, args, kwargs) if keep and result is not None else None
                tracer._close(idx, kept)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)
        if isinstance(owner, type):
            return
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("fastetl_spark") or mod is owner:
                continue
            for other, value in list(vars(mod).items()):
                if value is orig:
                    self._undo.append((mod, other, orig))
                    setattr(mod, other, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def durations(self, name: str, ops: set[int] | None = None) -> list[float]:
        return [
            s.end - s.start for s in self.spans
            if s.name == name and (ops is None or s.op in ops)
        ]

    def results(self, name: str, ops: set[int] | None = None) -> list:
        return [
            s.result for s in self.spans
            if s.name == name and s.result is not None and (ops is None or s.op in ops)
        ]

    def self_times(self, name: str, ops: set[int] | None = None) -> list[float]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return [
            self_time(s, kids.get(i, []))
            for i, s in enumerate(self.spans)
            if s.name == name and (ops is None or s.op in ops)
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)
        return False


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its direct children cover
    (overlapping children are counted once)."""
    return (span.end - span.start) - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


# --- Spark event log --------------------------------------------------------


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_busy_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list = field(default_factory=list)  # epoch seconds


def parse_event_log(log_dir: str, group_of) -> dict[object, JobStats]:
    """Aggregate an event log by group. ``group_of(properties)`` maps a
    job's local properties (job group, streaming batch id, ...) to a
    group key, or None to ignore the job."""
    by_group: dict[object, JobStats] = {}
    stage_group: dict[int, object] = {}
    job_group: dict[int, object] = {}
    job_start: dict[int, float] = {}
    files = sorted(glob.glob(f"{log_dir}/*"))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = group_of(ev.get("Properties") or {})
                    if g is None:
                        continue
                    st = by_group.setdefault(g, JobStats())
                    st.jobs += 1
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(ev["Job ID"])
                    if g is not None:
                        by_group[g].job_intervals.append(
                            (job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None and ev["Stage Info"].get("Number of Tasks", 0):
                        by_group[g].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    st = by_group[g]
                    st.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.task_busy_s += m.get("Executor Run Time", 0) / 1000.0
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    st.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return by_group


def event_group(props: dict):
    """Group key of a job: ``n`` when submitted inside job group
    ``op-<n>``, ``("batch", n)`` when run for streaming micro-batch
    ``n``, else None."""
    g = props.get("spark.jobGroup.id") or ""
    if g.startswith("op-"):
        return int(g[3:])
    b = props.get("streaming.sql.batchId")
    return ("batch", int(b)) if b is not None else None


# --- Structured Streaming progress -----------------------------------------

PROGRESS_DURATIONS = {
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "latest_offset_s": "latestOffset",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
}


def progress_rows(progress: list) -> list[dict]:
    """Flatten ``StreamingQuery.recentProgress`` entries (data batches
    only) into dicts of seconds and state counters."""
    out = []
    for p in progress:
        if not p["numInputRows"]:
            continue
        d = p["durationMs"]
        row = {k: d.get(v, 0) / 1000.0 for k, v in PROGRESS_DURATIONS.items()}
        row["batch_id"] = p["batchId"]
        row["start"] = iso_epoch(p["timestamp"])
        row["trigger_s"] = d.get("triggerExecution", 0) / 1000.0
        row["rows"] = p["numInputRows"]
        ops = p.get("stateOperators") or [{}]
        row["state_rows"] = ops[0].get("numRowsTotal", 0)
        row["state_mem_bytes"] = ops[0].get("memoryUsedBytes", 0)
        row["watermark"] = (p.get("eventTime") or {}).get("watermark")
        out.append(row)
    return out


def iso_epoch(s: str) -> float:
    """Epoch seconds of a progress timestamp like 2024-01-01T00:00:00.123Z."""
    d = dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=dt.timezone.utc).timestamp()
