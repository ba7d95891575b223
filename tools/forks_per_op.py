"""Processes the engine's JVM starts per op, by command and by path.

Hadoop's local filesystem forks a child process for some calls: a
``chmod`` per file or directory created when libhadoop is absent, and,
through ``FileContext``, a ``readlink`` per side of a rename. Each
fork costs milliseconds of CPU that no Spark metric shows. This script
counts them with the JVM's own flight recorder: it starts a recording
on the session's JVM (``jcmd <pid> JFR.start``), runs the ops, dumps
the recording and reads its ``jdk.ProcessStart`` events with ``jfr``
(both ship with the JDK).

It runs the benchmark's ops on small generated inputs (the workload
classes of ``perfbench/workloads.py``, without a tracer):

- ingest: one sync round of a 2500-row lineitem increment into a
  60k-row, 16-bucket root, plus one 20-document batch through curation,
  index match and index append (after one warm-up round);
- stream: one ``availableNow`` query run of the windowed event counts
  over landed slices, one micro-batch per slice (after a warm-up run).

and prints process starts per op, grouped by command and by the
pattern of the path the command names (digits become ``N``, ids
``*``).

    python tools/forks_per_op.py [--rounds 2] [--slices 5] [--seed 1]

It imports ``fastetl_spark`` from the checkout it runs in (the
repository root, or ``PYTHONPATH``), so the same script measures any
commit.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Recorder:
    """A JFR recording of process starts on the JVM with pid ``pid``."""

    def __init__(self, pid: int, out_dir: str):
        self.pid, self.out_dir = pid, out_dir

    def _jcmd(self, *args: str) -> None:
        subprocess.run(["jcmd", str(self.pid), *args], check=True, capture_output=True)

    def start(self, name: str) -> None:
        self.name = name
        self._jcmd("JFR.start", f"name={name}", "settings=default")

    def stop(self) -> list[str]:
        """Stop the recording; the command lines of its process starts."""
        path = os.path.join(self.out_dir, f"{self.name}.jfr")
        self._jcmd("JFR.stop", f"name={self.name}", f"filename={path}")
        out = subprocess.run(
            ["jfr", "print", "--json", "--events", "jdk.ProcessStart", path],
            check=True, capture_output=True, text=True,
        ).stdout
        return [e["values"]["command"] for e in json.loads(out)["recording"]["events"]]


ID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def pattern(command: str, root: str) -> tuple[str, str]:
    """(program, path pattern) of one command line: the last argument
    under ``root`` (a ``file:`` URI or a plain path), relative to it,
    ids as ``*`` and digits as ``N``."""
    args = command.split()
    prog = os.path.basename(args[0]) if args else "?"
    paths = [a for a in (x.removeprefix("file:") for x in args[1:]) if a.startswith(root)]
    if not paths:
        return prog, "-"
    rel = os.path.relpath(paths[-1], root)
    return prog, re.sub(r"\d+", "N", ID.sub("*", rel))


def area(pat: str) -> str:
    """The directory a path pattern is under, cut before the first
    hidden or ``_``-prefixed component (``_temporary``, ``.crc``)."""
    parts = []
    for part in os.path.dirname(pat).split("/"):
        if part[:1] in ("_", "."):
            break
        parts.append(part)
    return "/".join(parts) or "-"


def report(title: str, commands: list[str], per: int, unit: str, root: str, top: int) -> None:
    print(f"\n{title}: {len(commands)} process starts over {per} {unit}(s), "
          f"{len(commands) / per:.1f} per {unit}")
    pats = [pattern(c, root) for c in commands]
    for prog, n in Counter(prog for prog, _ in pats).most_common():
        print(f"  {prog:<12} {n / per:8.1f}")
    print("  by directory:")
    for (prog, d), n in Counter((prog, area(pat)) for prog, pat in pats).most_common():
        print(f"    {n / per:8.1f}  {prog:<10} {d}")
    print(f"  by path pattern (top {top}):")
    for (prog, pat), n in Counter(pats).most_common(top):
        print(f"    {n / per:8.1f}  {prog:<10} {pat}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--rounds", type=int, default=2, help="measured ingest rounds")
    p.add_argument("--slices", type=int, default=5, help="micro-batches of the measured stream run")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--top", type=int, default=12, help="path patterns listed per op")
    args = p.parse_args(argv)
    sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]
    import workloads

    from fastetl_spark.session import get_spark

    spark = get_spark("forks-per-op", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="forks-per-op-")
    rec = Recorder(spark._jvm.java.lang.ProcessHandle.current().pid(), root)
    try:
        ingest = workloads.IngestRounds(root, args.seed, None, None)
        ingest.generate()
        ingest.spark = spark
        ingest.initial_load()
        for i in range(args.rounds + 1):  # round 0 warms up
            if i == 1:
                rec.start("ingest")
            ingest.land(i)
            ingest.op(i)
            ingest.verify_op(i)
        report("ingest round (sync + document batch)", rec.stop(), args.rounds, "round", root, args.top)
        if ingest.failures:
            print("ingest FAILED:", *ingest.failures, sep="\n  ")
            return 1

        from fastetl_spark.streaming.stream_ops import read_events_stream, windowed_event_counts

        stream = workloads.StreamIngest(root, args.seed, None, None)
        stream.generate()
        stream.spark = spark
        batches = 0
        for run, n in enumerate((workloads.WARMUP_SLICES, args.slices)):
            first = len(stream.slices)
            for i in range(first, first + n):
                stream.land(i)
            if run:
                rec.start("stream")
            q = (
                windowed_event_counts(read_events_stream(spark, stream.src, 1))
                .writeStream.format("parquet")
                .option("checkpointLocation", stream.ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start(stream.sink)
            )
            q.awaitTermination()
            if q.exception() is not None:
                print("stream FAILED:", q.exception())
                return 1
            batches = sum(1 for pr in q.recentProgress if pr.numInputRows > 0)
        report("availableNow micro-batch (windowed counts, query start included)",
               rec.stop(), batches, "micro-batch", root, args.top)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
