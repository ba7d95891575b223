"""Amortised write cost of bucketed merges, folds included.

Runs N consecutive seeded lineitem increments (2500 rows each: updates,
new keys, duplicates and deletes, from ``perfbench/gen.py``) through
``io.bucketed.partial_merge`` into a 60k-row, 16-bucket destination and
prints, per round and in total, the bytes written under the destination
per landed byte (the increment's and the deletion feed's parquet files),
plus the buckets whose base dir was rewritten (a fold, or every touched
bucket of a copy-on-write merge), and what a read of the destination
costs after each round: the wall time of a full read (every column of
every row, through ``read_bucketed``) and of a five-key probe (through
``read_buckets_for_keys``), each the median of three. The destination
is checked against a DuckDB replay of the same increments at the end.

    python tools/merge_amortised.py [--rounds 30] [--seed 1]

It imports ``fastetl_spark`` from the checkout it runs in (the
repository root, or ``PYTHONPATH``), so the same script measures any
commit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(root: str) -> dict[str, tuple[int, float]]:
    out = {}
    for d, _, names in os.walk(root):
        for f in names:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _wall(action) -> float:
    """Median wall seconds of three runs of ``action``."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        action()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--rounds", type=int, default=30)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]
    import duckdb
    import gen
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fastetl_spark.io.bucketed import (
        partial_merge,
        read_bucketed,
        read_buckets_for_keys,
        read_manifest,
        write_bucketed,
    )
    from fastetl_spark.session import get_spark

    keys = gen.LINEITEM_KEYS
    spark = get_spark("merge-amortised", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="merge-amortised-")
    try:
        t = gen.tpch_tables(0.01, args.seed)
        base_file = os.path.join(root, "base.parquet")
        gen.write_table(t["lineitem"], base_file)
        incs = gen.IncrementStream(t["lineitem"], t["part"].num_rows, t["supplier"].num_rows, args.seed)
        incs.next()  # the ten-row warm-up round: not measured
        dest = os.path.join(root, "dest")
        write_bucketed(spark.read.parquet(base_file), dest, keys, 16)
        con = duckdb.connect()
        con.execute(f"CREATE TABLE state AS SELECT * FROM read_parquet('{base_file}')")
        latest = Window.partitionBy(*keys).orderBy(F.desc("l_shipdate"))
        cols = t["lineitem"].column_names
        probe_file = os.path.join(root, "probe.parquet")
        gen.write_table(t["lineitem"].select(keys).slice(0, 5), probe_file)
        probe = spark.read.parquet(probe_file)

        def full_read():
            read_bucketed(spark, dest).agg(F.bit_xor(F.xxhash64(*cols))).collect()

        def key_probe():
            read_buckets_for_keys(spark, dest, probe).collect()

        landed_total = written_total = folds_total = 0
        reads, probes = [_wall(full_read)], [_wall(key_probe)]
        print(f"before: read_s {reads[0]:.3f} probe_s {probes[0]:.3f}")
        print("round landed_B written_B written/landed rebased_buckets rows_written read_s probe_s")
        for r in range(args.rounds):
            inc = incs.next()
            raw, dels = os.path.join(root, f"raw{r}.parquet"), os.path.join(root, f"del{r}.parquet")
            landed = gen.write_table(inc.raw, raw) + gen.write_table(inc.deletes, dels)
            before, bases = _files(dest), dict(read_manifest(spark, dest)["buckets"])
            rows = (
                spark.read.parquet(raw).withColumn("_rn", F.row_number().over(latest))
                .filter("_rn = 1").drop("_rn")
            )
            stats = partial_merge(spark, dest, rows, deleted_keys=spark.read.parquet(dels))
            written = sum(n for f, (n, mt) in _files(dest).items() if before.get(f, (0, 0))[1] != mt)
            after = read_manifest(spark, dest)["buckets"]
            rebased = sum(1 for b, d in after.items() if bases.get(b) != d)
            landed_total, written_total, folds_total = (
                landed_total + landed, written_total + written, folds_total + rebased
            )
            reads.append(_wall(full_read))
            probes.append(_wall(key_probe))
            print(
                r, landed, written, round(written / landed, 2), rebased, stats["rows_written"],
                f"{reads[-1]:.3f}", f"{probes[-1]:.3f}",
            )
            con.register("raw", inc.raw)
            con.register("dels", inc.deletes)
            con.execute(
                "CREATE OR REPLACE TEMP TABLE inc AS SELECT * FROM raw QUALIFY row_number() "
                "OVER (PARTITION BY l_orderkey, l_linenumber ORDER BY l_shipdate DESC) = 1"
            )
            for src in ("inc", "dels"):
                con.execute(
                    "DELETE FROM state WHERE (l_orderkey, l_linenumber) IN "
                    f"(SELECT (l_orderkey, l_linenumber) FROM {src})"
                )
                if src == "inc":
                    con.execute("INSERT INTO state SELECT * FROM inc")
        got = read_bucketed(spark, dest).toArrow()
        con.register("got", got)
        q = f"SELECT count(*), sum(hash({', '.join(cols)})::HUGEINT) FROM {{}}"
        ok = con.execute(q.format("got")).fetchone() == con.execute(q.format("state")).fetchone()
        print(
            f"total: landed {landed_total} B, written {written_total} B, "
            f"written/landed {written_total / landed_total:.2f}, "
            f"rebased buckets {folds_total}, oracle {'ok' if ok else 'MISMATCH'}"
        )
        print(
            f"reads after a round: full read median {statistics.median(reads[1:]):.3f} s "
            f"(max {max(reads[1:]):.3f}), five-key probe median "
            f"{statistics.median(probes[1:]):.3f} s (max {max(probes[1:]):.3f})"
        )
        return 0 if ok else 1
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
