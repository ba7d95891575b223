"""Misra-Gries heavy hitters: the mergeable frequent-items summary
(Misra & Gries 1982; merge rule from Agarwal et al., "Mergeable
Summaries", PODS 2012). The deletion-based counterpart of the
count-min sketch already in operators/analytics.py: bounded memory
(k counters per partition), deterministic, and the per-partition
summaries merge by plain count addition — so the distributed form is
one mapInPandas pass + one map-side-combinable groupBy.

Guarantee: for every key, est_count <= true_count <= est_count +
err_bound, where err_bound is the total decrement mass — any key with
true frequency > err_bound is guaranteed present in the summary.

This is one of the few operators with a legitimate imperative
per-partition core (maintain k counters across a partition's rows), so
it uses Arrow-batched mapInPandas — state lives across batches inside
one partition iterator, never across partitions. No counterpart in the
reference.

Gate strategy (the established exact-twin pattern, cf. CMS/HLL/GK):
`heavy_hitters_exhaustive` runs the SAME mapInPandas pipeline with k
larger than the corpus vocabulary, so no decrement ever fires and the
summary degrades to exact counts — hash-gated against a plain GROUP BY
oracle. The production variant (k=8, real trimming) is registered
rows-only; its guarantee is property-tested in tests/test_heavy_hitters.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastetl_spark.io.readers import ensure_parallelism, read_table
from fastetl_spark.registry import query

_HH_SUMMARY_SCHEMA = "token STRING, cnt BIGINT, dec BIGINT"
_HH_EXHAUSTIVE_K = 4096  # > corpus vocabulary => zero decrements => exact
_HH_PRODUCTION_K = 8
_HH_TOPK = 20


def _mg_partition(k: int):
    """Build the per-partition Misra-Gries pass: k counters maintained
    across the partition's Arrow batches; emits (token, cnt) summary
    rows plus one (NULL, 0, dec) marker carrying the partition's total
    decrement mass."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        decrements = 0
        for pdf in batches:
            for tok, c in pdf.groupby("token", sort=False)["token"].count().items():
                c = int(c)
                if tok in counters:
                    counters[tok] += c
                elif len(counters) < k:
                    counters[tok] = c
                else:
                    # batch-decrement: remove min(c, min_counter) from
                    # every counter (and from the incoming count) — the
                    # standard batched MG step, equivalent to c rounds
                    # of the textbook one-at-a-time decrement
                    while c > 0:
                        if len(counters) < k:
                            counters[tok] = c
                            break
                        m = min(counters.values())
                        step = min(c, m)
                        decrements += step
                        c -= step
                        counters = {
                            t: v - step for t, v in counters.items() if v > step
                        }
        out = pd.DataFrame(
            {
                "token": list(counters.keys()) + [None],
                "cnt": list(counters.values()) + [0],
                "dec": [0] * len(counters) + [decrements],
            }
        )
        yield out

    return run


def misra_gries_topk(
    tokens: DataFrame, k: int, topk: int = _HH_TOPK
) -> DataFrame:
    """Top-`topk` heavy hitters from per-partition MG(k) summaries.

    Returns (token, est_count, err_bound, rank): est_count is the
    summed per-partition counter (an UNDERestimate), err_bound the
    global decrement mass (so true <= est + err for every non-null
    key, found or not; null keys are excluded up front). Shape: one
    narrow scan + one groupBy(token) on at most
    k * n_partitions summary rows — the shuffle is summary-sized, not
    data-sized, which is the entire point at 100 TB. Set k above the
    expected distinct count to get exact results from the same
    pipeline."""
    from fastetl_spark.checkpointing import materialize

    # null keys are EXCLUDED by contract (the NULL summary row carries
    # the decrement marker; pandas groupby would silently drop them
    # from the counters otherwise — make the exclusion explicit)
    tokens = tokens.filter(F.col("token").isNotNull())
    # the summary frame feeds two consumers (candidates + error bound):
    # materialize so the token scan + MG pass runs once
    summaries = materialize(
        tokens.mapInPandas(_mg_partition(k), _HH_SUMMARY_SCHEMA)
    )
    cand = (
        summaries.filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("cnt").alias("est_count"))
    )
    err = summaries.agg(F.sum("dec").alias("err_bound"))
    top = (
        cand.crossJoin(F.broadcast(err))
        .orderBy(F.desc("est_count"), "token")
        .limit(topk)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("est_count"), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "token", "est_count", "err_bound", "rank"
    )


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return d.select(F.explode(F.split("text", " ")).alias("token"))


_HH_EXHAUSTIVE_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS est_count
  FROM toks GROUP BY token
)
SELECT token, est_count, CAST(0 AS BIGINT) AS err_bound,
       CAST(row_number() OVER (ORDER BY est_count DESC, token) AS BIGINT) AS rank
FROM counts
ORDER BY est_count DESC, token
LIMIT {_HH_TOPK}
"""


@query("heavy_hitters_exhaustive", _HH_EXHAUSTIVE_SQL)
def heavy_hitters_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Misra-Gries pipeline under the exact gate: k={_HH_EXHAUSTIVE_K}
    exceeds the corpus vocabulary, so no partition ever decrements and
    the merged summary IS the exact token frequency table — the oracle
    is a plain GROUP BY. Proves the summary/merge/rank machinery; the
    bounded-k production variant is heavy_hitters_misra_gries."""
    return misra_gries_topk(_doc_tokens(spark, sf_dir), _HH_EXHAUSTIVE_K)


@query("heavy_hitters_misra_gries")  # bounded k: estimates depend on partitioning
def heavy_hitters_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production Misra-Gries: k={_HH_PRODUCTION_K} counters per
    partition regardless of vocabulary size. est_count depends on the
    partition layout (any MG summary does), so this registers rows-only;
    the est <= true <= est + err_bound guarantee and the exact-twin
    equivalence are unit-tested."""
    return misra_gries_topk(_doc_tokens(spark, sf_dir), _HH_PRODUCTION_K)
