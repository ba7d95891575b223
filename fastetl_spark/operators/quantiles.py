"""Shared per-key quantile-boundary core — exact and scale paths.

Three operators need per-key order-statistic boundaries: the drift
report (decile bins), winsorization (p5/p95 clamp bounds) and
quantile-mapping normalization (an L-level grid). The exact form is a
per-key sort window — correct and hash-gateable, but a low-cardinality
key column (events has ~5 event_types) makes it a skewed-key
near-single-partition sort at 100x. This module is the one place both
forms live:

- ``exact=True``: one rank window per key, boundary = element at the
  DISC rank ceil(p*n) — computed as the exact integer
  ``(num*n + den - 1) div den``. This is precisely the element Spark's
  ``percentile_approx`` returns when its accuracy covers the group
  (verified: its internal double ``ceil(p*n)`` never diverges from the
  integer form for the rational probs used here, any n <= 50M), which
  is what makes the two modes EQUIVALENCE-TESTABLE instead of merely
  "close".
- ``exact=False``: ``percentile_approx(value, probs, accuracy)`` in a
  plain groupBy — partial-aggregated sketches, NO sort window, no
  skewed-key exchange; rank error <= n/accuracy per group. This is the
  plan that survives a 1000-executor scale-up.

No counterpart in the reference (its profiling is load-row-counts
only, fast_etl.py load_info); supports SURVEY §2's LLM-data north star
(distribution monitoring / clamping / rank normalization at corpus
scale).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def covering_accuracy_for(df: DataFrame, key_col: str) -> int:
    """The percentile_approx accuracy that makes sketch picks BIT-EQUAL
    to the exact DISC element: the query side tolerates a rank error of
    n/accuracy, so the pick can shift one element until that error
    drops BELOW half a rank — accuracy >= 2n+1 makes it 0 (measured: at
    sf0.1 accuracy=n mismatches the disc element, 2n+1 is bit-equal).

    This is ONE EAGER per-key count job (map-side combinable, scalar
    result) — a full extra scan of ``df`` at CALL time, even if the
    downstream sketch result is never collected. When the same frame
    feeds several sketch calls (drift + winsorize + normalize), derive
    once here and pass the value as ``accuracy=`` to each. Spark caps
    the accuracy literal at Int.MaxValue (and the sketch holds
    O(accuracy) samples for its largest key), so the derivation clamps
    there: keys past ~2^30 rows get the sketch ESTIMATE (rank error <
    n/2^31) instead of an AnalysisException — at that size exactness
    would mean materializing the key anyway, which is the exact mode.
    Rows with a NULL key count toward no key (callers pre-filter)."""
    mx = (
        df.groupBy(F.col(key_col).alias("__k"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__m"))
        .first()["__m"]
    )
    return min(max(2 * int(mx or 0) + 1, 10_000), 2**31 - 1)


def covering_accuracy(df: DataFrame, key_col: str, value_col: str) -> int:
    """``covering_accuracy_for`` over the rows the sketch paths count
    (non-NULL key and value). Derive it once per frame and pass it as
    ``accuracy=`` to each of drift_bins, winsorize_bounds and
    quantile_map_values on that frame; ``accuracy=None`` re-scans the
    input in every call."""
    base = df.filter(F.col(value_col).isNotNull() & F.col(key_col).isNotNull())
    return covering_accuracy_for(base, key_col)


def group_quantile_bounds(
    df: DataFrame,
    key_col: str,
    value_col: str,
    probs: list[tuple[int, int]],
    order_col: str | None = None,
    exact: bool = True,
    accuracy: int | None = 10_000,
) -> DataFrame:
    """Per-key quantile boundaries: one row per key with an array
    column ``bounds`` (double, len(probs)) holding the quantile of
    ``value_col`` at each (num, den) rational prob, in the given order.

    Exact mode takes the element at DISC rank ceil(num*n/den) via a
    rank window (``order_col`` only makes row_number deterministic; the
    VALUE at a rank is tie-order-invariant). Approx mode delegates to
    percentile_approx — identical results whenever ``accuracy`` >= the
    largest group, rank error <= n/accuracy otherwise.
    ``accuracy=None`` DERIVES a covering accuracy (max per-key non-NULL
    count, one bounded scalar aggregation) so the bit-equality
    precondition is enforced instead of assumed — the default for the
    gated sketch twins, which would otherwise silently stop matching
    their exact oracles once a key outgrows a hardcoded constant. Keys
    whose rows are all NULL-valued never appear; callers LEFT-join and
    supply their own fallback (the drift report uses +inf)."""
    for num, den in probs:
        if not (0 < num <= den):
            raise ValueError(f"prob must be in (0, 1]: {num}/{den}")
    v = F.col(value_col).cast("double")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("__k"), v.alias("__v"),
        *( [F.col(order_col).alias("__o")] if order_col else [] ),
    )
    if not exact:
        if accuracy is None:
            accuracy = covering_accuracy_for(base, "__k")
        plist = [Fraction(num, den) for num, den in probs]
        agg = base.groupBy("__k").agg(
            F.percentile_approx(
                "__v", [float(p) for p in plist], accuracy
            ).alias("bounds")
        )
        return agg.select(F.col("__k").alias(key_col), "bounds")
    order = ["__v", "__o"] if order_col else ["__v"]
    w = Window.partitionBy("__k").orderBy(*order)
    wn = Window.partitionBy("__k")
    ranked = base.select(
        "__k",
        "__v",
        F.row_number().over(w).alias("__rk"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    picks = [
        F.min(
            F.when(
                F.col("__rk")
                == F.expr(f"({num} * __n + {den - 1}) div {den}"),
                F.col("__v"),
            )
        ).alias(f"__b{i}")
        for i, (num, den) in enumerate(probs)
    ]
    return (
        ranked.groupBy("__k")
        .agg(*picks)
        .select(
            F.col("__k").alias(key_col),
            F.array(*[F.col(f"__b{i}") for i in range(len(probs))]).alias(
                "bounds"
            ),
        )
    )


def bin_by_bounds(value: Column, bounds: Column, strict: bool = True) -> Column:
    """Bin index of ``value`` against an ascending boundary array:
    # of boundaries the value exceeds (``strict=True``, the drift-report
    convention ``value > b``) or reaches (``strict=False``, the
    rank-normalization convention ``value >= b``). NULL-safe: a NULL
    boundary element (a rank past a tiny group) contributes 0."""
    cmp = (lambda b: value > b) if strict else (lambda b: value >= b)
    return F.aggregate(
        bounds,
        F.lit(0),
        lambda acc, b: acc
        + F.when(cmp(b), F.lit(1)).otherwise(F.lit(0)),
    ).alias("bin")


def monitor_drift(
    df: DataFrame,
    bounds: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-(key, bin) counts ``n_cur`` of a live frame (batch or stream)
    binned against FROZEN per-key ``bounds`` (key, bounds array<double>)
    from ``group_quantile_bounds`` over the reference slice (gated by
    `streaming_drift_monitor`): a broadcast join and no window, so it
    runs per micro-batch. NULL values and NULL keys are no observations
    (as in drift_bins), and a key absent from ``bounds`` still reports,
    every row in bin 0, instead of vanishing through an inner join."""
    return (
        df.filter(F.col(value_col).isNotNull() & F.col(key_col).isNotNull())
        .join(F.broadcast(bounds), key_col, "left")
        .select(
            key_col,
            F.coalesce(bin_by_bounds(F.col(value_col), F.col("bounds")), F.lit(0)).alias("bin"),
        )
        .groupBy(key_col, "bin")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
