"""Drift-report behavior the oracle hash can't state on the fixed
fixture: brand-new keys report instead of vanishing; NULLs drop."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fastetl_spark.operators.analytics import drift_bins


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "event_type string, value double, event_id long, us long"
    )


def test_new_key_reports_maximal_drift(spark):
    rows = [("old", float(v % 17), v, 100 + v) for v in range(60)]
    # "fresh" appears only AFTER the midpoint of the combined time range
    rows += [("fresh", float(v), 1000 + v, 200_000 + v) for v in range(20)]
    out = drift_bins(_frame(spark, rows)).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["event_type"], []).append(r)
    assert "fresh" in by_key, "new key must appear in the drift report"
    fresh = {r["bin"]: r for r in by_key["fresh"]}
    assert sum(r["n_ref"] for r in fresh.values()) == 0
    assert fresh[0]["n_cur"] == 20  # all rows in bin 0 vs +inf bounds
    # its bin-0 drift term dominates every term of the stable key
    assert fresh[0]["drift_term"] > max(
        r["drift_term"] for r in by_key["old"]
    )


def test_null_rows_are_not_observations(spark):
    rows = [("a", float(v), v, v) for v in range(40)]
    base = drift_bins(_frame(spark, rows)).collect()
    noisy = rows + [("a", None, 99, 5), ("a", 1.0, 98, None), (None, 1.0, 97, 6)]
    with_nulls = drift_bins(_frame(spark, noisy)).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, with_nulls))


def test_poisson_bootstrap_statistics(spark):
    from fastetl_spark.operators.analytics import poisson_bootstrap_means

    # constant values: every replicate mean is exactly the constant
    const = spark.createDataFrame(
        [("a", i, 700) for i in range(500)], "event_type string, event_id long, qv long"
    )
    out = poisson_bootstrap_means(const, "event_type", "event_id", "qv").collect()
    assert len(out) >= 30  # a rep with zero draws is possible but rare
    assert all(r["boot_mean"] == 7.0 for r in out)
    # n_draws concentrates near n (Poisson(1) per row): mean +- 5 sigma
    import math

    n = 500
    for r in out:
        assert abs(r["n_draws"] - n) < 5 * math.sqrt(n), r

    # linear values: replicate means scatter around the true mean with
    # roughly sqrt(var/n) spread — assert a generous 6-sigma envelope
    lin = spark.createDataFrame(
        [("a", i, i % 100) for i in range(2000)],
        "event_type string, event_id long, qv long",
    )
    means = [
        r["boot_mean"] * 100  # undo the /100 cents convention
        for r in poisson_bootstrap_means(lin, "event_type", "event_id", "qv").collect()
    ]
    true_mean = sum(i % 100 for i in range(2000)) / 2000
    se = math.sqrt(833.25 / 2000)  # var of 0..99 uniform ~ 833.25
    assert all(abs(m - true_mean) < 6 * se for m in means), means
    # and the replicates are not degenerate (actual resampling variance)
    assert max(means) > min(means)


# --- approx-boundary scale path (round 8) ---------------------------------


@pytest.mark.slow  # full gate only: approx==exact bit-equality also pinned by test_winsorize_approx_bit_equals_exact + test_quantile_map_approx_within_one_level (default profile)
def test_drift_approx_bit_equals_exact_at_covering_accuracy(spark):
    """drift_bins(exact=False, accuracy >= group) is bit-identical to
    the gated exact path — both take the element at disc rank
    ceil(k*n/10) (the gk_exhaustive_quantiles trick applied to the
    drift boundaries)."""
    from fastetl_spark.io.readers import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "value", "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
    )
    exact = drift_bins(ev).collect()
    approx = drift_bins(ev, exact=False, accuracy=1_000_000).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, approx))
    # skewed/tied fixture: 3 keys, heavy duplication, sizes sharing no
    # structure with the decile grid
    rows = [
        (f"k{v % 3}", float((v * v) % 23), v, v) for v in range(997)
    ] + [("k0", 5.0, 10_000 + i, 10_000 + i) for i in range(313)]
    df = _frame(spark, rows)
    assert sorted(map(tuple, drift_bins(df).collect())) == sorted(
        map(tuple, drift_bins(df, exact=False, accuracy=10_000).collect())
    )


def test_drift_approx_plan_has_no_sort_window(spark):
    """The scale path must not plan a per-key sort window — that is the
    whole point (a ~5-distinct-key rank sort degrades to a skewed
    single-partition sort at 100x)."""
    rows = [("a", float(v), v, v) for v in range(50)]
    df = _frame(spark, rows)
    plan = (
        drift_bins(df, exact=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "percentile_approx" in plan
    # and the exact twin does use the window (guards against silently
    # swapping the gated plan)
    exact_plan = (
        drift_bins(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in exact_plan


def test_winsorize_approx_bit_equals_exact(spark):
    from fastetl_spark.operators.curation2 import winsorize_bounds

    rows = [
        (f"k{v % 4}", float((7 * v) % 101), v, v) for v in range(1201)
    ]
    df = _frame(spark, rows)
    exact = winsorize_bounds(df, "event_type", "value", "event_id").collect()
    approx = winsorize_bounds(
        df, "event_type", "value", "event_id", exact=False, accuracy=100_000
    ).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, approx))
    plan = (
        winsorize_bounds(
            df, "event_type", "value", "event_id", exact=False
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan


def test_quantile_map_approx_within_one_level(spark):
    """The approx level convention (# grid boundaries reached) agrees
    with the exact rank level to within ceil(L/n)+1 on distinct values;
    mapped values are monotone in value within a key either way."""
    from fastetl_spark.operators.curation2 import quantile_map_values

    rows = [("a", float(v) + 0.25, v, v) for v in range(400)] + [
        ("b", float(3 * v % 997), v + 1000, v) for v in range(300)
    ]
    df = _frame(spark, rows)
    exact = {
        r["event_id"]: r
        for r in quantile_map_values(
            df, "event_type", "value", "event_id", levels=128
        ).collect()
    }
    approx = {
        r["event_id"]: r
        for r in quantile_map_values(
            df, "event_type", "value", "event_id", levels=128,
            exact=False, accuracy=100_000,
        ).collect()
    }
    assert exact.keys() == approx.keys()
    for k, e in exact.items():
        a = approx[k]
        assert abs(a["level"] - e["level"]) <= 2, (k, e, a)
    # monotone: higher value within a key never maps to a lower level
    for res in (exact, approx):
        for key in ("a", "b"):
            pairs = sorted(
                (r["value"], r["level"])
                for r in res.values()
                if r["event_type"] == key
            )
            levels = [lv for _, lv in pairs]
            assert levels == sorted(levels)


@pytest.mark.slow  # full gate only: the facade default wiring is covered by test_covering_accuracy_derive_once_and_reuse + the drift oracle gates (default profile); this re-proves bit-equality end-to-end
def test_facade_defaults_take_scale_path_bit_equal(spark):
    """drift_bins / winsorize_bounds on the sketch-boundary plan
    (``exact=False``, no per-key sort window) at a DERIVED covering
    accuracy are bit-equal to the exact mode, so choosing the scale path
    is a pure plan change; quantile_map_values's DEFAULT stays exact=True
    (its approx level convention is only within-one-level equal, so a
    silent flip would change caller outputs — round-9 ADVICE) with the
    window-free plan available by opt-in."""
    from fastetl_spark.operators.analytics import drift_bins
    from fastetl_spark.operators.curation2 import (
        quantile_map_values,
        winsorize_bounds,
    )

    rows = [
        (f"k{v % 3}", float((v * v) % 23), v, v) for v in range(997)
    ] + [("k0", 5.0, 10_000 + i, 10_000 + i) for i in range(313)]
    df = _frame(spark, rows)
    for call in (
        lambda **kw: drift_bins(df, **kw),
        lambda **kw: winsorize_bounds(df, "event_type", "value",
                                      "event_id", **kw),
    ):
        default = call(exact=False)
        plan = default._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert sorted(map(tuple, default.collect())) == sorted(
            map(tuple, call(exact=True).collect())
        )
    # quantile_normalize default = exact rank-window form (gated query's
    # plan); the scale path is opt-in because it is only within-one-level
    # equal to exact.  Both modes now carry the GRID's bucket-partitioned
    # prefix-sum windows (rank_quantiles — balanced by equi-depth split
    # points, not a skew risk), so the scale-path assertion is the
    # sharp one: no PER-KEY rank window (row_number over the
    # low-cardinality key) rather than no Window node at all.
    qplan_default = (
        quantile_map_values(df, "event_type", "value", "event_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "row_number" in qplan_default
    qplan_scale = (
        quantile_map_values(df, "event_type", "value", "event_id",
                            exact=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "row_number" not in qplan_scale
    assert "windowspecdefinition(__k" not in qplan_scale


def test_covering_accuracy_derive_once_and_reuse(spark):
    """quantiles.covering_accuracy derives the bit-equality accuracy
    ONCE so multiple sketch calls on the same frame skip the per-call
    eager count job (round-9 ADVICE); passing it explicitly matches the
    per-call accuracy=None derivation exactly."""
    from fastetl_spark.operators.curation2 import winsorize_bounds
    from fastetl_spark.operators.quantiles import covering_accuracy

    rows = [(f"k{v % 5}", float((v * 3) % 41), v, v) for v in range(500)]
    df = _frame(spark, rows)
    acc = covering_accuracy(df, "event_type", "value")
    assert acc >= 10_000  # floor clamp; groups here are tiny
    explicit = winsorize_bounds(df, "event_type", "value",
                                "event_id", exact=False, accuracy=acc)
    derived = winsorize_bounds(df, "event_type", "value", "event_id",
                               exact=False)
    assert sorted(map(tuple, explicit.collect())) == sorted(
        map(tuple, derived.collect())
    )


def test_monitor_drift_drops_null_keys_and_values(spark):
    from fastetl_spark.operators.quantiles import (
        group_quantile_bounds,
        monitor_drift,
    )

    ref = _frame(spark, [("a", float(v), v, v) for v in range(40)])
    bounds = group_quantile_bounds(
        ref, "event_type", "value", [(k, 10) for k in range(1, 10)],
        order_col="event_id",
    )
    live = _frame(
        spark,
        [("a", 39.0, 1, 1), ("b", 1.0, 2, 2),  # b: unseen key -> bin 0
         (None, 1.0, 3, 3), ("a", None, 4, 4)],  # both dropped
    )
    out = {(r["event_type"], r["bin"]): r["n_cur"]
           for r in monitor_drift(live, bounds).collect()}
    assert out == {("a", 9): 1, ("b", 0): 1}


def test_psi_terms_from_counts_exact_values(spark):
    """The shared PSI tail on a hand-computed grid: 2 bins, one key.
    n_ref = (9, 1), n_cur = (1, 9), B = 10 smoothing:
    p = (n_ref+1)/(10+10), q = (n_cur+1)/(10+10) -> terms
    ((0.5-0.1)^2/(0.5+0.1), (0.1-0.5)^2/(0.1+0.5)) both = 0.16/0.6."""
    from fastetl_spark.operators.analytics import psi_terms_from_counts

    counts = spark.createDataFrame(
        [("a", 0, 9, 1), ("a", 1, 1, 9)],
        "event_type string, bin int, n_ref long, n_cur long",
    )
    out = {r["bin"]: r for r in psi_terms_from_counts(counts).collect()}
    # mirror the IEEE shape exactly: (p-q)*(p-q)/(p+q), p=10/20, q=2/20
    p, q = 10.0 / 20.0, 2.0 / 20.0
    expect = (p - q) * (p - q) / (p + q)
    assert out[0]["drift_term"] == expect
    assert out[1]["drift_term"] == expect
    # zero current drift: identical distributions -> all terms 0
    same = spark.createDataFrame(
        [("a", 0, 5, 5), ("a", 1, 5, 5)],
        "event_type string, bin int, n_ref long, n_cur long",
    )
    assert all(
        r["drift_term"] == 0.0 for r in psi_terms_from_counts(same).collect()
    )


def test_group_quantile_bounds_modes_and_validation(spark):
    import pytest

    from fastetl_spark.operators.quantiles import group_quantile_bounds

    rows = [("a", float(v), v, v) for v in range(100)] + [
        ("b", 3.0, 200 + v, v) for v in range(7)
    ]
    df = _frame(spark, rows)
    probs = [(1, 4), (1, 2), (19, 20), (1, 1)]
    ex = {
        r["event_type"]: list(r["bounds"])
        for r in group_quantile_bounds(
            df, "event_type", "value", probs, order_col="event_id"
        ).collect()
    }
    # disc rank ceil(p*n) over 0..99: p=1/4 -> rank 25 -> 24.0, etc.
    assert ex["a"] == [24.0, 49.0, 94.0, 99.0]
    assert ex["b"] == [3.0, 3.0, 3.0, 3.0]
    ap = {
        r["event_type"]: list(r["bounds"])
        for r in group_quantile_bounds(
            df, "event_type", "value", probs,
            order_col="event_id", exact=False, accuracy=100_000,
        ).collect()
    }
    assert ap == ex
    with pytest.raises(ValueError):
        group_quantile_bounds(df, "event_type", "value", [(0, 10)])
    with pytest.raises(ValueError):
        group_quantile_bounds(df, "event_type", "value", [(11, 10)])
