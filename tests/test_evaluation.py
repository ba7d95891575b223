"""Hand-computed checks for the evaluation operators (the differential
suite in test_queries_vs_duckdb covers the full-table oracle gate; these
pin the statistics themselves on tiny frames with known answers)."""

from __future__ import annotations

from fastetl_spark.operators.evaluation import auc_by_class


def test_auc_matches_hand_computed_pairs(spark):
    # pos scores {3, 5}, neg scores {1, 3}:
    #   pairs: (3>1) win, (3==3) tie, (5>1) win, (5>3) win
    #   auc = (2*3 + 1) / (2*2*2) = 7/8
    df = spark.createDataFrame(
        [("p", 3.0), ("p", 5.0), ("n", 1.0), ("n", 3.0)],
        "cls string, score double",
    )
    rows = {r["cls"]: r for r in auc_by_class(df, "cls", "score").collect()}
    assert rows["p"]["n_pos"] == 2 and rows["p"]["n_neg"] == 2
    assert rows["p"]["auc"] == 7 / 8
    # one-vs-rest symmetry: AUC(n) = 1 - AUC(p) with the tie halved
    assert rows["n"]["auc"] == 1 - 7 / 8


def test_auc_all_ties_is_half(spark):
    df = spark.createDataFrame(
        [("a", 2.0), ("a", 2.0), ("b", 2.0)], "cls string, score double"
    )
    rows = {r["cls"]: r for r in auc_by_class(df, "cls", "score").collect()}
    assert rows["a"]["auc"] == 0.5
    assert rows["b"]["auc"] == 0.5


def test_auc_perfect_separation(spark):
    df = spark.createDataFrame(
        [("hi", 10.0), ("hi", 9.0), ("lo", 1.0), ("lo", 2.0)],
        "cls string, score double",
    )
    rows = {r["cls"]: r for r in auc_by_class(df, "cls", "score").collect()}
    assert rows["hi"]["auc"] == 1.0
    assert rows["lo"]["auc"] == 0.0


def _lattice_df(spark):
    # integer-lattice scores: every distinct value gets its own bin at
    # num_bins=16, so binned MUST equal exact bit-for-bit
    rows = [("p", float(i % 10)) for i in range(40)] + [
        ("n", float((i * 7) % 10)) for i in range(25)
    ]
    return spark.createDataFrame(rows, "cls string, score double")


def test_auc_binned_equals_exact_when_bins_cover(spark):
    from fastetl_spark.operators.evaluation import auc_binned

    df = _lattice_df(spark)
    exact = {r["cls"]: r for r in auc_by_class(df, "cls", "score").collect()}
    binned = {
        r["cls"]: r
        for r in auc_binned(df, "cls", "score", num_bins=16).collect()
    }
    for cls in exact:
        assert binned[cls]["n_pos"] == exact[cls]["n_pos"]
        assert binned[cls]["auc"] == exact[cls]["auc"]  # bit-equal


def test_ks_binned_equals_exact_when_bins_cover(spark):
    from fastetl_spark.operators.evaluation import ks_binned, ks_by_class

    df = _lattice_df(spark)
    exact = {r["cls"]: r for r in ks_by_class(df, "cls", "score").collect()}
    binned = {
        r["cls"]: r
        for r in ks_binned(df, "cls", "score", num_bins=16).collect()
    }
    for cls in exact:
        assert binned[cls]["n_t"] == exact[cls]["n_t"]
        assert binned[cls]["max_num"] == exact[cls]["max_num"]
        assert binned[cls]["d_stat"] == exact[cls]["d_stat"]  # bit-equal


def test_ks_binned_lower_bounds_exact(spark):
    # coarse bins merge support points: binned D can only shrink
    from fastetl_spark.operators.evaluation import ks_binned, ks_by_class

    df = _lattice_df(spark)
    exact = {r["cls"]: r["d_stat"] for r in ks_by_class(df, "cls", "score").collect()}
    coarse = {
        r["cls"]: r["d_stat"]
        for r in ks_binned(df, "cls", "score", num_bins=3).collect()
    }
    for cls in exact:
        assert coarse[cls] <= exact[cls] + 1e-12


def test_auc_degenerate_single_class_is_null(spark):
    # one label covering the whole frame: n_neg == 0 -> NULL, not NaN
    df = spark.createDataFrame(
        [("only", 1.0), ("only", 2.0)], "cls string, score double"
    )
    rows = auc_by_class(df, "cls", "score").collect()
    assert rows[0]["n_neg"] == 0 and rows[0]["auc"] is None


def test_auc_small_support_form_bit_equal(spark, sf_dir):
    # the streaming monitor's one-job window branch must produce the
    # SAME bits as the distributed-rank branch on identical counts
    from pyspark.sql import functions as F

    from fastetl_spark.io.readers import read_table
    from fastetl_spark.operators.evaluation import auc_from_score_counts

    vt = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    big = {r["event_type"]: r for r in auc_from_score_counts(vt, "event_type", "value").collect()}
    small = {r["event_type"]: r for r in auc_from_score_counts(vt, "event_type", "value", small_support=True).collect()}
    assert set(big) == set(small)
    for k in big:
        assert (big[k]["n_pos"], big[k]["n_neg"], big[k]["auc"]) == (
            small[k]["n_pos"], small[k]["n_neg"], small[k]["auc"]
        )


def test_auc_null_label_group_survives_both_forms(spark):
    # the r11 ADVICE scenario: a NULL label is a legitimate GROUP BY
    # group — the distributed-rank branch's null-safe offset join must
    # keep it, bit-equal to the bounded window branch
    from pyspark.sql import functions as F

    from fastetl_spark.operators.evaluation import auc_from_score_counts

    vt = spark.createDataFrame(
        [("a", 1.0, 3), ("a", 2.0, 1), (None, 1.5, 2), (None, 3.0, 4),
         ("b", 0.5, 2)],
        "lab string, score double, cnt long",
    )
    big = {r["lab"]: r for r in
           auc_from_score_counts(vt, "lab", "score").collect()}
    small = {r["lab"]: r for r in
             auc_from_score_counts(vt, "lab", "score",
                                   small_support=True).collect()}
    assert set(big) == set(small) == {"a", "b", None}
    for k in big:
        assert (big[k]["n_pos"], big[k]["n_neg"], big[k]["auc"]) == (
            small[k]["n_pos"], small[k]["n_neg"], small[k]["auc"]
        ), k
