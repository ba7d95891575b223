"""Physical-plan shape assertions: the scale properties the engine
promises must be visible in the plan, not just claimed — filters reach
the parquet scan, projections prune the read schema, dimension joins
broadcast, and aggregations have a partial (map-side) phase.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod
import pyspark.sql.functions as F

from fastetl_spark.io.readers import read_table

QUERIES = entry_mod.queries()


def plan_of(spark, sf_dir, name) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "watermark_filter")
    assert "PushedFilters:" in plan
    assert "IsNotNull(o_orderdate)" in plan or "GreaterThan(o_orderdate" in plan


def test_projection_prunes_read_schema(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "projection_scan")
    # only the 4 needed columns are read, not all 11 lineitem columns
    assert "l_extendedprice" not in plan
    assert "l_shipdate" not in plan
    assert "l_quantity" in plan


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    plan3 = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan3


def test_aggregation_is_partial(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "partial_" in plan  # map-side combine before the shuffle


def test_anti_join_not_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "customers_without_orders")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_key_range_filter_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "key_range_scan")
    assert "GreaterThanOrEqual(l_orderkey,1000)" in plan
    assert "LessThanOrEqual(l_orderkey,2000)" in plan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.io.writers import write_parquet

    e = read_table(spark, sf_dir, "events")
    write_parquet(e, str(tmp_path / "part_events"), partition_by=["event_type"])
    back = spark.read.parquet(str(tmp_path / "part_events")).filter(
        "event_type = 'purchase'"
    )
    plan = back._sc._jvm.PythonSQLUtils.explainString(back._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "event_type" in plan
    # only the purchase partition directory is read
    assert back.count() == e.filter("event_type = 'purchase'").count()


def test_parquet_compression_roundtrip(spark, sf_dir, tmp_path):
    from fastetl_spark.io.readers import read_table

    n = read_table(spark, sf_dir, "nation")
    for codec in ("snappy", "zstd", "gzip"):
        path = str(tmp_path / codec)
        n.write.option("compression", codec).parquet(path)
        assert spark.read.parquet(path).count() == 25


def test_sort_merge_join_when_broadcast_disabled(spark, sf_dir):
    """Big-big joins must fall to SortMergeJoin (never nested-loop) when
    neither side fits a broadcast."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, sf_dir, "q3_shipping_priority")
        assert "SortMergeJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_shj_size_bound_falls_back_to_smj(spark, sf_dir):
    """r14 VERDICT ask #7: the session-wide SHJ preference
    (preferSortMergeJoin=false) must NOT pick a shuffled-hash join when
    the build side is oversized for a per-partition hash map. The
    static pick requires build-side size < autoBroadcastJoinThreshold x
    shuffle partitions; shrinking that bound below the real table size
    (the local stand-in for the 100 TB regime where join sides dwarf
    any local-map budget) must yield SortMergeJoin — with a POSITIVE
    broadcast threshold, unlike the -1 test above, which disables the
    static SHJ size condition through a different code path."""
    from fastetl_spark.io.readers import read_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "1024",
        "spark.sql.shuffle.partitions": "2",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "1024",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_table(spark, sf_dir, "lineitem")
        od = read_table(spark, sf_dir, "orders")
        plan = (
            li.join(od, li["l_orderkey"] == od["o_orderkey"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" in plan
        assert "ShuffledHashJoin" not in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_cc_driver_path_attach_broadcasts_without_distinct(spark):
    """r15: connected_components' driver union-find path must attach
    isolated nodes with a BROADCAST of the driver-computed component
    map (it is driver-bounded by construction, but createDataFrame
    returns it stats-less, which used to pick a corpus-shuffling SHJ),
    and nodes_unique=True must skip the re-distinct of a key-unique
    node frame (a full node-id shuffle that proved nothing)."""
    from fastetl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    nodes = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    df = connected_components(pairs, nodes=nodes, nodes_unique=True)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan
    # no distinct aggregate on the node side
    assert "HashAggregate" not in plan
    # the flag must not change the labels
    got = {(r["doc_id"], r["component"]) for r in df.collect()}
    dup = connected_components(pairs, nodes=nodes, nodes_unique=False)
    assert got == {(r["doc_id"], r["component"]) for r in dup.collect()}


def test_token_budget_cumsum_not_single_partition(spark, sf_dir):
    # the two-phase cumulative sum must not funnel the corpus through a
    # global-order window (Exchange SinglePartition)
    df = QUERIES["token_budget_head"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_bigram_topk_is_take_ordered(spark, sf_dir):
    # corpus top-k must be per-partition heaps + driver merge, not a
    # global sort of every bigram count
    df = QUERIES["bigram_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_q9_dimensions_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q9_product_type_profit")
    assert plan.count("BroadcastHashJoin") >= 3


def test_salted_agg_is_two_phase(spark, sf_dir):
    # the salt column must appear in the plan (phase-1 grouping key) and
    # aggregation must still be map-side partial
    plan = plan_of(spark, sf_dir, "skewed_agg_salted")
    assert "__salt" in plan
    assert "partial_" in plan


def test_fuzzy_pairs_dictionary_is_broadcast(spark, sf_dir):
    # dictionary x dictionary under non-equi predicates: broadcast
    # nested loop over the DISTINCT names, scan pruned to p_name only
    plan = plan_of(spark, sf_dir, "fuzzy_name_pairs")
    assert "BroadcastNestedLoopJoin" in plan
    assert "p_partkey" not in plan  # column pruning reached the scan


def test_referential_integrity_antijoins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "referential_integrity_report")
    assert plan.count("LeftAnti, BuildRight") >= 5 or plan.count("BroadcastHashJoin") >= 5


def test_referential_integrity_broadcast_is_gated_not_forced(spark, sf_dir, monkeypatch):
    """When a parent exceeds the broadcast gate, the anti-join must be
    left to AQE's size-based choice (shuffled anti-join here, with the
    auto threshold off) — a forced F.broadcast on a 100x-scale orders
    key projection would OOM the driver."""
    from fastetl_spark.operators import analytics

    monkeypatch.setattr(analytics, "_RI_BROADCAST_MAX_KEYS", 0)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, sf_dir, "referential_integrity_report")
        assert "BroadcastHashJoin" not in plan  # no hint slipped through
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_robust_outlier_stats_broadcast_back(spark, sf_dir):
    # tiny per-type med/mad frames must broadcast onto events, and the
    # events scan must prune to (event_type, value)
    plan = plan_of(spark, sf_dir, "robust_outlier_events")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "props" not in plan


def test_session_paths_top20_is_take_ordered(spark, sf_dir):
    df = QUERIES["top_session_paths"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort for top-20
    # one shuffle for the user_id window chain, one for the path counts
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bitemporal_lookup_single_fact_shuffle(spark, sf_dir):
    df = QUERIES["event_state_at_time"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the interval join rides the user_id key join; the fact side is
    # shuffled once (window chain), never sorted globally
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_variant_parse_once_single_shuffle(spark, sf_dir):
    df = QUERIES["variant_props_stats"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan  # aggregation stays map-side partial


def test_expectations_report_semantics_and_single_scan(spark):
    """One scan, k rules: violation counts are exact, NULL predicate
    results count as violations, and the plan reads the source once."""
    import pytest
    from pyspark.sql import functions as F

    from fastetl_spark.plans.expectations import expectations_report

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "B"), (3, None, "A"), (4, 0.0, None)],
        "id long, amount double, grp string",
    )
    rules = [
        ("amount_positive", F.col("amount") > 0),       # rows 2,3(null),4 fail
        ("grp_known", F.col("grp").isin("A", "B")),      # row 4 fails
        ("id_not_null", F.col("id").isNotNull()),        # none fail
    ]
    rep = {r.rule: r for r in expectations_report(df, rules).collect()}
    assert rep["amount_positive"].n_violations == 3  # NULL counts as violation
    assert rep["grp_known"].n_violations == 1
    assert rep["id_not_null"].n_violations == 0 and rep["id_not_null"].passed
    assert all(r.n_rows == 4 for r in rep.values())
    assert not rep["amount_positive"].passed

    plan = expectations_report(df, rules)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") <= 1  # k rules share ONE pass

    with pytest.raises(ValueError, match="duplicate"):
        expectations_report(df, [("r", F.lit(True)), ("r", F.lit(True))])
    with pytest.raises(ValueError, match="at least one"):
        expectations_report(df, [])


def test_time_travel_reads_only_target_generation_dirs(spark, tmp_path):
    """read_bucketed_at(gen) must scan ONLY that generation's bucket
    dirs — none of the newer generation's files may appear in the
    scan's input, even though they sit beside them on disk."""
    from fastetl_spark.io.bucketed import (
        _read_manifest_gen,
        partial_merge,
        read_bucketed_at,
        write_bucketed,
    )

    dest = str(tmp_path / "d")
    base = spark.createDataFrame([(i, i) for i in range(40)], "k long, v long")
    write_bucketed(base, dest, ["k"], 4)
    partial_merge(spark, dest, base.withColumn("v", F.col("v") + 7))
    m1 = _read_manifest_gen(spark, dest, 1)
    allowed = {d for d in m1["buckets"].values()}
    files = read_bucketed_at(spark, dest, 1).inputFiles()
    assert files
    for f in files:
        dirname = f.rstrip("/").rsplit("/", 2)[-2]
        assert dirname in allowed, f"scan touched non-gen-1 dir: {f}"


def test_skew_diagnosis_single_scan_and_broadcast(spark, sf_dir):
    from fastetl_spark.operators.analytics import join_skew_diagnosis

    df = join_skew_diagnosis(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # per-key counts are checkpointed once: the events table must not
    # be re-scanned per consumer
    assert plan.count("Scan parquet") == 0  # post-checkpoint plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_exhaustive_ivf_matches_exact_topk(spark, sf_dir, tmp_path):
    """nprobe=n_cells probing == brute-force cosine top-k, row for row
    (the claim behind the exhaustive gate entries, checked in-process)."""
    from fastetl_spark.operators.ann_index import (
        build_ivf_index,
        read_ivf_meta,
        search_ivf_index,
    )
    from fastetl_spark.operators.similarity import cosine_topk

    e = read_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(e, idx, "vec_id", "embedding", n_cells=8)
    meta = read_ivf_meta(spark, idx)
    q = e.filter(F.col("vec_id") % 50 == 0)
    got = sorted(
        map(
            tuple,
            search_ivf_index(spark, idx, q, k=5, nprobe=meta["n_cells"]).collect(),
        )
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk(e, q, "vec_id", "embedding", k=5).collect()
    )
    assert got == want and got


def _audit_mod():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "shuffle_audit_mod",
        os.path.join(os.path.dirname(__file__), "..", "tools", "shuffle_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_keyless_gathering_aggregate_classified_as_gather(spark, sf_dir):
    """The r12 audit blind spot, pinned: a keyless percentile_disc
    merge (the OLD quantile_mapping grid shape) carries the full value
    multiset through one task but used to auto-classify as a benign
    1part-scalar.  The audit must now call it `gather` — both in the
    single-part classifier and in the plan-wide gather counter — so
    the next one fails the gate instead of sailing through."""
    mod = _audit_mod()
    e = read_table(spark, sf_dir, "events")
    df = e.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("m")
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    cls = mod.classify_single_parts(plan)
    assert cls["gather"] >= 1 and cls["scalar"] == 0
    ga = mod.count_gathers(plan)
    assert ga["keyless"] >= 1

    # sketches are constant-size buffers and must stay benign scalar
    df2 = e.agg(F.percentile_approx("value", 0.5).alias("m"))
    plan2 = df2._sc._jvm.PythonSQLUtils.explainString(
        df2._jdf.queryExecution(), "simple"
    )
    cls2 = mod.classify_single_parts(plan2)
    assert cls2["gather"] == 0 and cls2["scalar"] >= 1
    assert sum(mod.count_gathers(plan2).values()) == 0

    # keyed gathers are counted by shape
    df3 = e.groupBy("event_type").agg(F.collect_list("value").alias("vs"))
    plan3 = df3._sc._jvm.PythonSQLUtils.explainString(
        df3._jdf.queryExecution(), "simple"
    )
    assert mod.count_gathers(plan3)["keyed"] >= 1


def _simple_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_grouped_agg_udaf_classified_as_gather(spark, sf_dir):
    """r13 audit blind spot (a), pinned: a GROUPED_AGG pandas UDAF
    ships each group's whole column into one python worker — a keyed
    gather — but its function name can never match the _GATHER_FUNCS
    regex, so the audit must classify the NODE TYPE
    (ArrowAggregatePython on Spark 4 / AggregateInPandas on 3.x)."""
    mod = _audit_mod()
    from fastetl_spark.operators.multimodal import gini_grouped_udaf

    plan = _simple_plan(gini_grouped_udaf(spark, sf_dir))
    assert mod.count_gathers(plan)["udaf"] >= 1

    # grouped-MAP applyInPandas shares the whole-group-buffer property
    # and is classified the same way (its gated user carries a
    # GATHER_ALLOWLIST bound)
    plan2 = _simple_plan(QUERIES["group_zscore_pandas"](spark, sf_dir))
    assert mod.count_gathers(plan2)["udaf"] >= 1
    assert "group_zscore_pandas" in mod.GATHER_ALLOWLIST


def test_dictionary_keyed_window_classified(spark, sf_dir):
    """r13 audit blind spot (b), pinned: a Window partitioned ONLY by
    a dictionary column is a plain hash exchange — never an Exchange
    SinglePartition — yet its parallelism is bounded at the dictionary
    cardinality.  The audit must flag exactly that shape and nothing
    wider."""
    from pyspark.sql import Window

    mod = _audit_mod()
    from fastetl_spark.operators.multimodal import gini_native_twin

    plan = _simple_plan(gini_native_twin(spark, sf_dir))
    assert mod.count_dict_windows(plan) >= 1

    e = read_table(spark, sf_dir, "events")
    # a data-scale partition key must NOT be flagged ...
    df = e.withColumn(
        "rn", F.row_number().over(Window.partitionBy("user_id").orderBy("ts"))
    )
    assert mod.count_dict_windows(_simple_plan(df)) == 0
    # ... nor a (dictionary, high-cardinality) composite key
    df2 = e.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type", "value").orderBy("event_id")
        ),
    )
    assert mod.count_dict_windows(_simple_plan(df2)) == 0
    # ... nor a rank-filter top-k: the Partial WindowGroupLimit below
    # the exchange caps per-group input at k x tasks — a top-k merge,
    # the keyed analogue of the benign 1part-limit class
    d = read_table(spark, sf_dir, "documents")
    wsrc = Window.partitionBy("source").orderBy("doc_id")
    topk = d.withColumn("rn", F.row_number().over(wsrc)).filter("rn <= 5")
    topk_plan = _simple_plan(topk)
    assert "WindowGroupLimit" in topk_plan
    assert mod.count_dict_windows(topk_plan) == 0
    # the same window WITHOUT the rank filter stays flagged
    nofilter = d.withColumn("rn", F.row_number().over(wsrc))
    assert mod.count_dict_windows(_simple_plan(nofilter)) >= 1


def _window_partition_widths(mod, plan: str, func: str) -> list[int]:
    """Partition-key counts of every Window node evaluating ``func``."""
    widths = []
    for ln in plan.splitlines():
        s = ln.strip().lstrip("+-: *")
        if not s.startswith(("Window ", "Window(")) or func not in s:
            continue
        groups = mod._bracket_groups(s)
        part = groups[1].strip() if len(groups) >= 2 else ""
        widths.append(len([c for c in part.split(",") if c.strip()]))
    return widths


def test_deskewed_family_plans(spark, sf_dir):
    """The r14 de-skew rewrites pinned at the plan level (the sharp
    per-query properties, per the r13 lesson that claims must be
    visible in the plan):

    - quantile_mapping_normalize: every row_number window carries >= 2
      partition keys (the (key, bucket) rank window); none partitions
      by the key column alone.
    - value_decile_bins: no ntile window at all, no dict-keyed window.
    - both grouped_row_ranks consumers (r14.2 direct form): rank
      metadata attaches to the base rows via BROADCAST joins only —
      no SortMergeJoin/ShuffledHashJoin anywhere in the plan, i.e.
      the base frame is exchanged exactly once (for the (group,
      bucket) window), never a second time for a support join-back.
    - gini_by_event_type: no python aggregation node (the GROUPED_AGG
      UDAF is gone from the gated plan).
    - weighted_median_price: no dict-keyed window (the support cum
      rides the bucketed prefix sum)."""
    mod = _audit_mod()

    qm = _simple_plan(
        QUERIES["quantile_mapping_normalize"](spark, sf_dir)
    )
    widths = _window_partition_widths(mod, qm, "row_number")
    assert widths and all(w >= 2 for w in widths), widths
    assert mod.count_dict_windows(qm) == 0
    assert "SortMergeJoin" not in qm and "ShuffledHashJoin" not in qm

    bins = _simple_plan(QUERIES["value_decile_bins"](spark, sf_dir))
    assert "ntile(" not in bins
    assert mod.count_dict_windows(bins) == 0
    assert "SortMergeJoin" not in bins and "ShuffledHashJoin" not in bins

    gini = _simple_plan(QUERIES["gini_by_event_type"](spark, sf_dir))
    assert "ArrowAggregatePython" not in gini
    assert "AggregateInPandas" not in gini
    assert mod.count_dict_windows(gini) == 0

    wmed = _simple_plan(QUERIES["weighted_median_price"](spark, sf_dir))
    assert mod.count_dict_windows(wmed) == 0
