"""Distributed PageRank with an exact cross-engine oracle.

Connected components (operators/dedup) covered the fixpoint-iteration
pattern; PageRank adds the weighted-propagation pattern a link graph
(html_link_extract's edge table) feeds: per-iteration, every node
scatters pr/outdeg along its out-edges and gathers the damped sum.

Determinism is the hard part — a plain groupBy SUM over doubles folds
in partition order, which varies run to run and engine to engine. Here
each node's incoming contributions are folded in SOURCE-NODE order on
both engines (array_sort fold in Spark, ``list(... ORDER BY src)`` in
DuckDB), so every double of every iteration is bit-identical and the
3-iteration result hash-matches. The ordered fold gathers a node's
in-neighbor list — bounded by in-degree, fine for link graphs (heavy
hubs exist but a list of (src, contrib) pairs is tiny per row); a
throughput-first variant would swap the fold for groupBy(SUM) and give
up oracle-exactness, changing results only in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fastetl_spark.checkpointing import materialize
from fastetl_spark.io.readers import ensure_parallelism, read_table
from fastetl_spark.registry import query

_DAMPING = 0.85
_ITERATIONS = 3


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = _ITERATIONS,
    damping: float = _DAMPING,
    exact: bool = True,
) -> DataFrame:
    """(node, pr) after `iterations` damped propagation rounds over
    (src, dst) edges. Multi-edges contribute once per occurrence;
    dangling nodes keep the teleport term only.

    ``exact=True`` (default) folds each node's incoming contributions
    in source-node order — bit-identical across runs and engines (the
    oracle-gated form; see module docstring) at the cost of gathering a
    per-node in-neighbor list. ``exact=False`` is the throughput form
    for billion-edge graphs with heavy hubs: a plain partial-aggregated
    groupBy(SUM) — no list materialization, map-side combine — whose
    results differ from the exact form only in the last ulp of the
    double sum (equivalence-tested at 1e-9)."""
    n_nodes = nodes.count()  # one scalar, driver-side by design
    uniform = F.lit(1.0) / F.lit(float(n_nodes))
    teleport = F.lit(1.0 - damping) / F.lit(float(n_nodes))
    if iterations <= 0:
        return nodes.select("node", uniform.alias("pr"))
    # restrict edge SOURCES to the node set up front — the pre-refactor
    # loop did this implicitly via the inner join against pr, and
    # without it a phantom src outside `nodes` would inject
    # teleport-derived mass. Destinations stay unrestricted, exactly as
    # before: outdeg counts every out-edge (mass sent to a phantom dst
    # leaks, the standard subgraph semantics), phantom-dst acc rows
    # never match a src and are dropped by the final nodes join.
    edges = edges.join(
        nodes.select(F.col("node").alias("src")), "src", "left_semi"
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # materialize (src, dst, outdeg) ONCE, partitioned by src: the edge
    # plan (for the link graph, a parse + resolution join) would
    # otherwise re-execute every iteration, and the src partitioning is
    # reused by each iteration's contribution join so only the (small)
    # acc side shuffles.
    ew = (
        edges.join(out_deg, "src")
        .select("src", "dst", "outdeg")
        .repartition("src")
        .transform(materialize)
    )
    # Shuffle-lean iteration: pr is never materialized as a full node
    # frame inside the loop. pr(node) == teleport + damping*acc(node)
    # with acc=0 for nodes without in-links, so each round folds that
    # expression straight into the next round's contributions (a LEFT
    # join of edges against the previous acc) — the per-iteration
    # nodes-frame join disappears, and round 1 (uniform pr) needs no
    # join at all. The arithmetic is expression-identical to the
    # naive formulation, so the oracle-exact folds are unchanged.
    acc_df = None
    for it in range(iterations):
        if acc_df is None:
            contribs = ew.select(
                F.col("dst").alias("node"),
                "src",
                (uniform / F.col("outdeg")).alias("c"),
            )
        else:
            contribs = ew.join(
                acc_df, ew.src == acc_df.node, "left"
            ).select(
                F.col("dst").alias("node"),
                "src",
                (
                    (
                        teleport
                        + F.lit(damping) * F.coalesce(F.col("acc"), F.lit(0.0))
                    )
                    / F.col("outdeg")
                ).alias("c"),
            )
        if exact:
            acc_df = contribs.groupBy("node").agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("src", "c"))),
                    F.lit(0.0),
                    lambda a, s: a + s["c"],
                ).alias("acc")
            )
        else:
            acc_df = contribs.groupBy("node").agg(F.sum("c").alias("acc"))
        # cut lineage every few rounds, not every round: a handful of
        # chained iterations is a small plan Catalyst compiles in one
        # job, each skipped localCheckpoint removes a write+re-read
        # barrier (3-iteration runs are checkpoint-free)
        if (it + 1) % 4 == 0 and (it + 1) < iterations:
            acc_df = materialize(acc_df)
    return nodes.join(acc_df, "node", "left").select(
        "node",
        (
            teleport + F.lit(damping) * F.coalesce(F.col("acc"), F.lit(0.0))
        ).alias("pr"),
    )


def _doc_graph(d: DataFrame, n: int) -> tuple[DataFrame, DataFrame]:
    """Deterministic synthetic link graph over contiguous doc ids: each
    doc links to (id+1) mod n (a ring, keeps the graph connected) and
    (id*id+3) mod n (squares are NOT a permutation, so in-degrees vary
    — without this the stationary distribution is exactly uniform and
    proves nothing). Self-loops/multi-edges kept as-is (the oracle
    builds the identical multiset)."""
    nodes = d.select(F.col("doc_id").alias("node"))
    e1 = nodes.select(F.col("node").alias("src"), ((F.col("node") + 1) % n).alias("dst"))
    e2 = nodes.select(
        F.col("node").alias("src"),
        ((F.col("node") * F.col("node") + 3) % n).alias("dst"),
    )
    return nodes, e1.unionAll(e2)


def _iter_sql(k: int) -> str:
    return f"""pr{k} AS (
  SELECT n.node,
         CAST(0.15 AS DOUBLE) / nn.n
           + CAST(0.85 AS DOUBLE) * COALESCE(a.acc, CAST(0 AS DOUBLE)) AS pr
  FROM nodes n CROSS JOIN nn LEFT JOIN (
    SELECT e.dst AS node,
           list_sum(list(p.pr / od.outdeg ORDER BY e.src)) AS acc
    FROM edges e
    JOIN pr{k - 1} p ON p.node = e.src
    JOIN outdeg od ON od.src = e.src
    GROUP BY e.dst) a ON a.node = n.node
)"""


_PAGERANK_SQL = f"""
WITH nodes AS (
  SELECT doc_id AS node FROM documents
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), edges AS (
  SELECT node AS src, (node + 1) % (SELECT COUNT(*) FROM nodes) AS dst FROM nodes
  UNION ALL
  SELECT node, (node * node + 3) % (SELECT COUNT(*) FROM nodes) FROM nodes
), outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
), pr0 AS (
  SELECT n.node, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes n CROSS JOIN nn
), {", ".join(_iter_sql(i) for i in range(1, _ITERATIONS + 1))}
SELECT node, ROUND(pr, 9) AS pr FROM pr{_ITERATIONS}
"""


@query("pagerank_doc_graph", _PAGERANK_SQL)
def pagerank_doc_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the synthetic doc link graph, checked
    against a DuckDB re-derivation that unrolls the same three
    iterations with the same source-ordered contribution folds — an
    ITERATIVE distributed algorithm under the exact oracle gate."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    nodes, edges = _doc_graph(d, n)
    pr = pagerank(nodes, edges)
    return pr.select("node", F.round("pr", 9).alias("pr"))


# --- PageRank over the REAL link graph (html_link_extract edges) ----------


def resolved_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-style edge resolution: parse html_link_extract's hrefs,
    keep same-host anchors, extract the target doc id from the URL
    path, and resolve it against the documents table (the target must
    EXIST and live on the href's domain — the link fixture's 'next'
    anchor points at (doc_id+1) % 1000 on the page's own host, so links
    crossing a source boundary or past the id range stay dangling).
    Returns (src, dst) doc-id edges."""
    from fastetl_spark.operators.text3 import html_link_extract

    links = html_link_extract(spark, sf_dir).filter(F.col("is_internal"))
    cand = links.select(
        F.col("doc_id").alias("src"),
        F.regexp_extract(F.col("href"), r"/docs/(\d+)$", 1).cast("long").alias("tid"),
        F.col("link_domain").alias("dom"),
    )
    d = read_table(spark, sf_dir, "documents")
    targets = d.select(
        F.col("doc_id").alias("tid"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("dom"),
    )
    return cand.join(targets, ["tid", "dom"]).select(
        "src", F.col("tid").alias("dst")
    )


# The oracle re-derives the resolved edge set arithmetically (the link
# fixture is deterministic: a 'next' anchor at (doc_id+1) % 1000 and a
# 'hub' anchor at doc_id % 20, both on the page's own host — only
# anchors whose target doc EXISTS with that source resolve) and unrolls
# the same three source-ordered-fold iterations as _PAGERANK_SQL.
_LINK_PAGERANK_SQL = f"""
WITH nodes AS (
  SELECT doc_id AS node FROM documents
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM documents a JOIN documents b
    ON b.doc_id = (a.doc_id + 1) % 1000 AND b.source = a.source
  UNION ALL
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM documents a JOIN documents b
    ON b.doc_id = a.doc_id % 20 AND b.source = a.source
), outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
), pr0 AS (
  SELECT n.node, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes n CROSS JOIN nn
), {", ".join(_iter_sql(i) for i in range(1, _ITERATIONS + 1))}
SELECT node, ROUND(pr, 9) AS pr FROM pr{_ITERATIONS}
"""


@query("pagerank_link_graph", _LINK_PAGERANK_SQL)
def pagerank_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl pipeline under the exact gate: href extraction ->
    same-host filter -> target-id resolution against the corpus ->
    3-iteration ordered-fold PageRank. Unlike pagerank_doc_graph's
    synthetic ring, the edge table here comes from parsing the anchor
    strings themselves, so a regression anywhere in extract/resolve/rank
    fails the hash compare."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    nodes = d.select(F.col("doc_id").alias("node"))
    edges = resolved_link_edges(spark, sf_dir)
    pr = pagerank(nodes, edges)
    return pr.select("node", F.round("pr", 9).alias("pr"))


@query("pagerank_throughput")  # groupBy-SUM fold — last-ulp nondeterministic
def pagerank_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The billion-edge form on the same resolved link graph: plain
    partial-aggregated groupBy(SUM) instead of the in-neighbor-list
    ordered fold. The double sum's fold order follows partitioning, so
    the last ulp is run-dependent and no hash oracle can gate it —
    equivalence with the exact form at 1e-9 is asserted in tests
    (test_graph_throughput); registered rows-only so the driver still
    executes the code path."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    nodes = d.select(F.col("doc_id").alias("node"))
    edges = resolved_link_edges(spark, sf_dir)
    pr = pagerank(nodes, edges, exact=False)
    return pr.select("node", F.round("pr", 6).alias("pr"))


# --- triangle counting (third classic graph op: CC, PageRank, triangles) --

_TRIANGLE_SQL = """
WITH nodes AS (
  SELECT doc_id AS node FROM documents
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), e0 AS (
  SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst FROM nodes
  UNION ALL
  SELECT node, (node + 2) % (SELECT n FROM nn) FROM nodes
  UNION ALL
  SELECT node, (node * node + 3) % (SELECT n FROM nn) FROM nodes
), und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM e0 WHERE src <> dst
)
SELECT ab.u AS node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM und ab
JOIN und bc ON bc.u = ab.v
JOIN und ac ON ac.u = ab.u AND ac.v = bc.v
GROUP BY ab.u
"""


@query("triangle_count_doc_graph", _TRIANGLE_SQL)
def triangle_count_doc_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation (counted at the triangle's least
    node) over the ring + skip-2 + squares doc graph — the standard
    node-ordered two-join enumeration: canonicalize each undirected
    edge as (u < v), then a triangle u<v<w is exactly one (ab, bc, ac)
    join match, so nothing is double-counted and no post-dedup pass is
    needed. All-integer output, exact oracle.

    Scale shape: both joins key on a node column (shuffle by node);
    the classic refinement at 100 TB orders nodes by DEGREE instead of
    id so high-degree hubs sit on the small side of the joins —
    the id-ordering here keeps the oracle deterministic."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    nodes = d.select(F.col("doc_id").alias("node"))
    e0 = (
        nodes.select(F.col("node").alias("src"), ((F.col("node") + 1) % n).alias("dst"))
        .unionAll(
            nodes.select(
                F.col("node").alias("src"), ((F.col("node") + 2) % n).alias("dst")
            )
        )
        .unionAll(
            nodes.select(
                F.col("node").alias("src"),
                ((F.col("node") * F.col("node") + 3) % n).alias("dst"),
            )
        )
    )
    und = (
        e0.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    ab = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# --- bounded BFS reachability via RECURSIVE CTE (Spark 4 surface) ---------

_REACH_DEPTH = 3
_REACH_SEEDS = 5  # doc_id < 5

_REACH_SQL = f"""
WITH RECURSIVE e AS (
  SELECT doc_id AS src,
         (doc_id + 1) % (SELECT COUNT(*) FROM documents) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id,
         (doc_id * doc_id + 3) % (SELECT COUNT(*) FROM documents)
  FROM documents
), walk(node, depth) AS (
  SELECT DISTINCT src AS node, 0 AS depth FROM e WHERE src < {_REACH_SEEDS}
  UNION ALL
  SELECT e.dst AS node, w.depth + 1 AS depth
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.depth < {_REACH_DEPTH}
)
SELECT node, CAST(MIN(depth) AS BIGINT) AS hops FROM walk GROUP BY node
"""


@query("recursive_reachability", _REACH_SQL)
def recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's WITH RECURSIVE under the gate: bounded BFS from the
    first {_REACH_SEEDS} doc nodes over the ring+squares graph —
    depth-tagged UNION ALL expansion (cycles tolerated because the
    recursive term is depth-bounded, the standard guard), min-hop
    post-aggregation OUTSIDE the recursion (SQL forbids aggregating the
    recursive term). DuckDB runs its own recursive evaluation of the
    same text, so the two engines' fixpoint machinery must agree
    exactly. Walk volume is seeds * outdeg^depth — a constant here;
    unbounded-frontier BFS at 100 TB belongs to the iterative DataFrame
    loop (dedup_connected_components' pattern), not recursion."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    _, edges = _doc_graph(d, n)
    edges.createOrReplaceTempView("__reach_edges")
    return spark.sql(f"""
WITH RECURSIVE walk(node, depth) AS (
  SELECT DISTINCT src AS node, 0 AS depth
  FROM __reach_edges WHERE src < {_REACH_SEEDS}
  UNION ALL
  SELECT e.dst AS node, w.depth + 1 AS depth
  FROM walk w JOIN __reach_edges e ON e.src = w.node
  WHERE w.depth < {_REACH_DEPTH}
)
SELECT node, CAST(MIN(depth) AS BIGINT) AS hops FROM walk GROUP BY node
""")


# --- structural neighborhood similarity -----------------------------------

# "Related nodes" by neighborhood overlap (SimRank's first hop /
# Jaccard-of-adjacency, the link-graph analog of co-citation): two
# nodes are similar when their undirected neighbor sets overlap.
# Candidate pairs are generated per common neighbor — fan-out is
# degree^2 per node, so a degree cap (mirrored in the oracle) bounds
# the quadratic term exactly like the shingle df-cap in
# dedup_ngram_jaccard. Jaccard is exact-integer; top-k ordering is
# bit-stable because every score is one exact-integer division.
_NBJ_DEGREE_CAP = 64
_NBJ_TOPK = 100

_NBJ_SQL = f"""
WITH nodes AS (
  SELECT doc_id AS node FROM documents
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), e0 AS (
  SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst FROM nodes
  UNION ALL
  SELECT node, (node + 2) % (SELECT n FROM nn) FROM nodes
  UNION ALL
  SELECT node, (node * node + 3) % (SELECT n FROM nn) FROM nodes
), und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM e0 WHERE src <> dst
), adj AS (
  SELECT u AS node, v AS nb FROM und
  UNION ALL
  SELECT v AS node, u AS nb FROM und
), deg AS (
  SELECT node, COUNT(*) AS deg FROM adj GROUP BY node
), hubs AS (
  SELECT node FROM deg WHERE deg BETWEEN 2 AND {_NBJ_DEGREE_CAP}
), pairs AS (
  SELECT a.node AS node_a, b.node AS node_b, COUNT(*) AS shared
  FROM adj a JOIN adj b ON b.nb = a.nb AND a.node < b.node
  WHERE a.nb IN (SELECT node FROM hubs)
  GROUP BY a.node, b.node
)
SELECT p.node_a, p.node_b, p.shared,
       da.deg AS deg_a, db.deg AS deg_b,
       p.shared * 1.0 / (da.deg + db.deg - p.shared) AS jaccard
FROM pairs p
JOIN deg da ON da.node = p.node_a
JOIN deg db ON db.node = p.node_b
ORDER BY jaccard DESC, p.node_a, p.node_b
LIMIT {_NBJ_TOPK}
"""


@query("node_neighbor_jaccard", _NBJ_SQL)
def node_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural similarity over the ring+skip-2+squares doc graph:
    the top-100 node pairs by Jaccard of their undirected
    neighbor sets (deterministic (node_a, node_b) tie-break — the
    exact-integer divisions make the float ordering bit-stable).
    Candidates come only from common neighbors under a degree cap: the
    one quadratic term is degree^2 per node, so a 10^5-degree hub is
    excluded from candidate GENERATION (its own pairs) while still
    counting toward its neighbors' degrees — the same skew bound as the
    shingle df-cap. Everything else is keyed groupBys."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    nodes = d.select(F.col("doc_id").alias("node"))
    e0 = (
        nodes.select(F.col("node").alias("src"), ((F.col("node") + 1) % n).alias("dst"))
        .unionAll(
            nodes.select(
                F.col("node").alias("src"), ((F.col("node") + 2) % n).alias("dst")
            )
        )
        .unionAll(
            nodes.select(
                F.col("node").alias("src"),
                ((F.col("node") * F.col("node") + 3) % n).alias("dst"),
            )
        )
    )
    und = (
        e0.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
        .transform(materialize)
    )
    return neighbor_jaccard_pairs(und)


def neighbor_jaccard_pairs(
    und: DataFrame,
    degree_cap: int = _NBJ_DEGREE_CAP,
    topk: int = _NBJ_TOPK,
) -> DataFrame:
    """Top-k structural-similarity pairs over an undirected edge frame
    (u, v) with u < v — the reusable core behind the gated query."""
    adj = und.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
        und.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    hubs = deg.filter((F.col("deg") >= 2) & (F.col("deg") <= degree_cap)).select(
        F.col("node").alias("nb")
    )
    right = adj.select(F.col("nb").alias("nb_r"), F.col("node").alias("node_b"))
    pairs = (
        adj.join(hubs, "nb", "left_semi")
        .join(
            right,
            (F.col("nb_r") == F.col("nb")) & (F.col("node") < F.col("node_b")),
        )
        .groupBy(F.col("node").alias("node_a"), "node_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("deg_b"))
    jac = F.col("shared") * 1.0 / (F.col("deg_a") + F.col("deg_b") - F.col("shared"))
    return (
        pairs.join(da, "node_a")
        .join(db, "node_b")
        .select("node_a", "node_b", "shared", "deg_a", "deg_b", jac.alias("jaccard"))
        .orderBy(F.desc("jaccard"), "node_a", "node_b")
        .limit(topk)
    )


# --- label propagation communities (3 unrolled sync iterations, gated) -----

# Synchronous LPA (Raghavan et al. 2007) made fully deterministic: every
# node starts as its own label; each iteration every node adopts the
# most frequent label among its (undirected, deduplicated) neighbors,
# ties broken to the SMALLEST label; nodes with no neighbors keep their
# label. A fixed iteration count + integer counts + total tie order make
# the whole loop bit-exact in both engines — the same
# unrolled-generated-CTE gating pattern as pagerank_doc_graph and
# kmeans_lloyd_exact, now covering the community-detection family.
_LPA_ITERATIONS = 3


def _lpa_iter_sql(t: int) -> str:
    return f"""c{t} AS (
  SELECT u.dst AS node, l.lab, COUNT(*) AS c
  FROM und u JOIN l{t - 1} l ON l.node = u.src
  GROUP BY 1, 2
), u{t} AS (
  SELECT node, lab FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
    FROM c{t}
  ) WHERE rn = 1
), l{t} AS (
  SELECT p.node, COALESCE(u.lab, p.lab) AS lab
  FROM l{t - 1} p LEFT JOIN u{t} u ON u.node = p.node
)"""


_LPA_SQL = f"""
WITH nodes AS (
  SELECT doc_id AS node FROM documents
), edges0 AS (
  SELECT node AS src, (node + 1) % (SELECT COUNT(*) FROM nodes) AS dst FROM nodes
  UNION ALL
  SELECT node, (node * node + 3) % (SELECT COUNT(*) FROM nodes) FROM nodes
), und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0)
), l0 AS (
  SELECT node, node AS lab FROM nodes
), {", ".join(_lpa_iter_sql(t) for t in range(1, _LPA_ITERATIONS + 1))}
SELECT node, CAST(lab AS BIGINT) AS community
FROM l{_LPA_ITERATIONS}
ORDER BY node
"""


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = _LPA_ITERATIONS,
    converge: bool = False,
    max_iterations: int = 50,
    info: dict | None = None,
) -> DataFrame:
    """Deterministic synchronous label propagation over (src, dst)
    edges: returns (node, community) after `iterations` rounds, or —
    with ``converge=True`` — after the first round that changes ZERO
    labels (fixpoint) OR reproduces the labels of two rounds ago
    (a period-2 oscillation: SYNCHRONOUS LPA two-cycles on
    bipartite-ish structures — an isolated edge swaps labels forever —
    so a fixpoint may not exist). A detected two-cycle stops
    deterministically and returns the HIGHER-MODULARITY side of the
    cycle (exact Q terms via `modularity_terms`; ties keep the later
    round). ``max_iterations`` remains as a safety cap for any longer
    oscillation; hitting it returns that round's labels.

    Pass ``info={}`` to receive the termination story:
    ``converged`` (True only for a genuine zero-change fixpoint),
    ``two_cycle`` (stopped on a detected period-2 oscillation) and
    ``rounds`` (rounds actually run) — a silent truncation is not
    distinguishable from convergence otherwise.  ``info`` also carries
    ``und``, the loop's materialized symmetrized+distinct edge frame,
    so downstream consumers (modularity_terms) can skip their own
    corpus-sized re-symmetrize/distinct shuffle.

    Scale shape per iteration: ONE keyed join (labels onto the
    symmetrized edge list, keyed by src), one map-side-combinable
    groupBy((node, lab)), and one per-node struct-argmax AGGREGATE
    (max over (count, -label) — ties to the smallest label) — every
    shuffle keyed by node, no sort window, no global stage, no collect.
    Exactly PageRank's exchange profile, so the billion-edge argument
    carries over. Labels materialize per iteration so the lineage (and
    plan) stays linear in the round count; in converge mode the
    changed/two-cycle scalars ride the SAME materialize action as
    ``observe()`` metrics (no separate count job per round)."""
    und = (
        edges.select("src", "dst")
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .transform(materialize)  # reused every iteration: cut the re-derive
    )
    # carry the previous round's label along so the two-cycle test
    # labels(t) == labels(t-2) needs no extra join: __pl is lab(t-1)
    labels = nodes.select(
        "node", F.col("node").alias("lab"), F.col("node").alias("__pl")
    )
    rounds = max_iterations if converge else iterations
    state = {"converged": False, "two_cycle": False, "rounds": 0}
    for _ in range(rounds):
        neigh = und.join(
            labels.select(F.col("node").alias("src"), "lab"), "src"
        ).select(F.col("dst").alias("node"), "lab")
        upd = (
            neigh.groupBy("node", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("lab")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("newlab"))
        )
        nxt = labels.join(upd, "node", "left").select(
            "node",
            F.coalesce("newlab", "lab").alias("lab"),
            F.col("lab").alias("__prev"),
            F.col("__pl").alias("__prev2"),
        )
        if converge:
            obs = Observation()
            nxt = nxt.observe(
                obs,
                F.coalesce(
                    F.sum((F.col("lab") != F.col("__prev")).cast("long")),
                    F.lit(0),
                ).alias("changed"),
                F.coalesce(
                    F.sum((F.col("lab") != F.col("__prev2")).cast("long")),
                    F.lit(0),
                ).alias("changed2"),
            )
        nxt = materialize(nxt)
        state["rounds"] += 1
        if converge:
            m = obs.get  # scalars from the materialize action itself
            labels = nxt.select(
                "node", "lab", F.col("__prev").alias("__pl")
            )
            if m["changed"] == 0:
                state["converged"] = True
                break
            if m["changed2"] == 0 and state["rounds"] >= 2:
                # period-2 oscillation: labels(t) == labels(t-2). Pick
                # the higher-modularity side of the cycle — one bounded
                # Q evaluation per side, termination-time only
                state["two_cycle"] = True
                cur = nxt.select("node", F.col("lab").alias("community"))
                prv = nxt.select("node", F.col("__prev").alias("community"))
                # pass the loop's already-materialized symmetrized edge
                # frame: the two Q evaluations would otherwise each
                # re-symmetrize + distinct the full edge list (round-9
                # ADVICE — two redundant corpus-sized shuffles)
                q_cur = modularity_terms(cur, und=und).agg(
                    F.sum("q_term")
                ).first()[0] or 0.0
                q_prv = modularity_terms(prv, und=und).agg(
                    F.sum("q_term")
                ).first()[0] or 0.0
                if q_prv > q_cur:
                    labels = nxt.select(
                        "node",
                        F.col("__prev").alias("lab"),
                        F.col("__prev2").alias("__pl"),
                    )
                break
        else:
            labels = nxt.select(
                "node", "lab", F.col("__prev").alias("__pl")
            )
    if info is not None:
        info.update(state)
        info["und"] = und
    return labels.select("node", F.col("lab").cast("long").alias("community"))


@query("label_propagation_communities", _LPA_SQL)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_LPA_ITERATIONS}-iteration deterministic LPA over the synthetic
    doc graph (symmetrized, deduplicated) — community detection under
    the exact gate via the unrolled-CTE oracle."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    nodes, edges = _doc_graph(d, n)
    return label_propagation(nodes, edges).orderBy("node")


def modularity_terms(
    labels: DataFrame,
    edges: DataFrame | None = None,
    und: DataFrame | None = None,
) -> DataFrame:
    """Per-community Newman modularity terms of a partition over (src,
    dst) edges: (community, within2, degree_sum, q_term) where, over
    the SYMMETRIZED distinct edge list of size M2 = 2m, within2 = twice
    the community's internal edge count, degree_sum = its total degree,
    and q_term = (within2*M2 - degree_sum^2) / M2^2 — the c-th summand
    of Q = sum_c(e_c/m - (d_c/2m)^2) as an exact integer rational
    pushed through ONE double division, so the whole quality report is
    hash-gateable (no transcendental, no fold-order exposure).

    Scale shape: two keyed joins (labels onto each edge endpoint), one
    map-side-combinable groupBy(community), one broadcast scalar (M2).
    Sum q_term for the partition's Q; self-loops are dropped (they are
    not support in the 2m normalization convention used here).

    ``labels`` need not cover every edge endpoint: M2 is counted over
    the LABELED join, not the raw edge list, so edges with an unlabeled
    endpoint are excluded from numerators and normalizer alike — a
    partial partition yields the modularity of its induced subgraph
    (internally consistent) instead of silently understating Q against
    a full-graph M2. With full coverage (the gated query's case) the
    two counts coincide.

    Callers that already hold the symmetrized+distinct+materialized
    edge frame (label_propagation builds exactly that at loop entry)
    pass it as ``und`` to skip the corpus-sized re-symmetrize/distinct
    shuffle — at two-cycle termination that saves TWO full rebuilds
    (one per cycle side). Self-loops need not be pre-filtered; the
    cheap narrow filter is applied either way."""
    lab = labels.select("node", "community")
    if und is None:
        if edges is None:
            raise ValueError("modularity_terms needs edges or und")
        und = (
            edges.select("src", "dst")
            .unionAll(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .distinct()
            .transform(materialize)
        )
    und = und.filter(F.col("src") != F.col("dst"))
    obs = Observation()
    j = materialize(
        und.join(lab.select(F.col("node").alias("src"),
                            F.col("community").alias("cs")), "src")
        .join(lab.select(F.col("node").alias("dst"),
                         F.col("community").alias("cd")), "dst")
        .observe(obs, F.count(F.lit(1)).alias("m2"))
    )
    # the 2m normalizer counts the LABELED symmetrized edges (== the
    # rows the numerators aggregate), so partial label coverage stays
    # internally consistent; the scalar rides the materialize action
    # (observe), and the groupBy below reuses the materialized frame
    m2 = int(obs.get["m2"])
    agg = j.groupBy(F.col("cs").alias("community")).agg(
        F.sum((F.col("cs") == F.col("cd")).cast("long")).alias("within2"),
        F.count(F.lit(1)).alias("degree_sum"),
    )
    num = F.col("within2") * F.lit(int(m2)) - F.col("degree_sum") * F.col(
        "degree_sum"
    )
    return agg.select(
        F.col("community").cast("long").alias("community"),
        "within2",
        "degree_sum",
        (num.cast("double") / F.lit(float(m2 * m2))).alias("q_term"),
    )


_LPA_MOD_SQL = f"""
WITH nodes AS (
  SELECT doc_id AS node FROM documents
), edges0 AS (
  SELECT node AS src, (node + 1) % (SELECT COUNT(*) FROM nodes) AS dst FROM nodes
  UNION ALL
  SELECT node, (node * node + 3) % (SELECT COUNT(*) FROM nodes) FROM nodes
), und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0)
), l0 AS (
  SELECT node, node AS lab FROM nodes
), {", ".join(_lpa_iter_sql(t) for t in range(1, _LPA_ITERATIONS + 1))},
undm AS (
  SELECT src, dst FROM und WHERE src <> dst
), m2 AS (
  SELECT COUNT(*) AS m2 FROM undm
), j AS (
  SELECT a.lab AS cs, b.lab AS cd
  FROM undm u JOIN l{_LPA_ITERATIONS} a ON a.node = u.src
  JOIN l{_LPA_ITERATIONS} b ON b.node = u.dst
), agg AS (
  SELECT cs AS community,
         CAST(SUM(CASE WHEN cs = cd THEN 1 ELSE 0 END) AS BIGINT) AS within2,
         CAST(COUNT(*) AS BIGINT) AS degree_sum
  FROM j GROUP BY 1
)
SELECT CAST(community AS BIGINT) AS community, within2, degree_sum,
       CAST(within2 * m2.m2 - degree_sum * degree_sum AS DOUBLE)
         / CAST(m2.m2 * m2.m2 AS DOUBLE) AS q_term
FROM agg, m2
ORDER BY community
"""


@query("lpa_modularity", _LPA_MOD_SQL)
def lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Newman modularity terms of the gated LPA partition
    (`label_propagation_communities`) over the same doc graph — the
    community-QUALITY gate the retrieval family already has
    (ann_recall_at_k / dedup_lsh_eval): integer edge/degree sums per
    community, one pinned rational IEEE shape per row."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    nodes, edges = _doc_graph(d, n)
    info: dict = {}
    labels = label_propagation(nodes, edges, info=info)
    # reuse the loop's materialized symmetrized edge frame: passing raw
    # edges would pay a second full symmetrize+distinct+materialize
    # (r12 triage of the r11 lpa_modularity wall drift)
    return modularity_terms(labels, und=info["und"]).orderBy("community")


# --- k-core peeling (fixed rounds, gated) -----------------------------------

# Iterative k-core decomposition made gate-exact the same way as
# LPA/PageRank: a FIXED number of peel rounds, each removing every node
# whose degree in the current induced subgraph is < k. After enough
# rounds this is the k-core; with a fixed count it is a deterministic
# prefix of the peeling (the oracle unrolls the same rounds). Degrees
# count distinct symmetrized neighbors (self-loops dropped — a self
# edge is not support).
_KCORE_K = 4
_KCORE_ROUNDS = 4


def _kcore_iter_sql(t: int) -> str:
    # n{t} is referenced TWICE by round t+1 (both edge endpoints): if
    # DuckDB inlines the chain instead of materializing it, the base
    # graph is re-evaluated 2^rounds times — the 8-round fixpoint
    # oracle took 257 s at sf0.001 (r15, measured; 1.0 s materialized,
    # byte-identical result). MATERIALIZED is an evaluation hint only.
    return f"""deg{t} AS (
  SELECT u.src AS node, COUNT(*) AS deg
  FROM und u
  JOIN n{t - 1} a ON a.node = u.src
  JOIN n{t - 1} b ON b.node = u.dst
  GROUP BY 1
), n{t} AS MATERIALIZED (
  SELECT node FROM deg{t} WHERE deg >= {_KCORE_K}
)"""


_KCORE_SQL = f"""
WITH nodes AS (
  SELECT doc_id AS node FROM documents
), edges0 AS (
  SELECT node AS src, (node + 1) % (SELECT COUNT(*) FROM nodes) AS dst FROM nodes
  UNION ALL
  SELECT node, (node * node + 3) % (SELECT COUNT(*) FROM nodes) FROM nodes
  UNION ALL
  -- a half-permutation third family: without it the base doc graph has
  -- no 4-core at all (round-2 cascade empties it) — this makes the
  -- peeling a gradual, genuinely cascading sequence (496/493/487/477
  -- survivors over 4 rounds at n=500)
  SELECT node, (node * 7 + 11) % (SELECT COUNT(*) FROM nodes) FROM nodes
  WHERE node % 2 = 0
), und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0)
  WHERE src <> dst
), n0 AS (
  SELECT node FROM nodes
), {", ".join(_kcore_iter_sql(t) for t in range(1, _KCORE_ROUNDS + 1))}
SELECT d.node, CAST(d.deg AS BIGINT) AS deg
FROM deg{_KCORE_ROUNDS} d JOIN n{_KCORE_ROUNDS} s ON s.node = d.node
ORDER BY d.node
"""


def kcore_peel(
    nodes: DataFrame,
    edges: DataFrame,
    k: int = _KCORE_K,
    rounds: int | None = _KCORE_ROUNDS,
) -> DataFrame:
    """Peel toward the k-core over (src, dst) edges; returns the
    surviving (node, deg) with deg measured in the last round's induced
    subgraph. ``rounds=N`` runs a fixed prefix of the peeling (the
    gate-exact form — the oracle unrolls the same rounds);
    ``rounds=None`` peels to the FIXPOINT: stop at the first round that
    removes zero nodes (one scalar survivor-count action per round,
    the CC-loop pattern). Unlike sync LPA the peel is monotone — the
    survivor set only shrinks — so the fixpoint always exists and is
    THE k-core; no iteration cap is needed (worst case |nodes| rounds,
    each strictly smaller).

    Scale shape per round: two semi-join-style keyed joins (edge
    endpoints against the surviving node set) + one map-side-combinable
    degree count — PageRank's exchange profile again; survivors shrink
    monotonically so later rounds get cheaper. In fixpoint mode the
    survivor count rides the round's materialize action as an
    ``observe()`` metric — one job per round, not two."""
    if rounds is not None and rounds < 1:
        raise ValueError(f"kcore_peel needs rounds >= 1 or None, got {rounds}")
    und = (
        edges.select("src", "dst")
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(materialize)
    )
    surv = nodes.select("node")
    prev = surv.count() if rounds is None else None
    deg = None
    done = 0
    while rounds is None or done < rounds:
        a = surv.select(F.col("node").alias("src"))
        b = surv.select(F.col("node").alias("dst"))
        # materialize per round: keeps the plan linear in round count
        # instead of re-deriving the whole peel cascade on every join
        raw = (
            und.join(a, "src").join(b, "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .select(F.col("src").alias("node"), "deg")
        )
        if rounds is None:
            obs = Observation()
            raw = raw.observe(
                obs,
                F.coalesce(
                    F.sum((F.col("deg") >= k).cast("long")), F.lit(0)
                ).alias("surv"),
            )
        deg = materialize(raw)
        surv = deg.filter(F.col("deg") >= k).select("node")
        done += 1
        if rounds is None:
            c = int(obs.get["surv"])
            if c == prev:
                break
            prev = c
    return deg.join(surv, "node").select("node", F.col("deg").cast("long").alias("deg"))


# --- k-core FIXPOINT (converge-driven, gated) -------------------------------

# The convergence-driven peel under the exact gate: a fixture whose
# peeling provably reaches its fixpoint within the oracle's unrolled
# depth (measured: 6 rounds at n=500, 5 at n=5000 — survivors 491/4991,
# a genuine multi-round cascade to a NON-empty core), so the oracle can
# unroll a fixed 8 rounds while the query runs the rounds=None loop:
# past the fixpoint every additional unrolled round is a no-op, making
# "loop until zero removals" and "depth-8 prefix" the same relation.
_KCF_ROUNDS = 8

_KCORE_FIX_SQL = f"""
WITH nodes AS (
  SELECT doc_id AS node FROM documents
), edges0 AS (
  SELECT node AS src, (node + 1) % (SELECT COUNT(*) FROM nodes) AS dst FROM nodes
  UNION ALL
  SELECT node, (node * node + 3) % (SELECT COUNT(*) FROM nodes) FROM nodes
  UNION ALL
  SELECT node, (node * 7 + 11) % (SELECT COUNT(*) FROM nodes) FROM nodes
  WHERE node % 2 = 0
  UNION ALL
  SELECT node, (node * 5 + 3) % (SELECT COUNT(*) FROM nodes) FROM nodes
  WHERE node % 3 = 0
), und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0)
  WHERE src <> dst
), n0 AS (
  SELECT node FROM nodes
), {", ".join(_kcore_iter_sql(t) for t in range(1, _KCF_ROUNDS + 1))}
SELECT d.node, CAST(d.deg AS BIGINT) AS deg
FROM deg{_KCF_ROUNDS} d JOIN n{_KCF_ROUNDS} s ON s.node = d.node
ORDER BY d.node
"""


@query("kcore_fixpoint", _KCORE_FIX_SQL)
def kcore_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {_KCORE_K}-core FIXPOINT (kcore_peel(rounds=None) — loop
    until a round removes zero nodes, one scalar count per round) of a
    four-family doc graph, gated against an {_KCF_ROUNDS}-round
    unrolled oracle that provably overshoots the measured convergence
    depth. This is the form that runs at scale — round count adapts to
    the data instead of being a pinned prefix — and it sits under the
    same exact hash gate as the fixed-round twin `kcore_membership`."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    nodes, edges = _doc_graph(d, n)
    e3 = nodes.filter(F.col("node") % 2 == 0).select(
        F.col("node").alias("src"), ((F.col("node") * 7 + 11) % n).alias("dst")
    )
    e4 = nodes.filter(F.col("node") % 3 == 0).select(
        F.col("node").alias("src"), ((F.col("node") * 5 + 3) % n).alias("dst")
    )
    return kcore_peel(
        nodes, edges.unionAll(e3).unionAll(e4), rounds=None
    ).orderBy("node")


@query("kcore_membership", _KCORE_SQL)
def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_ROUNDS} peel rounds toward the {_KCORE_K}-core of the
    symmetrized doc graph, under the exact gate via unrolled CTEs —
    the dense-subgraph extractor of the graph family."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    nodes, edges = _doc_graph(d, n)
    e3 = nodes.filter(F.col("node") % 2 == 0).select(
        F.col("node").alias("src"), ((F.col("node") * 7 + 11) % n).alias("dst")
    )
    return kcore_peel(nodes, edges.unionAll(e3)).orderBy("node")


# --- strongly connected components via pointer jumping ---------------------

# SCC over the FUNCTIONAL doc graph f(u) = (u*u + 3) mod n (out-degree
# exactly 1, no ring edge): the graph decomposes into rho shapes whose
# SCCs are the cycles, plus singleton tail nodes — non-trivial and
# data-dependent (cycle count/length vary with n).
#
# The algorithm is classic PARALLEL POINTER JUMPING (Wyllie's list
# ranking generalized to functional graphs): K = ceil(log2 n) rounds of
# self-join doubling carrying (succ, min-id-on-walk):
#   succ_{k+1}(u) = succ_k(succ_k(u))        -- f^(2^(k+1))
#   min_{k+1}(u)  = least(min_k(u), min_k(succ_k(u)))
# After 2^K >= n steps, succ_K(u) lies on u's cycle for every u, so the
# IMAGE of succ_K is exactly the set of cycle nodes; a cycle node's
# min-on-walk is the min of its cycle (its walk stays in the cycle and
# 2^K >= cycle length), which serves as the SCC id.  Tail nodes are
# singleton SCCs.  O(log n) keyed equi-joins on an n-row frame — no
# quadratic closure, no unbounded frontier; the shape that survives a
# 1000-executor scale-up.  (General digraphs need the FW-BW/coloring
# outer loop; out-degree-1 graphs — retry chains, next-pointer tables,
# canonical-redirect maps — are the common ETL case and close exactly.)

_SCC_SQL = """
WITH RECURSIVE nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
), f AS (
  SELECT doc_id AS u, (doc_id * doc_id + 3) % (SELECT n FROM nn) AS v
  FROM documents
), walk(u, v) AS (
  SELECT u, v FROM f
  UNION
  SELECT w.u, f2.v FROM walk w JOIN f f2 ON f2.u = w.v
), cyc AS (
  SELECT u FROM walk WHERE u = v
), mins AS (
  SELECT u, MIN(v) AS mv FROM walk GROUP BY u
)
SELECT f.u AS node,
       CASE WHEN c.u IS NOT NULL THEN m.mv ELSE f.u END AS scc_id,
       (c.u IS NOT NULL) AS on_cycle
FROM f
LEFT JOIN cyc c ON c.u = f.u
JOIN mins m ON m.u = f.u
"""


def functional_scc(f: DataFrame, n: int | None = None) -> DataFrame:
    """Strongly connected components of a functional graph given as an
    out-degree-1 edge frame ``(node, succ)``: pointer-jumping doubling,
    ceil(log2 n) self-joins, each materialized to keep lineage linear.
    Returns (node, scc_id, on_cycle): cycle nodes share their cycle's
    min id, tail nodes are singletons."""
    if n is None:
        n = f.count()
    rounds = max(1, (max(n, 2) - 1).bit_length())  # ceil(log2 n)
    # successors that are not themselves nodes (dangling pointers —
    # legal when the caller filtered the node set) become PHANTOM
    # absorbing rows: self-looping, with a +inf min so they never win a
    # fold and never appear in the output.  Without them the doubling
    # self-join would silently DROP every chain that dead-ends.
    phantoms = (
        f.select(F.col("succ").alias("node"))
        .join(f.select("node"), "node", "left_anti")
        .distinct()
        .select(
            "node",
            F.col("node").alias("succ"),
            F.lit((1 << 62)).cast("long").alias("minid"),
            F.lit(True).alias("__ph"),
        )
    )
    st = f.select(
        "node", "succ", F.col("node").alias("minid"),
        F.lit(False).alias("__ph"),
    ).unionAll(phantoms)
    for _ in range(rounds):
        other = st.select(
            F.col("node").alias("__n2"),
            F.col("succ").alias("__s2"),
            F.col("minid").alias("__m2"),
        )
        st = (
            st.join(other, st["succ"] == other["__n2"])
            .select(
                "node",
                F.col("__s2").alias("succ"),
                F.least("minid", "__m2").alias("minid"),
                "__ph",
            )
            .transform(materialize)
        )
    real = st.filter(~F.col("__ph"))
    cycle_nodes = (
        real.select(F.col("succ").alias("__cn"))
        .distinct()
        .join(  # a walk absorbed by a phantom ends OFF-cycle
            st.filter(F.col("__ph")).select(F.col("node").alias("__cn")),
            "__cn",
            "left_anti",
        )
    )
    return (
        real.join(cycle_nodes, real["node"] == cycle_nodes["__cn"], "left")
        .select(
            "node",
            F.when(F.col("__cn").isNotNull(), F.col("minid"))
            .otherwise(F.col("node"))
            .alias("scc_id"),
            F.col("__cn").isNotNull().alias("on_cycle"),
        )
    )


@query("scc_functional_graph", _SCC_SQL)
def scc_functional_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC membership of the functional doc graph u -> (u*u+3) mod n by
    log-round pointer jumping, gated against DuckDB's own recursive
    transitive closure of the same graph (cycle test (u,u), SCC id =
    min reachable id — equivalent on out-degree-1 graphs because a
    cycle node's reachable set IS its cycle)."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    f = d.select(
        F.col("doc_id").alias("node"),
        ((F.col("doc_id") * F.col("doc_id") + 3) % n).alias("succ"),
    )
    return functional_scc(f, n)


# --- DAG longest-path levels (topological layering) -------------------------

# A DAG whose every edge at least doubles the node id (u -> 2u+1,
# u -> 2u+2, u -> 3u+2, targets < n) has longest-path length <= log2 n:
# along any path x_{k+1} >= 2*x_k + 1, so x_k >= 2^k - 1.  Bellman-Ford
# relaxation therefore converges in ceil(log2(n+1)) rounds — the level
# assignment (critical-path depth) every scheduler/lineage system needs,
# with a round count that is LOGARITHMIC by construction rather than
# diameter-bound-hopeful.

def dag_longest_levels(nodes: DataFrame, edges: DataFrame,
                       rounds: int) -> DataFrame:
    """Longest-path-from-source level per node of a DAG via monotone
    max-plus relaxation: lv(v) <- max(lv(v), max over u->v of lv(u)+1)
    until fixpoint (at most ``rounds`` rounds — the caller supplies a
    provable bound on the longest path).  Returns (node, level).

    Work-list Bellman-Ford: after round t only nodes whose level
    CHANGED in round t can improve a successor, so each round joins
    the edge frame against the changed FRONTIER only — late rounds
    touch a vanishing fraction of the edges instead of re-relaxing
    all of them (the classic frontier optimization; round count is
    unchanged, per-round work shrinks with the frontier).  One
    materialize per round: the level update left-joins the frontier's
    relaxed candidates and carries a ``changed`` flag, whose count
    rides the action via observe() — the next frontier is a filter on
    the already-materialized result, not a recompute.

    Raises ``RuntimeError`` if the bound is exhausted while the
    frontier is still non-empty (mirroring two_phase_star_cc): a
    too-small bound must fail loudly, not return short levels.  The
    loop runs ``rounds + 1`` iterations before concluding the bound
    was violated: a longest path of EXACTLY ``rounds`` hops still
    changes nodes in round ``rounds`` (fixpoint reached, not yet
    confirmed), so only a change in the extra confirmation round
    proves a path longer than the bound (the r11 ADVICE finding — a
    caller passing the tight bound must not get a spurious failure).
    A slack bound never pays for the extra round: the loop breaks at
    the first empty frontier."""
    lv = nodes.select("node", F.lit(0).cast("long").alias("lv"))
    # materialize the edge frame ONCE: every round joins it, and an
    # unmaterialized plan would re-derive it (scans and all) per round
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).transform(
        materialize
    )
    frontier = lv
    pending: int | None = None
    for _ in range(rounds + 1):
        # ONE exchange per round, same as the full-relaxation form, but
        # the union carries only the FRONTIER's contributions: base
        # levels tagged __base ride along so max(lv) vs max(base lv)
        # yields both the update and the changed flag in one groupBy.
        contrib = frontier.join(e, frontier["node"] == e["u"]).select(
            F.col("v").alias("node"),
            (F.col("lv") + 1).alias("lv"),
            F.lit(False).alias("__base"),
        )
        changed = F.col("lv") > F.coalesce("__old", F.lit(-1))
        obs = Observation()
        upd = (
            lv.select("node", "lv", F.lit(True).alias("__base"))
            .unionAll(contrib)
            .groupBy("node")
            .agg(
                F.max("lv").cast("long").alias("lv"),
                F.max(F.when(F.col("__base"), F.col("lv")))
                .cast("long")
                .alias("__old"),
            )
            .observe(
                obs,
                F.sum(F.when(changed, 1).otherwise(0)).alias("c"),
            )
            .transform(materialize)
        )
        lv = upd.select("node", "lv")
        pending = int(obs.get["c"] or 0)
        if pending == 0:
            break
        frontier = upd.filter(changed).select("node", "lv")
    if pending:
        raise RuntimeError(
            f"dag_longest_levels: frontier still has {pending} improving"
            f" node(s) after {rounds} rounds — the bound is below the"
            " longest path (graph may not be the promised DAG family)"
        )
    return lv.select("node", F.col("lv").alias("level"))


_DAG_SQL = """
WITH RECURSIVE nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
), e0 AS (
  SELECT doc_id AS u, 2 * doc_id + 1 AS v FROM documents
  WHERE 2 * doc_id + 1 < (SELECT n FROM nn)
  UNION ALL
  SELECT doc_id, 2 * doc_id + 2 FROM documents
  WHERE 2 * doc_id + 2 < (SELECT n FROM nn)
  UNION ALL
  SELECT doc_id, 3 * doc_id + 2 FROM documents
  WHERE 3 * doc_id + 2 < (SELECT n FROM nn)
), e AS (
  SELECT DISTINCT u, v FROM e0
), walk(node, depth) AS (
  SELECT doc_id, 0 FROM documents
  WHERE doc_id NOT IN (SELECT v FROM e)
  UNION
  SELECT e.v, w.depth + 1 FROM walk w JOIN e ON e.u = w.node
)
SELECT node, CAST(MAX(depth) AS BIGINT) AS level FROM walk GROUP BY node
"""


@query("dag_longest_levels", _DAG_SQL)
def dag_longest_levels_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical-path levels of the doubling DAG over doc ids (edges
    u -> 2u+1 / 2u+2 / 3u+2): Bellman-Ford max-plus relaxation with a
    log2(n)-round convergence bound guaranteed by the edge family,
    gated against DuckDB's depth-tagged recursive walk from the
    sources.  Every node is source-reachable (a maximal path's start
    has no in-edge), so the level sets agree exactly."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    nodes = d.select(F.col("doc_id").alias("node"))
    fams = [
        (2, 1), (2, 2), (3, 2),
    ]
    e = None
    for a, b in fams:
        part = nodes.filter(F.col("node") * a + b < n).select(
            F.col("node").alias("src"),
            (F.col("node") * a + b).alias("dst"),
        )
        e = part if e is None else e.unionAll(part)
    e = e.distinct()
    rounds = max(1, int(n).bit_length()) + 1  # > log2(n+1) path bound
    return dag_longest_levels(nodes, e, rounds)


# --- connected components by alternating large-star / small-star -----------

# The Kiveris et al. algorithm ("Connected Components in MapReduce and
# Beyond", SoCC 2014) — the published trillion-edge CC used when even
# the edge-induced subgraph is too big for per-round full-frontier
# min-label propagation (dedup.connected_components' iterative path).
# Each round rewires edges toward local minima:
#   large-star(u): m = min(N(u) + {u}); for v in N(u), v > u: edge (v, m)
#   small-star(u): S = {v in N(u): v <= u} + {u}, m = min S;
#                  for v in S, v != m: edge (v, m)
# Alternating LS/SS contracts path distances like pointer halving, so
# rounds are logarithmic in component diameter; each round is ONE
# groupBy(node) + one distinct on the (shrinking) edge set.  On
# convergence the edges form stars: every node points at its
# component's minimum.

def two_phase_star_cc(edges: DataFrame, nodes: DataFrame | None = None,
                      a_col: str = "src", b_col: str = "dst",
                      id_col: str = "node",
                      max_rounds: int = 32) -> DataFrame:
    """Connected components of an undirected edge list via alternating
    large-star/small-star rounds.  Returns (id_col, component).

    Convergence is detected by an exact (count, keyed-sum) fingerprint
    of the canonical edge set riding each round's materialize via
    observe(); both star transforms are idempotent on a converged star
    forest, so a stable fingerprint is permanent (the per-query oracle
    independently verifies the labels, so a fingerprint collision
    cannot ship a wrong answer silently)."""

    def _canonical(df: DataFrame) -> DataFrame:
        # INVARIANT (load-bearing for the r14 star rewrites below): the
        # loop's edge frame is STRICTLY canonical — a < b on every row,
        # no self-loops, no duplicates. The large-star probe "sym rows
        # with nbr > node" == e, and the small-star filter "nbr <=
        # node" == ls, are only equivalences BECAUSE of this. Both the
        # entry frame and every round's output must pass through this
        # helper; weakening it silently breaks both rewrites (r14
        # ADVICE #1).
        return (
            df.filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
            )
            .distinct()
        )

    e = (
        edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .transform(_canonical)
        .transform(materialize)
    )
    prev_sig: tuple[int, int] | None = None
    for r in range(max_rounds):
        # ---- large-star: neighbors larger than u point at u's min.
        # e is canonical (a < b strictly), so the textbook probe side
        # "sym rows with nbr > node" is exactly e itself renamed — the
        # symmetric frame is built ONLY for the min aggregation, and
        # the reversed branch is never scanned just to be filtered out.
        en = e.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        sym = en.unionAll(
            e.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
        )
        mins = sym.groupBy("node").agg(
            F.least(F.min("nbr"), F.first("node")).alias("m")
        )
        ls = en.join(mins, "node").select(
            F.col("nbr").alias("a"), F.col("m").alias("b")
        )
        # ---- small-star over the large-star output.  Every ls edge
        # has a > b by construction (b = m <= node < nbr = a), so the
        # symmetric-frame filter "nbr <= node" keeps exactly ls and
        # drops the whole reversed branch; and the per-node self rows
        # (node, node) only ever emit one (node, m) edge for nodes that
        # appear as an ls source — one row per mins2 group.  Building
        # sym2 + a distinct over it (one data-scale exchange and 2-3
        # recomputations of the large-star join per round) is therefore
        # equivalent to ls ⋈ mins2 plus a union of mins2 itself, whose
        # exchange is shared with the aggregation.  Bag-identical edge
        # multiset each round → identical fingerprint and convergence.
        sm = ls.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        mins2 = sm.groupBy("node").agg(F.min("nbr").alias("m"))
        ss = (
            sm.join(mins2, "node")
            .filter(F.col("nbr") != F.col("m"))
            .select(F.col("nbr").alias("a"), F.col("m").alias("b"))
            .unionAll(
                mins2.filter(F.col("node") != F.col("m")).select(
                    F.col("node").alias("a"), F.col("m").alias("b")
                )
            )
        )
        obs = Observation()
        e = (
            ss.transform(_canonical)  # re-establish the strict a < b invariant
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.col("a") * 1048573 + F.col("b")), F.lit(0)
                ).alias("s"),
            )
            .transform(materialize)
        )
        sig = (int(obs.get["n"]), int(obs.get["s"]))
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # an unconverged edge set is NOT a star forest — the parent
        # extraction below would emit duplicate, conflicting labels;
        # fail loudly instead of shipping them
        raise RuntimeError(
            f"two_phase_star_cc did not converge in {max_rounds} rounds"
        )
    # converged star forest in (least, greatest) canonical form: each
    # edge is (root=component min, child), so children key on b
    parents = e.select(F.col("b").alias(id_col),
                       F.col("a").alias("component"))
    roots = (
        e.select(F.col("a").alias(id_col)).distinct()
        .join(parents, id_col, "left_anti")
        .select(id_col, F.col(id_col).alias("component"))
    )
    labeled = parents.unionAll(roots)
    if nodes is None:
        return labeled
    return (
        nodes.select(id_col).distinct()
        .join(labeled, id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )


_STAR_CC_SQL = """
WITH RECURSIVE nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
), e0 AS (
  SELECT doc_id AS a, doc_id + 1 AS b FROM documents
  WHERE doc_id + 1 < (SELECT n FROM nn) AND doc_id % 13 <> 12
  UNION ALL
  SELECT doc_id, doc_id + 5 FROM documents
  WHERE doc_id + 5 < (SELECT n FROM nn) AND doc_id % 29 = 0
), edges AS (
  SELECT a AS src, b AS dst FROM e0
  UNION
  SELECT b, a FROM e0
), walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, w.label FROM walk w JOIN edges e ON e.dst = w.node
)
SELECT node AS doc_id, MIN(label) AS component,
       MIN(label) = node AS is_canonical
FROM walk GROUP BY node
"""


@query("cc_two_phase_star", _STAR_CC_SQL)
def cc_two_phase_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-star/small-star connected components over an irregular
    chain+chord doc graph (chains broken every 13 ids, sparse +5
    chords merging adjacent chains), gated against the recursive
    min-label closure.  The edge-rewiring CC complements the
    min-label-propagation CC (dedup.connected_components): rounds
    follow log(component diameter) with the edge set SHRINKING toward
    a star forest, instead of a full-frontier label frame every
    round."""
    d = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = d.count()
    ids = d.select(F.col("doc_id").alias("node"))
    e1 = ids.filter(
        (F.col("node") + 1 < n) & (F.col("node") % 13 != 12)
    ).select(F.col("node").alias("src"), (F.col("node") + 1).alias("dst"))
    e2 = ids.filter(
        (F.col("node") + 5 < n) & (F.col("node") % 29 == 0)
    ).select(F.col("node").alias("src"), (F.col("node") + 5).alias("dst"))
    labeled = two_phase_star_cc(e1.unionAll(e2), nodes=ids)
    return labeled.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("component") == F.col("node")).alias("is_canonical"),
    )
