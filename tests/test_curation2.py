"""Semantic checks for the similarity-space curation extensions
(curation2.py) beyond the differential hash gate: planted duplicates
are found, keep/drop bookkeeping is consistent, winsorize bounds are
true order statistics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fastetl_spark.operators.curation2 import (
    semantic_dedup,
    sparse_cosine_pairs,
    winsorize_event_values,
)

SF = "/root/testdata/sf0.001"


def test_semantic_dedup_finds_planted_twin(spark):
    # 40 spread-out base vectors + one near-copy of vec 3: the copy must
    # be dropped as a duplicate of 3; everything else kept.
    base = [
        (i, [float((i * 7 + k * 3) % 13 - 6) / 6.0 for k in range(8)]) for i in range(40)
    ]
    twin = (100, [x + 1e-4 for x in base[3][1]])
    df = spark.createDataFrame(base + [twin], "vec_id long, embedding array<double>")
    out = semantic_dedup(df, "vec_id", "embedding", n_centroids=4, threshold_pct=99)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == 41
    assert rows[100].dup_of == 3 and not rows[100].is_kept
    assert rows[3].is_kept
    # dup_of always points at a kept smaller id in the same cell
    for r in rows.values():
        if r.dup_of is not None:
            assert r.dup_of < r.vec_id
            assert rows[r.dup_of].cell == r.cell


def test_semantic_dedup_cells_cover_all_vectors(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = semantic_dedup(df, "vec_id", "embedding")
    assert out.count() == df.count()
    assert out.filter(F.col("cell").isNull()).count() == 0


def test_sparse_cosine_identical_docs_score_one(spark):
    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "one two three four five six seven eight nine"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = sparse_cosine_pairs(df, df_cap=10, threshold_tenths=5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.dot_tt == r.nn_a == r.nn_b  # identical tf vectors
    assert r.sim == pytest.approx(1.0)


def test_sparse_cosine_df_cap_drops_hot_shingle(spark):
    # the shared hot shingle appears in all 5 docs; with cap=4 it leaves
    # the vocabulary so no pair survives
    docs = [(i, "common shingle here unique%d tail%d word%d" % (i, i, i)) for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    assert sparse_cosine_pairs(df, df_cap=4, threshold_tenths=1).count() == 0


def test_winsorize_bounds_are_order_statistics(spark):
    out = {r.event_type: r for r in winsorize_event_values(spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet")
    for etype, r in out.items():
        vals = sorted(
            x.value for x in ev.filter(F.col("event_type") == etype).select("value").collect()
        )
        n = len(vals)
        assert r.n == n
        # DISC convention: element at rank ceil(p*n), exact integers
        assert r.lo == vals[(5 * n + 99) // 100 - 1]
        assert r.hi == vals[(95 * n + 99) // 100 - 1]
        assert r.n_below == sum(1 for v in vals if v < r.lo)
        assert r.n_above == sum(1 for v in vals if v > r.hi)
        assert r.n_below <= 0.05 * n and r.n_above <= 0.05 * n + 1


def test_engine_near_dup_pairs_dispatcher(spark):
    """Every near-dup pair family pairs identical docs, smaller id
    first."""
    from fastetl_spark.operators import dedup
    from fastetl_spark.operators.curation2 import sparse_cosine_pairs

    base = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra"), (4, "totally different words here now ok fine yes")],
        "doc_id long, text string",
    )
    for pairs_of, id_cols in [
        (dedup.exact_dup_pairs, ("doc_a", "doc_b")),
        (dedup.ngram_jaccard_pairs, ("doc_a", "doc_b")),
        (sparse_cosine_pairs, ("doc_a", "doc_b")),
        (dedup.minhash_lsh_pairs, ("id_a", "id_b")),
        (dedup.simhash_pairs, ("doc_a", "doc_b")),
    ]:
        out = pairs_of(docs)
        pairs = {(r[id_cols[0]], r[id_cols[1]]) for r in out.collect()}
        name = pairs_of.__name__
        assert (1, 2) in pairs, name  # identical docs always pair
        assert all(a < b for a, b in pairs), name


def test_semantic_dedup_increment_flags_planted_twin(spark):
    from fastetl_spark.operators.curation2 import semantic_dedup_increment

    base = [
        (i, [float((i * 7 + k * 3) % 13 - 6) / 6.0 for k in range(8)]) for i in range(40)
    ]
    corpus = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    inc = spark.createDataFrame(
        [(100, [x + 1e-4 for x in base[5][1]]), (101, [9.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in semantic_dedup_increment(
        corpus, inc, "vec_id", "embedding", n_centroids=4, threshold_pct=99
    ).collect()}
    assert len(out) == 2
    assert out[100].dup_of == 5 and not out[100].is_new
    assert out[101].is_new and out[101].dup_of is None


def test_semantic_dedup_increment_intra_batch_and_rerun_safe(spark):
    """Review findings: twins arriving in one batch dedup against each
    other; re-running against a corpus that already absorbed the batch
    does not self-match."""
    from fastetl_spark.operators.curation2 import semantic_dedup_increment

    base = [
        (i, [float((i * 7 + k * 3) % 13 - 6) / 6.0 for k in range(8)]) for i in range(40)
    ]
    corpus = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    twin_vec = [x + 1e-4 for x in base[5][1]]
    inc = spark.createDataFrame(
        [(200, twin_vec), (201, twin_vec)], "vec_id long, embedding array<double>"
    )
    out = {r.vec_id: r for r in semantic_dedup_increment(
        corpus, inc, "vec_id", "embedding", n_centroids=4, threshold_pct=99
    ).collect()}
    assert out[200].dup_of == 5          # corpus twin
    assert out[201].dup_of == 5          # min(corpus 5, batch-mate 200)
    # re-run case: corpus already contains the batch rows
    absorbed = corpus.unionByName(inc)
    out2 = {r.vec_id: r for r in semantic_dedup_increment(
        absorbed, inc, "vec_id", "embedding", n_centroids=4, threshold_pct=99
    ).collect()}
    assert out2[200].dup_of == 5         # never its own id
    assert all(r.dup_of != r.vec_id for r in out2.values() if r.dup_of is not None)


def test_semantic_dedup_accepts_trained_centroids(spark):
    from fastetl_spark.operators.curation2 import semantic_dedup

    base = [
        (i, [float((i * 7 + k * 3) % 13 - 6) / 6.0 for k in range(8)]) for i in range(24)
    ]
    df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    cents = [r.embedding for r in df.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()]
    a = semantic_dedup(df, "vec_id", "embedding", n_centroids=4)
    b = semantic_dedup(df, "vec_id", "embedding", centroids=cents)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_chunk_text_rejects_clashing_columns(spark):
    from fastetl_spark.operators.features import chunk_text

    df = spark.createDataFrame([(1, 5, "abc")], "doc_id long, start long, text string")
    with pytest.raises(ValueError, match="start"):
        chunk_text(df)


def test_sparse_cosine_survives_repetitive_spam_doc(spark):
    """Review finding: squared-threshold comparison must not overflow
    BIGINT when a spammy doc repeats one phrase tens of thousands of
    times (tf ~ 3e4 -> nn ~ 1e9 -> nn_a*nn_b*t2 ~ 2e19 > 2^63)."""
    phrase = "buy cheap pills now "
    spam = phrase * 30_000
    docs = spark.createDataFrame(
        [(1, spam), (2, spam), (3, "something completely different here")],
        "doc_id long, text string",
    )
    out = sparse_cosine_pairs(docs, df_cap=10, threshold_tenths=5).collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(1, 2)}
    assert out[0].nn_a > 2**31  # the regime that used to overflow when squared


def test_ngram_contamination_planted_leak(spark):
    """A planted 8-gram leak is found exactly; clean docs report zero
    hits; short docs (< n tokens) are excluded (they cannot leak)."""
    from fastetl_spark.operators.curation import ngram_contamination

    leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    train = spark.createDataFrame(
        [
            (1, "intro words " + leak + " trailing text here"),
            (2, "totally clean document with eight distinct words okay"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "benchmark question " + leak + " benchmark answer")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ngram_contamination(train, ev).collect()}
    assert set(got) == {1, 2}  # doc 3 has no 8-gram
    assert got[1]["contaminated"] and got[1]["n_hits"] == 1
    assert not got[2]["contaminated"] and got[2]["n_hits"] == 0
    # n_grams counts DISTINCT grams of the doc itself
    words = ("intro words " + leak + " trailing text here").split()
    grams = {" ".join(words[i:i + 8]) for i in range(len(words) - 7)}
    assert got[1]["n_grams"] == len(grams)


_QM_VANILLA_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
import __spark_entry__ as m

spark = (
    SparkSession.builder.master("local[8]")
    .appName("vanilla-qm-regression")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
n = m.queries()["quantile_mapping_normalize"](spark, {sf_dir!r}).count()
print("QM_ROWS", n)
spark.stop()
"""


@pytest.mark.slow  # full gate only: an sf0.1 heap-regression canary; the operator's correctness runs in the default profile via the quantile_mapping_normalize oracle gate + test_quantile_map_approx_within_one_level
def test_quantile_mapping_completes_on_default_heap_sf01():
    """Regression for the r12 scale-shape finding: the global grid used
    to be a x129 percentile_disc gather whose keyless merge buffered the
    FULL value multiset in one task — it OOM'd a default-config (1g
    driver heap) local[8] session at sf0.1.  The grid now rides the
    distributed exact-selection path (rank_quantiles), so the same
    vanilla session must complete.  Runs in a FRESH subprocess because
    driver heap is fixed at JVM launch."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 testdata not present")
    p = subprocess.run(
        [sys.executable, "-c", _QM_VANILLA_SCRIPT.format(repo=repo, sf_dir=sf_dir)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=repo,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    assert "QM_ROWS 100000" in p.stdout
