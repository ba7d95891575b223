"""Semantic checks for the feature-engineering operators (features.py)
beyond the differential hash gate."""

from __future__ import annotations

import pyspark.sql.functions as F

from fastetl_spark.operators.features import (
    _CHUNK_STRIDE,
    _CHUNK_W,
    doc_chunk_overlap,
    decayed_user_scores,
    mixture_temperature_weights,
    value_decile_bins,
)

SF = "/root/testdata/sf0.001"


def test_chunks_cover_text_with_overlap(spark):
    out = doc_chunk_overlap(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    joined = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.max(F.col("start") + F.col("chunk_len") - 1).alias("covered"),
        F.min("chunk_len").alias("min_len"),
    ).join(docs.select("doc_id", F.length("text").alias("n")), "doc_id")
    rows = joined.collect()
    assert rows
    for r in rows:
        # last chunk reaches the end of the text; every chunk is non-empty
        # and at most the window width; chunk count matches the stride walk
        assert r.covered == r.n
        assert 0 < r.min_len <= _CHUNK_W
        assert r.n_chunks == (max(r.n - 1, 0) // _CHUNK_STRIDE) + 1


def test_decile_bins_partition_each_type(spark):
    out = value_decile_bins(spark, SF)
    agg = out.groupBy("event_type").agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("nbins"),
        F.min("bin").alias("lo"),
        F.max("bin").alias("hi"),
    )
    ev_counts = {
        r.event_type: r["count"]
        for r in spark.read.parquet(f"{SF}/events.parquet").groupBy("event_type").count().collect()
    }
    for r in agg.collect():
        assert r.total == ev_counts[r.event_type]
        assert (r.nbins, r.lo, r.hi) == (10, 1, 10)
    # bins are contiguous, non-overlapping value ranges
    for r in out.orderBy("event_type", "bin").collect():
        assert r.min_v <= r.max_v


def test_mixture_shares_sum_to_one(spark):
    rows = mixture_temperature_weights(spark, SF).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-12
    # temperature flattens: share spread is narrower than token spread
    toks = [r.tokens for r in rows]
    shares = [r.share for r in rows]
    assert max(shares) / min(shares) <= max(toks) / min(toks)


def test_decayed_scores_bounded_by_undecayed(spark):
    out = decayed_user_scores(spark, SF)
    ev = spark.read.parquet(f"{SF}/events.parquet").filter(F.col("value") >= 0)
    raw = ev.groupBy("user_id").agg(F.sum(F.floor(F.col("value") * 1_000_000)).alias("raw"))
    j = out.join(raw, "user_id").collect()
    assert j
    assert all(r.decayed_score <= r.raw for r in j)


def test_engine_chunk_and_semantic_dedup_facades(spark):
    from fastetl_spark.operators.curation2 import semantic_dedup
    from fastetl_spark.operators.features import chunk_text

    docs = spark.createDataFrame(
        [(1, "en", "x" * 400), (2, "pt", "y" * 100)], "doc_id long, lang string, text string"
    )
    out = chunk_text(docs, width=200, stride=150)
    assert set(out.columns) == {"doc_id", "lang", "chunk_idx", "start", "chunk"}
    per = {r.doc_id: r.n for r in out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per == {1: 3, 2: 1}  # 400 chars -> starts 1,151,301; 100 -> 1

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    sd = semantic_dedup(vecs, "vec_id", "embedding")
    assert sd.count() == vecs.count()


def test_oov_rate_monotone_in_vocab_size(spark):
    from fastetl_spark.operators.features import oov_rate_by_vocab_k

    rows = sorted(oov_rate_by_vocab_k(spark, SF).collect(), key=lambda r: r.vocab_k)
    assert len(rows) == 3
    rates = [r.oov_rate for r in rows]
    assert rates == sorted(rates, reverse=True)  # bigger vocab -> fewer OOV
    for r in rows:
        assert 0.0 <= r.oov_rate <= 1.0 and r.oov_tokens <= r.total_tokens


def test_seq_length_buckets_cumulate_to_one(spark):
    from fastetl_spark.operators.features import seq_length_buckets

    rows = sorted(seq_length_buckets(spark, SF).collect(), key=lambda r: r.bucket)
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-12
    assert abs(rows[-1].cum_token_share - 1.0) < 1e-12
    cums = [r.cum_token_share for r in rows]
    assert cums == sorted(cums)


def test_zscore_params_match_numpy(spark):
    import numpy as np

    from fastetl_spark.operators.features import embedding_dim_zscore_params

    rows = {r.dim: r for r in embedding_dim_zscore_params(spark, SF).collect()}
    vecs = np.array(
        [r.embedding for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()],
        dtype=np.float64,
    )
    q = np.floor(vecs * 1_000_000)
    assert len(rows) == vecs.shape[1]
    for d in (0, vecs.shape[1] // 2, vecs.shape[1] - 1):
        assert rows[d].sum_q == int(q[:, d].sum())
        assert abs(rows[d].mean_q - q[:, d].mean()) < 1e-6
        assert abs(rows[d].std_q - q[:, d].std()) < 1e-3


def test_weighted_sample_wor_properties(spark):
    from fastetl_spark.operators.sampling import weighted_sample_wor

    rows = [(i, "s%d" % (i % 3), 1.0 if i != 7 else 1e9) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    out = weighted_sample_wor(df, "source", "doc_id", "w", k=4)
    got = out.collect()
    per = {}
    for r in got:
        per.setdefault(r.source, []).append(r.doc_id)
    assert all(len(v) == 4 for v in per.values())
    # overwhelming weight -> always sampled (e-key ~ u/1e9)
    assert 7 in per["s1"]
    # deterministic across reruns
    again = sorted(map(tuple, weighted_sample_wor(df, "source", "doc_id", "w", k=4).collect()))
    assert again == sorted(map(tuple, got))


def test_bpe_merge_loop_matches_reference_trainer(spark):
    """The distributed merge loop must agree with a straightforward
    single-process BPE trainer (overlap-counted pair stats, argmax with
    the (n DESC, x, y) tie-break, leftmost-greedy application) on every
    token count after N merges."""
    from collections import Counter

    from fastetl_spark.operators.features import bpe_merge_loop_tokens

    texts = [
        "hug hug hug pug pun bun hugs",
        "hug pug pun pun hugs bun hug",
        "aaa aa aaaa banana banana bandana",
    ]

    def ref_bpe(texts, iterations):
        vocab = Counter(w for t in texts for w in t.split(" ") if w)
        seqs = {w: [c for c in w] for w in vocab}
        for _ in range(iterations):
            pc = Counter()
            for w, f in vocab.items():
                s = seqs[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += f
            if not pc:
                break
            best = min(pc, key=lambda p: (-pc[p], p[0], p[1]))
            for w in seqs:
                s, out, i = seqs[w], [], 0
                while i < len(s):
                    if (
                        i + 1 < len(s)
                        and (s[i], s[i + 1]) == best
                    ):
                        out.append(s[i] + s[i + 1])
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                seqs[w] = out
            # leftmost-greedy means a merged token never re-merges with
            # the element it just consumed — matched by replace() scan
        counts = Counter()
        for w, f in vocab.items():
            for t in seqs[w]:
                counts[t] += f
        return counts

    for iters in (1, 3, 5):
        expect = ref_bpe(texts, iters)
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = {
            r["token"]: r["n"]
            for r in bpe_merge_loop_tokens(docs, iterations=iters, top=1000).collect()
        }
        assert got == dict(expect), (iters, got, dict(expect))


def test_bpe_train_depth_monotone(spark):
    """Deeper training always completes its merge budget on a corpus
    with pairs left, and the total corpus token count contracts
    monotonically with depth (each merge replaces >= 1 two-token
    occurrence with one token). Per-merge walls stay flat out to 64
    merges — PERF.md #38."""
    from fastetl_spark.io.readers import ensure_parallelism, read_table
    from fastetl_spark.operators.features import _bpe_train

    docs = ensure_parallelism(
        read_table(spark, "/root/testdata/sf0.001", "documents")
    )

    def total_tokens(vocab):
        from pyspark.sql import functions as F

        from fastetl_spark.operators.features import _BPE_SEP

        return vocab.select(
            F.sum(
                F.col("freq")
                * F.size(
                    F.split(
                        F.expr("substring(seq, 2, length(seq) - 2)"),
                        _BPE_SEP + _BPE_SEP,
                    )
                )
            ).alias("t")
        ).first()["t"]

    counts = []
    for depth in (1, 3, 6):
        timings: list = []
        vocab = _bpe_train(docs, depth, timings=timings)
        assert len(timings) == depth  # loop ran its full budget
        assert all(t["pair_count"] >= 1 for t in timings)
        counts.append(total_tokens(vocab))
    assert counts == sorted(counts, reverse=True)
    assert counts[-1] < counts[0]  # merges genuinely contracted tokens


def test_vocab_oov_histogram_matches_ranked_and_plan(spark):
    """The histogram/suffix-sum OOV core is bit-equal to the ranked
    form on tie-heavy vocabularies (boundary token mass is
    tie-invariant) and plans NO single-partition exchange — the point
    of round-8 ask #7."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fastetl_spark.operators.features import vocab_oov_from_histogram

    rng = random.Random(8)
    # tie-heavy: counts drawn from a small set so every k boundary
    # lands inside a tie group; spread cnt range to exercise bucketing
    rows = [(f"t{i}", rng.choice([1, 2, 3, 5, 5, 5, 8, 8, 1000, 40000]))
            for i in range(500)]
    counts = spark.createDataFrame(rows, "term string, cnt long")
    ks = (1, 7, 100, 499, 500, 501, 1000)
    got = sorted(
        map(tuple, vocab_oov_from_histogram(counts, ks=ks,
                                            max_buckets=16).collect())
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    ks_df = spark.createDataFrame([(k,) for k in ks], "vocab_k int")
    want = sorted(
        map(
            tuple,
            ks_df.crossJoin(ranked)
            .groupBy("vocab_k")
            .agg(
                F.sum("cnt").alias("total_tokens"),
                F.coalesce(
                    F.sum(F.when(F.col("rnk") > F.col("vocab_k"),
                                 F.col("cnt"))),
                    F.lit(0),
                ).alias("oov_tokens"),
            )
            .select(
                "vocab_k",
                "total_tokens",
                "oov_tokens",
                (F.col("oov_tokens").cast("double")
                 / F.col("total_tokens").cast("double")).alias("oov_rate"),
            )
            .collect(),
        )
    )
    assert got == want
    plan = (
        vocab_oov_from_histogram(counts, ks=ks, max_buckets=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan
    # empty vocabulary: report survives with NaN rates
    empty = spark.createDataFrame([], "term string, cnt long")
    out = vocab_oov_from_histogram(empty, ks=(4,)).collect()
    assert len(out) == 1 and out[0]["total_tokens"] == 0
