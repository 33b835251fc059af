"""Corpus-statistics scoring (BM25, bigram LM) and embedding
transforms (normalize / pool / quantize) — semantic pins on tiny
hand-checkable inputs plus shape checks on the test parquet."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators.embeddings import (
    l2_normalize,
    mean_pool,
    quantize_int8,
)
from data_integration_and_harmonization_spark.operators.scoring import (
    bigram_lm_scores,
    bm25_scores,
    inverted_index,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "spark shuffles the hash table"),
        (1, "the window over the window frame"),
        (2, "spark spark spark"),
        (3, "unrelated words only here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_hand_computed(corpus):
    # one query term hitting docs 0 and 2; verify doc 2 (tf=3, short
    # doc) against the closed-form Okapi formula
    out = {r["doc_id"]: r for r in bm25_scores(corpus, ["spark"]).collect()}
    assert set(out) == {0, 2}
    n_docs, df_t = 4.0, 2.0
    idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
    avgdl = (5 + 6 + 3 + 4) / 4.0
    tf, dl = 3.0, 3.0
    expect = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    assert out[2]["bm25"] == pytest.approx(expect, abs=1e-6)
    assert out[2]["n_terms_hit"] == 1


def test_inverted_index_df_cf_and_capped_head(corpus):
    idx = {r["term"]: r for r in inverted_index(corpus, postings_cap=2).collect()}
    # 'the' occurs in docs 0 (1x) and 1 (2x): df=2, cf=3
    assert idx["the"]["df"] == 2 and idx["the"]["cf"] == 3
    assert idx["the"]["postings_head"] == "0,1"
    # 'spark' in docs 0 (1x) and 2 (3x)
    assert idx["spark"]["df"] == 2 and idx["spark"]["cf"] == 4
    assert idx["spark"]["postings_head"] == "0,2"
    # hapax: df=cf=1, head is the single doc
    assert idx["unrelated"]["df"] == 1 and idx["unrelated"]["postings_head"] == "3"
    # the cap truncates the head to the FIRST ids in ascending order
    wide = inverted_index(corpus, postings_cap=1).collect()
    assert {r["term"]: r["postings_head"] for r in wide}["the"] == "0"


def test_bm25_more_hits_scores_higher(corpus):
    out = {r["doc_id"]: r["bm25"] for r in bm25_scores(corpus, ["spark", "hash", "table"]).collect()}
    # doc 0 hits three query terms, doc 2 only one (albeit thrice)
    assert out[0] > out[2]


def test_bigram_lm_repetition_scores_higher(spark):
    # "a b" repeated dominates the corpus bigram table, so the
    # repetitive doc has higher (less negative) avg log-prob than the
    # doc made of one-off transitions
    rows = [(0, "a b a b a b a b"), (1, "c d e f g h")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    assert out[0]["n_bigrams"] == 7 and out[1]["n_bigrams"] == 5
    assert out[0]["avg_logp"] > out[1]["avg_logp"]


def test_bigram_lm_hand_computed(spark):
    df = spark.createDataFrame([(0, "x y x y")], "doc_id long, text string")
    # bigrams: (x,y) twice, (y,x) once; c1(x)=2, c1(y)=1; V=2
    out = bigram_lm_scores(df).collect()[0]
    lp_xy = math.log((2 + 1) / (2 + 2))
    lp_yx = math.log((1 + 1) / (1 + 2))
    assert out["avg_logp"] == pytest.approx(round((2 * lp_xy + lp_yx) / 3, 6), abs=1e-6)


def test_zipf_stats_hand_computed(spark):
    from data_integration_and_harmonization_spark.operators.scoring import zipf_stats

    # freqs: a=4, b=2, c=1 -> ranks 1, 2, 3
    df = spark.createDataFrame([(0, "a a a a b b c")], "doc_id long, text string")
    got = {r["key"]: (r["m1"], r["m2"]) for r in zipf_stats(df).collect()}
    xs = [math.log(r) for r in (1, 2, 3)]
    ys = [math.log(f) for f in (4, 2, 1)]
    mx, my = sum(xs) / 3, sum(ys) / 3
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    assert got["slope"] == (3.0, pytest.approx(round(slope, 6), abs=1e-6))
    assert got["mass"] == (7.0, 1.0)       # top-100 covers everything
    assert got["vocab"] == (3.0, pytest.approx(round(3 / 7, 6), abs=1e-6))
    # top_n caps the ranked table (and the fit) deterministically
    got2 = {r["key"]: r["m1"] for r in zipf_stats(df, top_n=2).collect()}
    assert got2["slope"] == 2.0


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [3.0, 4.0], 0),
        (1, [0.0, 0.0], 0),
        (2, [-1.0, 1.0], 1),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_l2_normalize(vecs):
    out = {r["vec_id"]: r["embedding"] for r in l2_normalize(vecs).collect()}
    assert out[0] == pytest.approx([0.6, 0.8], abs=1e-9)
    assert out[1] == [0.0, 0.0]  # zero vector untouched
    n = math.sqrt(sum(x * x for x in out[2]))
    assert n == pytest.approx(1.0, abs=1e-9)


def test_mean_pool(vecs):
    out = {r["label"]: r["pooled"] for r in mean_pool(vecs, "label").collect()}
    assert out[0] == pytest.approx([1.5, 2.0], abs=1e-9)
    assert out[1] == pytest.approx([-1.0, 1.0], abs=1e-9)


def test_quantize_int8_roundtrip(vecs):
    out = {r["vec_id"]: r for r in quantize_int8(vecs).collect()}
    assert out[0]["q"] == [95, 127]  # 3/4*127 = 95.25 -> 95
    assert out[0]["q_scale"] == pytest.approx(127.0 / 4.0)
    assert out[1]["q"] == [0, 0] and out[1]["q_scale"] == 0.0
    # max-magnitude component always maps to +/-127
    assert max(abs(v) for v in out[2]["q"]) == 127
    # dequantization error bounded by half a quantization step
    for vid, raw in [(0, [3.0, 4.0]), (2, [-1.0, 1.0])]:
        s = out[vid]["q_scale"]
        for q, x in zip(out[vid]["q"], raw):
            assert abs(q / s - x) <= 0.5 / s + 1e-12


def test_parquet_shapes(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    scored = bigram_lm_scores(docs)
    assert scored.count() > 0
    assert scored.where(F.col("avg_logp") > 0).count() == 0  # log-probs <= 0
    pooled = mean_pool(l2_normalize(emb), "label")
    row = pooled.first()
    assert len(row["pooled"]) == 64


def test_semantic_dedup_hand_computed(spark):
    # Two cells (seed centers = first 2 vectors); a/b near-identical in
    # one cell, c orthogonal-ish in the other, d a near-dup of c.
    # Components: {0, 2} (a≈dup-of-a), {1, 3}; min id kept per group.
    from data_integration_and_harmonization_spark.operators.dedup import (
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0, lands in cell 0
        (3, [0.02, 0.98, 0.0, 0.0]),   # near-dup of 1, lands in cell 1
        (4, [0.0, 0.6, 0.8, 0.0]),     # cell 1, below threshold vs 1/3
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.id: r for r in semantic_dedup(df, n_clusters=2, threshold=0.95).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert out[0].cell == 0 and out[2].cell == 0
    assert out[1].cell == 1 and out[3].cell == 1 and out[4].cell == 1
    assert out[2].cluster_id == 0 and not out[2].keep
    assert out[3].cluster_id == 1 and not out[3].keep
    for i in (0, 1, 4):
        assert out[i].cluster_id == i and out[i].keep


def test_semantic_dedup_kmeans_labels_everyone_once(spark):
    from data_integration_and_harmonization_spark.operators.dedup import (
        semantic_dedup,
    )

    df = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float"),
            (F.col("id") % 3).cast("float"),
            F.lit(1.0).cast("float"),
            (F.col("id") % 2).cast("float"),
        ).alias("embedding"),
    )
    out = semantic_dedup(df, n_clusters=3, threshold=0.999, centroids="kmeans")
    rows = out.collect()
    assert len(rows) == 40
    assert {r.id for r in rows} == set(range(40))
    # every cluster's kept representative is its minimum id
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert min(m.id for m in members) == cid
        assert sum(1 for m in members if m.keep) == 1


def test_truncate_dim_prefix_and_renorm(vecs):
    from data_integration_and_harmonization_spark.operators.embeddings import (
        truncate_dim,
    )

    out = {r["vec_id"]: r["embedding"] for r in truncate_dim(vecs, 1).collect()}
    # 1-dim prefix renormalized to a unit vector; zero stays zero
    assert out[0] == pytest.approx([1.0], abs=1e-9)
    assert out[1] == [0.0]
    # dim beyond the vector length passes it through (renormalized)
    full = {
        r["vec_id"]: r["embedding"] for r in truncate_dim(vecs, 99).collect()
    }
    assert len(full[0]) == 2
    n = math.sqrt(sum(x * x for x in full[0]))
    assert n == pytest.approx(1.0, abs=1e-9)


def test_random_projection_jl_properties(spark):
    import numpy as np

    from data_integration_and_harmonization_spark.operators.embeddings import (
        projection_matrix,
        random_projection,
    )

    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((50, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: np.array(r["p"])
        for r in random_projection(df, 16, out_col="p").collect()
    }
    # matches the exact numpy matmul with the same seeded matrix
    R = projection_matrix(64, 16, seed=42)
    for i in range(50):
        assert np.allclose(out[i], R @ vecs[i], atol=1e-12)
    # JL norm preservation: unit inputs land near unit projected norm
    sq = np.array([float(v @ v) for v in out.values()])
    assert (np.abs(sq - 1.0) < 0.9).mean() >= 0.9
    # empty input passes through
    assert random_projection(df.limit(0), 16, out_col="p").count() == 0
