"""Empty-input robustness: at cluster scale empty partitions and
empty inputs are routine (a filter that matches nothing, a source
with no files yet). Every operator must return an empty result with
the right schema — never raise."""

from __future__ import annotations

import pytest

from data_integration_and_harmonization_spark.functions.indexing import with_global_index
from data_integration_and_harmonization_spark.operators import clean as C
from data_integration_and_harmonization_spark.operators import dedup as DD
from data_integration_and_harmonization_spark.operators.embeddings import (
    l2_normalize,
    mean_pool,
    quantize_int8,
)
from data_integration_and_harmonization_spark.operators.sampling import (
    deterministic_shuffle,
    hash_sample,
    stratified_sample,
)
from data_integration_and_harmonization_spark.operators.scoring import (
    bigram_lm_scores,
    bm25_scores,
)


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, lang string, n_chars long")


@pytest.fixture(scope="module")
def empty_emb(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>, label int")


@pytest.fixture(scope="module")
def empty_kv(spark):
    return spark.createDataFrame([], "k long, v double")


def test_dedup_family_on_empty(empty_docs):
    assert DD.exact_dedup(empty_docs).count() == 0
    assert DD.minhash_lsh_candidates(empty_docs).count() == 0
    pairs = DD.lsh_verified_pairs(empty_docs)
    assert pairs.count() == 0
    # zero-edge graph: fast path must build an empty typed frame
    clusters = DD.duplicate_clusters(pairs)
    assert clusters.count() == 0
    assert clusters.columns == ["id", "cluster_id"]
    assert DD.simhash_pairs(empty_docs).count() == 0


def test_scoring_on_empty(empty_docs):
    assert bm25_scores(empty_docs, ["x"]).count() == 0
    assert bigram_lm_scores(empty_docs).count() == 0


def test_embeddings_on_empty(empty_emb):
    assert l2_normalize(empty_emb).count() == 0
    assert quantize_int8(empty_emb).count() == 0
    pooled = mean_pool(empty_emb, "label")
    assert pooled.count() == 0 and pooled.columns == ["label", "pooled"]


def test_sampling_on_empty(empty_docs):
    assert hash_sample(empty_docs, ["doc_id"], 0.5).count() == 0
    assert stratified_sample(empty_docs, "lang", ["doc_id"], 0.5).count() == 0
    assert deterministic_shuffle(empty_docs, ["doc_id"]).count() == 0


def test_repair_on_empty(empty_kv):
    idx = with_global_index(empty_kv, ["k"])
    assert idx.count() == 0
    assert C.interpolate_linear(empty_kv, "k", ["v"]).count() == 0
    out = C.process_data(empty_kv, order_col="k")
    # zero rows -> every column is all-null -> v dropped by C5,
    # matching pandas dropna(axis=1, how='all') on an empty frame
    assert out.count() == 0


def test_semantic_dedup_empty_and_singleton(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert DD.semantic_dedup(empty, n_clusters=4, threshold=0.9).count() == 0
    one = spark.createDataFrame([(7, [1.0, 2.0])], "vec_id long, embedding array<float>")
    rows = DD.semantic_dedup(one, n_clusters=4, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id, r.cell, r.cluster_id, r.keep) == (7, 0, 7, True)


def test_r8_ops_on_empty(spark, empty_docs, tmp_path):
    # line_dedup: empty corpus -> empty per-doc frame, right columns
    ld = DD.line_dedup(empty_docs)
    assert ld.count() == 0
    assert ld.columns == ["id", "n_lines", "n_dup_lines", "text_deduped"]
    # scd2_build: both snapshots empty -> empty history
    from data_integration_and_harmonization_spark.operators.relational import (
        scd2_build,
    )

    e = spark.createDataFrame([], "k long, seg string")
    assert scd2_build(e, e, "k", ["seg"], "2024-01-01", "2024-06-01").count() == 0
    # one-sided: every old row closes, every new row opens
    old = spark.createDataFrame([(1, "A")], "k long, seg string")
    closed = scd2_build(old, e, "k", ["seg"], "2024-01-01", "2024-06-01").collect()
    assert len(closed) == 1 and not closed[0].is_current
    opened = scd2_build(e, old, "k", ["seg"], "2024-01-01", "2024-06-01").collect()
    assert len(opened) == 1 and opened[0].is_current
    # zorder: empty bounds (all-null mins) must not crash the key or
    # the write
    from data_integration_and_harmonization_spark.sources.writers import (
        write_zordered,
        zorder_key,
    )

    ekv = spark.createDataFrame([], "x long, y long")
    assert ekv.select(zorder_key(ekv, ["x", "y"]).alias("z")).count() == 0
    target = str(tmp_path / "zempty")
    write_zordered(ekv, target, ["x", "y"], num_files=2)
    assert spark.read.parquet(target).count() == 0


def test_r9_third_wave_ops_on_empty(spark, empty_docs):
    import pytest
    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.operators import clean as C
    from data_integration_and_harmonization_spark.operators import scrub as SC
    from data_integration_and_harmonization_spark.operators.scoring import zipf_stats

    # exact_substring_spans: empty corpus -> empty frame, right columns
    ss = DD.exact_substring_spans(empty_docs, k=5)
    assert ss.count() == 0
    assert ss.columns == [
        "id", "n_tokens", "n_dup_spans", "dup_span_tokens", "dup_span_frac",
    ]
    # all-short corpus (< k tokens everywhere): rows survive with zeros
    short = spark.createDataFrame([(1, "a b"), (2, "")], "doc_id long, text string")
    got = {r["id"]: (r["n_dup_spans"], r["dup_span_frac"])
           for r in DD.exact_substring_spans(short, k=5).collect()}
    assert got == {1: (0, 0.0), 2: (0, 0.0)}

    # k_anonymity_report on an empty table: zero classes, vacuously ok
    e = spark.createDataFrame([], "q string, s string")
    rep = SC.k_anonymity_report(e, ["q"], "s", k=2, l=2).collect()[0]
    # aggregates over zero classes: count is 0, sums/min are NULL —
    # the vacuous audit must not crash or fabricate violations
    assert rep["n_classes"] == 0
    assert rep["n_small_classes"] in (0, None)
    assert rep["ok"] in (0, 1, None)

    # coerce_numeric_locale on empty frame: schema out, zero rows
    el = spark.createDataFrame([], "v string")
    out = C.coerce_numeric_locale(el, ["v"])
    assert out.count() == 0 and dict(out.dtypes)["v"] == "double"

    # zipf_stats on an empty corpus: three rows, NULL/zero metrics,
    # no division blowups
    z = {r["key"]: (r["m1"], r["m2"]) for r in zipf_stats(empty_docs).collect()}
    assert set(z) == {"slope", "mass", "vocab"}
    assert z["slope"][0] == 0.0 and z["slope"][1] is None


def test_r11_ops_on_empty(spark, tmp_path):
    """r11 operators on empty inputs: media signature table and its
    Hamming pairs, the fused temporal stage's new metadata tiers,
    document extraction, and the CDF feed over a table root with no
    manifests."""
    from data_integration_and_harmonization_spark.operators import dedup as DD2
    from data_integration_and_harmonization_spark.operators import multimodal as MM
    from data_integration_and_harmonization_spark.operators.text import document_text_table

    empty_media = spark.createDataFrame([], "media_id long, payload binary")
    sig = DD2.media_signature_table(empty_media)
    assert sig.columns == ["id", "kind", "sig"] and sig.count() == 0
    assert DD2.hamming_pairs(sig.select("id", "sig")).count() == 0
    assert MM.extract_temporal_features(empty_media).count() == 0
    pt = document_text_table(empty_media, "media_id", "payload")
    assert pt.columns == ["id", "fmt", "text"] and pt.count() == 0
    # a NULL-payload row never raises anywhere in the family
    nulls = spark.createDataFrame([(1, None)], "media_id long, payload binary")
    assert DD2.media_signature_table(nulls).first()["sig"] is None
    assert MM.extract_temporal_features(nulls).first()["kind"] is None
    assert document_text_table(nulls, "media_id", "payload").first()["text"] is None
    # manifest_cdf over a table root with no manifests: clear error
    from data_integration_and_harmonization_spark.sources.cdf_stream import (
        read_manifest_cdf,
    )

    with pytest.raises(Exception, match="no manifests"):
        read_manifest_cdf(spark, str(tmp_path / "nope"), ["k"]).writeStream.format(
            "noop"
        ).option("checkpointLocation", str(tmp_path / "ck")).trigger(
            availableNow=True
        ).start().awaitTermination()
