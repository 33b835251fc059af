"""Product-quantization pins: codebook determinism, encode argmin
semantics, ADC score correctness against a numpy replay, recall
against exact L2 top-k on the real embeddings fixture, and the plan
staying JVM-side (no Python UDF stage)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators.similarity import (
    pq_encode,
    pq_topk,
    squared_distance,
    train_pq_codebooks,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_codebooks_deterministic_and_shaped(emb):
    b1 = train_pq_codebooks(emb, m=8, k=16, sample=256, iters=4)
    b2 = train_pq_codebooks(emb, m=8, k=16, sample=256, iters=4)
    assert b1 == b2
    assert len(b1) == 8 and all(len(bk) == 16 for bk in b1)
    assert all(len(c) == 8 for bk in b1 for c in bk)  # 64 dims / 8


def test_dim_not_divisible_rejected(emb):
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(emb, m=7)


def test_encode_picks_nearest_centroid(spark):
    # two obvious centroids per subspace; vectors sitting on them
    # must encode to their own index
    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 10.0, 10.0]), (1, [10.0, 10.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    books = [
        [[0.0, 0.0], [10.0, 10.0]],  # subspace 0
        [[0.0, 0.0], [10.0, 10.0]],  # subspace 1
    ]
    got = {r.id: list(r.code) for r in pq_encode(df, books).collect()}
    assert got == {0: [0, 1], 1: [1, 0]}


def test_full_refine_is_exact_topk(spark, emb):
    # with k * refine >= |corpus| the shortlist is the whole corpus,
    # so the re-ranked result must equal exact L2 top-k bit-for-bit
    books = train_pq_codebooks(emb, m=8, k=16, sample=256, iters=4)
    queries = emb.where(F.col("vec_id") < 3)
    k = 5
    got = pq_topk(emb, queries, books, k=k, refine=100)  # 500 >= 500
    rows = {(r.query_id, r.rank): (r.neighbor_id, r.d2) for r in got.collect()}

    X = {r.vec_id: np.array([float(x) for x in r.embedding]) for r in emb.collect()}
    for qid in range(3):
        d2 = sorted(
            (float(((X[qid] - X[n]) ** 2).sum()), n) for n in X if n != qid
        )[:k]
        for rank, (dist, n) in enumerate(d2, start=1):
            nid, got_d2 = rows[(qid, rank)]
            assert nid == n
            assert got_d2 == pytest.approx(dist, abs=1e-4)


def test_recall_against_exact_l2(spark, emb):
    books = train_pq_codebooks(emb, m=8, k=16)
    queries = emb.where(F.col("vec_id") < 10)
    k = 10
    approx = pq_topk(emb, queries, books, k=k)

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v"))
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            squared_distance(F.col("q"), F.col("v")).alias("d2"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"]).count()
    recall = hits / exact.count()
    # measured 0.87 on this fixture (ADC alone: 0.29 — the refine
    # stage is what makes PQ usable); a drop below this bound means
    # the LUT lookup, encode, or shortlist is wrong, not hard data
    assert recall >= 0.75, f"recall@{k} = {recall:.2f}"


def test_plan_has_no_python_stage(spark, emb):
    books = train_pq_codebooks(emb, m=8, k=16, sample=128, iters=2)
    plan = (
        pq_topk(emb, emb.where(F.col("vec_id") < 2), books, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivfpq_recall_and_probe_locality(spark, emb):
    from data_integration_and_harmonization_spark.operators.similarity import (
        ivfpq_topk,
    )

    books = train_pq_codebooks(emb, m=8, k=16)
    queries = emb.where(F.col("vec_id") < 10)
    k = 10
    got = ivfpq_topk(emb, queries, books, k=k, n_clusters=8, n_probe=4, refine=10)
    # output contract: exactly k ranked rows per query, ranks 1..k
    per_q = got.groupBy("query_id").count().collect()
    assert all(r["count"] == k for r in per_q) and len(per_q) == 10

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v"))
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            squared_distance(F.col("q"), F.col("v")).alias("d2"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    hits = got.join(exact, ["query_id", "neighbor_id"]).count()
    recall = hits / exact.count()
    # probing half the cells: recall dips below the full-scan PQ 0.87
    # but must stay far above chance (k/n = 0.02); measured 0.6-0.8
    assert recall >= 0.4, f"ivfpq recall@{k} = {recall:.2f}"


def test_ivfpq_probe_all_cells_matches_pq(spark, emb):
    # probing EVERY cell makes IVF-PQ scan the same codes as pq_topk:
    # identical shortlists -> identical re-ranked results
    from data_integration_and_harmonization_spark.operators.similarity import (
        ivfpq_topk,
    )

    books = train_pq_codebooks(emb, m=8, k=16, sample=256, iters=4)
    queries = emb.where(F.col("vec_id") < 3)
    a = pq_topk(emb, queries, books, k=5, refine=5)
    b = ivfpq_topk(emb, queries, books, k=5, n_clusters=8, n_probe=8, refine=5)
    ka = {(r.query_id, r.rank, r.neighbor_id, r.d2) for r in a.collect()}
    kb = {(r.query_id, r.rank, r.neighbor_id, r.d2) for r in b.collect()}
    assert ka == kb


def _mean_err(emb, books):
    """Mean quantization distortion read off the encode's ``err_col``."""
    return pq_encode(emb, books, err_col="err").agg(F.avg("err")).first()[0]


def test_pq_distortion_trained_beats_seed(spark, emb):
    # Lloyd's objective: trained codebooks quantize with lower mean
    # reconstruction error than the zero-training seed books.
    from data_integration_and_harmonization_spark.operators.similarity import (
        seed_pq_codebooks,
    )

    seed = seed_pq_codebooks(emb, m=4, k=8)
    trained = train_pq_codebooks(emb, m=4, k=8, sample=256, iters=5)
    assert 0 < _mean_err(emb, trained) <= _mean_err(emb, seed) + 1e-9


def test_pq_encode_err_col_matches_distortion(spark, emb):
    # the encode-carried quantization error (chosen-center d2 summed
    # over subspaces) must average to exactly the mean distortion a
    # NumPy brute force over every center computes
    from data_integration_and_harmonization_spark.operators.similarity import (
        seed_pq_codebooks,
    )

    books = seed_pq_codebooks(emb, m=4, k=8)
    enc = pq_encode(emb, books, err_col="err")
    assert enc.columns == ["id", "code", "err"]
    x = np.array([r["embedding"] for r in emb.select("embedding").collect()], dtype=float)
    ds = len(books[0][0])
    err = np.zeros(len(x))
    for i, centers in enumerate(books):
        sub = x[:, i * ds : (i + 1) * ds]
        err += ((sub[:, None, :] - np.array(centers)[None, :, :]) ** 2).sum(-1).min(1)
    d_enc = enc.agg(F.avg("err")).collect()[0][0]
    assert abs(d_enc - err.mean()) <= 1e-9 * max(1.0, err.mean())


def test_ann_index_save_load_serve_agreement(spark, emb, tmp_path, monkeypatch):
    """r9 verdict item 6: build_ann_index persists codebooks, coarse
    centers, and cell-PARTITIONED codes as a versioned artifact;
    load_ann_index reads the latest committed version; serving
    ivfpq_topk from the loaded artifact (probed-cells partition-pruned
    scan) returns row-for-row the build-fresh result. A second build
    bumps the version; a build whose commit never lands is
    invisible."""
    from data_integration_and_harmonization_spark.sources import manifest as MAN
    from data_integration_and_harmonization_spark.operators.similarity import (
        build_ann_index,
        ivfpq_topk,
        load_ann_index,
        seed_pq_codebooks,
    )

    idx_dir = str(tmp_path / "ann")
    queries = emb.where(F.col("vec_id") < 6)
    meta = build_ann_index(emb, idx_dir, m=4, k=8, n_clusters=8)
    assert meta["version"] == 0
    idx = load_ann_index(spark, idx_dir)
    assert idx["meta"]["n_clusters"] == 8
    assert set(idx["codes"].columns) >= {"id", "code", "cell"}

    fresh = ivfpq_topk(
        emb, queries, seed_pq_codebooks(emb, m=4, k=8),
        k=5, n_clusters=8, n_probe=2, refine=4,
    )
    served = ivfpq_topk(
        emb, queries, idx["books"], k=5, n_clusters=8, n_probe=2, refine=4,
        codes=idx["codes"], centers=idx["centers"], prune_codes=True,
    )
    a = {(r["query_id"], r["rank"], r["neighbor_id"], round(r["d2"], 9))
         for r in fresh.collect()}
    b = {(r["query_id"], r["rank"], r["neighbor_id"], round(r["d2"], 9))
         for r in served.collect()}
    assert a == b and len(a) == 30

    # versioning: new build -> v1 wins; a torn build (crash after its
    # data write, before the commit) is invisible — the head and a
    # pinned older version both still load
    meta2 = build_ann_index(emb, idx_dir, m=4, k=8, n_clusters=8)
    assert meta2["version"] == 1
    assert load_ann_index(spark, idx_dir)["meta"]["version"] == 1

    def crash(*a, **kw):
        raise RuntimeError("injected crash before commit")

    torn_dir = str(tmp_path / "ann_torn")
    monkeypatch.setattr(MAN, "commit_files", crash)
    for d in (idx_dir, torn_dir):
        with pytest.raises(RuntimeError, match="injected"):
            build_ann_index(emb, d, m=4, k=8, n_clusters=8)
    monkeypatch.undo()
    assert load_ann_index(spark, idx_dir)["meta"]["version"] == 1
    assert load_ann_index(spark, idx_dir, version=0)["meta"]["version"] == 0
    # an index whose only build is torn has no version to serve
    with pytest.raises(FileNotFoundError, match="no complete"):
        load_ann_index(spark, torn_dir)


def test_ann_index_incremental_append(spark, emb, tmp_path):
    """append_ann_index grows the index without rebuilding: the new
    batch is encoded with the chain's FROZEN books/centers and only
    its codes land in the new version (parent recorded; old codes
    referenced in place). Serving from the appended chain equals an
    in-memory run over the full corpus with the same frozen
    quantizers; duplicate ids are refused; a rebuild (new base) does
    not chain."""
    from data_integration_and_harmonization_spark.operators.similarity import (
        append_ann_index,
        build_ann_index,
        ivfpq_topk,
        load_ann_index,
    )

    base = emb.where(F.col("vec_id") % 2 == 0)
    inc = emb.where(F.col("vec_id") % 2 == 1)
    queries = emb.where(F.col("vec_id") < 6)
    idx_dir = str(tmp_path / "ann")
    m0 = build_ann_index(base, idx_dir, m=4, k=8, n_clusters=8)
    m1 = append_ann_index(inc, idx_dir)
    assert (m1["version"], m1["parent"]) == (1, 0)

    idx = load_ann_index(spark, idx_dir)
    assert idx["meta"]["version"] == 1
    served = ivfpq_topk(
        emb, queries, idx["books"], k=5, n_clusters=8, n_probe=2, refine=4,
        codes=idx["codes"], centers=idx["centers"], prune_codes=True,
    )
    # in-memory twin: full corpus encoded with the BASE's quantizers
    # (books/centers seeded from the base corpus — the frozen state)
    from data_integration_and_harmonization_spark.operators.similarity import (
        _nearest_index, _seed_centers, pq_encode, seed_pq_codebooks,
    )

    books_b = seed_pq_codebooks(base, m=4, k=8)
    centers_b = _seed_centers(base, 8, "vec_id", "embedding")
    enc_full = pq_encode(
        emb, books_b,
        extra_cols=[_nearest_index(F.col("embedding"), centers_b).alias("cell")],
    )
    twin = ivfpq_topk(
        emb, queries, books_b, k=5, n_clusters=8, n_probe=2, refine=4,
        codes=enc_full, centers=centers_b,
    )
    a = {(r["query_id"], r["rank"], r["neighbor_id"], round(r["d2"], 9))
         for r in served.collect()}
    b = {(r["query_id"], r["rank"], r["neighbor_id"], round(r["d2"], 9))
         for r in twin.collect()}
    assert a == b and len(a) == 30

    # duplicate ids refused
    with pytest.raises(ValueError, match="previously-unseen"):
        append_ann_index(inc, idx_dir)
    # a rebuild starts a NEW parentless base and does not chain
    m2 = build_ann_index(emb, idx_dir, m=4, k=8, n_clusters=8)
    assert m2["version"] == 2 and m2["parent"] is None
    idx2 = load_ann_index(spark, idx_dir)
    assert idx2["meta"]["parent"] is None
    assert idx2["codes"].count() == emb.count()


def test_ann_index_tombstone_delete(spark, emb, tmp_path):
    """delete_from_ann_index removes vectors with a tombstone version
    — zero code bytes rewritten; served queries never return a
    deleted neighbor; missing ids no-op; a deleted id can re-enter
    via append (the disjointness check sees the LIVE set)."""
    from data_integration_and_harmonization_spark.operators.similarity import (
        append_ann_index,
        build_ann_index,
        delete_from_ann_index,
        ivfpq_topk,
        load_ann_index,
    )

    idx_dir = str(tmp_path / "ann")
    build_ann_index(emb, idx_dir, m=4, k=8, n_clusters=8)
    n_all = load_ann_index(spark, idx_dir)["codes"].count()

    queries = emb.where(F.col("vec_id") < 4)
    victims = [r["neighbor_id"] for r in ivfpq_topk(
        emb, queries, load_ann_index(spark, idx_dir)["books"],
        k=5, n_clusters=8, n_probe=2, refine=4,
    ).collect()][:3]
    dels = spark.createDataFrame([(int(v),) for v in victims] + [(987654321,)], "id long")
    m1 = delete_from_ann_index(dels, idx_dir)
    assert m1["parent"] == 0

    idx = load_ann_index(spark, idx_dir)
    assert idx["codes"].count() == n_all - len(set(victims))  # missing id no-op
    served = ivfpq_topk(
        emb, queries, idx["books"], k=5, n_clusters=8, n_probe=2, refine=4,
        codes=idx["codes"], centers=idx["centers"], prune_codes=True,
    )
    got = {r["neighbor_id"] for r in served.collect()}
    assert got.isdisjoint(set(victims))

    # deleted ids can re-enter via append (live-set disjointness)
    back = emb.where(F.col("vec_id").isin([int(v) for v in victims]))
    m2 = append_ann_index(back, idx_dir)
    assert m2["parent"] == m1["version"]
    assert load_ann_index(spark, idx_dir)["codes"].count() == n_all


def test_ann_index_streaming_maintenance(spark, emb, tmp_path):
    """Composition: a STREAM of embedding batches maintains the
    persisted index — each micro-batch lands through append_ann_index
    inside foreachBatch (the streaming index-maintenance shape: the
    base is built once, increments ride the drain). After the drain,
    serving from the chain equals an in-memory run over the full
    corpus with the same frozen quantizers."""
    from data_integration_and_harmonization_spark.operators.similarity import (
        append_ann_index,
        build_ann_index,
        ivfpq_topk,
        load_ann_index,
    )

    idx_dir = str(tmp_path / "ann_stream")
    src_dir = str(tmp_path / "emb_src")
    base = emb.where(F.col("vec_id") % 3 == 0)
    build_ann_index(base, idx_dir, m=4, k=8, n_clusters=8)

    # the increment arrives as files -> a bounded file stream
    emb.where(F.col("vec_id") % 3 == 1).write.parquet(src_dir + "/b1")
    emb.where(F.col("vec_id") % 3 == 2).write.parquet(src_dir + "/b2")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/b*")
    )

    def maintain(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        append_ann_index(batch_df, idx_dir)

    (
        stream.writeStream.foreachBatch(maintain)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    idx = load_ann_index(spark, idx_dir)
    assert idx["codes"].count() == emb.count()  # nothing lost or doubled
    queries = emb.where(F.col("vec_id") < 5)
    served = ivfpq_topk(
        emb, queries, idx["books"], k=5, n_clusters=8, n_probe=2, refine=4,
        codes=idx["codes"], centers=idx["centers"], prune_codes=True,
    )
    fresh_codes_free = ivfpq_topk(
        emb, queries, idx["books"], k=5, n_clusters=8, n_probe=2, refine=4,
        centers=idx["centers"],
    )
    a = {(r["query_id"], r["rank"], r["neighbor_id"], round(r["d2"], 9))
         for r in served.collect()}
    b = {(r["query_id"], r["rank"], r["neighbor_id"], round(r["d2"], 9))
         for r in fresh_codes_free.collect()}
    assert a == b and len(a) == 25


def test_ann_index_chain_compaction(spark, emb, tmp_path, monkeypatch):
    """compact_ann_index (r10 verdict item 3): build + append +
    tombstone-delete, then compact — serving is IDENTICAL before and
    after, the chain is length 1 (parent-less), old version dirs are
    deleted, and the crash window (compacted dir written, commit
    never landed) leaves the chain authoritative and is reaped by
    the next run."""
    import os

    from data_integration_and_harmonization_spark.functions.stores import (
        complete_batches,
    )
    from data_integration_and_harmonization_spark.sources import manifest as MAN
    from data_integration_and_harmonization_spark.operators.similarity import (
        append_ann_index,
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
        ivfpq_topk,
        load_ann_index,
    )

    base = emb.where(F.col("vec_id") % 2 == 0)
    inc = emb.where(F.col("vec_id") % 2 == 1)
    queries = emb.where(F.col("vec_id") < 6)
    idx_dir = str(tmp_path / "ann")
    build_ann_index(base, idx_dir, m=4, k=8, n_clusters=8)
    append_ann_index(inc, idx_dir)
    delete_from_ann_index(
        emb.where(F.col("vec_id") % 7 == 3).select("vec_id"), idx_dir
    )

    def serve():
        idx = load_ann_index(spark, idx_dir)
        res = ivfpq_topk(
            emb, queries, idx["books"], k=5, n_clusters=8, n_probe=2,
            refine=4, codes=idx["codes"], centers=idx["centers"],
            prune_codes=True,
        )
        return idx, {
            (r["query_id"], r["rank"], r["neighbor_id"], round(r["d2"], 9))
            for r in res.collect()
        }

    idx_pre, before = serve()
    n_live_pre = idx_pre["codes"].count()
    assert idx_pre["meta"]["parent"] is not None  # a real chain
    chain_dirs = set(os.listdir(idx_dir))

    # crash window: a compactor that died between writing its data
    # dir and committing leaves an unlisted dir — loads ignore it and
    # the chain still serves identically
    def crash(*a, **kw):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(MAN, "commit_files", crash)
    with pytest.raises(RuntimeError, match="injected"):
        compact_ann_index(spark, idx_dir)
    monkeypatch.undo()
    idx_crash, during = serve()
    assert during == before
    (orphan,) = set(os.listdir(idx_dir)) - chain_dirs

    # the real compaction folds the chain AND reaps the orphan
    stats = compact_ann_index(spark, idx_dir)
    idx_post, after = serve()
    assert after == before and len(after) == 30
    assert idx_post["meta"]["parent"] is None
    assert idx_post["codes"].count() == n_live_pre
    # chain folded to ONE data dir on disk, one retained version;
    # orphan reaped
    (live,) = complete_batches(spark, idx_dir)
    assert orphan != os.path.basename(live)
    assert sorted(os.listdir(idx_dir)) == sorted(["_manifests", os.path.basename(live)])
    assert MAN.list_versions(spark, idx_dir) == [stats["version"]]
    assert not stats["undeleted"]
    # idempotent lifecycle: compaction of a length-1 chain still works
    stats2 = compact_ann_index(spark, idx_dir)
    _, again = serve()
    assert again == before and stats2["versions_before"] == 1


def test_ann_compaction_reader_grace_sweep_false(spark, emb, tmp_path):
    """compact_ann_index(sweep=False): the compacted version commits
    and serves, but the old chain dirs stay on disk so a live reader
    holding lazy DataFrames over them keeps working; the NEXT
    compaction's sweep reaps the leftovers."""
    import os

    from data_integration_and_harmonization_spark.functions.stores import (
        complete_batches,
    )
    from data_integration_and_harmonization_spark.operators.similarity import (
        append_ann_index,
        build_ann_index,
        compact_ann_index,
        ivfpq_topk,
        load_ann_index,
    )

    base = emb.where(F.col("vec_id") % 2 == 0)
    inc = emb.where(F.col("vec_id") % 2 == 1)
    queries = emb.where(F.col("vec_id") < 4)
    idx_dir = str(tmp_path / "ann_grace")
    build_ann_index(base, idx_dir, m=4, k=8, n_clusters=8)
    append_ann_index(inc, idx_dir)

    # a reader plans a query over the CHAIN before compaction runs
    idx_old = load_ann_index(spark, idx_dir)
    lazy_old = ivfpq_topk(
        emb, queries, idx_old["books"], k=3, n_clusters=8, n_probe=2,
        refine=4, codes=idx_old["codes"], centers=idx_old["centers"],
    )
    dirs_before = set(os.listdir(idx_dir))

    stats = compact_ann_index(spark, idx_dir, sweep=False)
    # old dirs retained (reported as undeleted), new version serves
    assert set(stats["undeleted"]) and set(os.listdir(idx_dir)) > dirs_before
    assert load_ann_index(spark, idx_dir)["meta"]["parent"] is None
    # the pre-compaction lazy plan still materializes (grace window)
    assert lazy_old.count() == 12
    # next compaction (default sweep) reaps everything older
    stats2 = compact_ann_index(spark, idx_dir)
    (live,) = complete_batches(spark, idx_dir)
    assert sorted(os.listdir(idx_dir)) == sorted(["_manifests", os.path.basename(live)])
    assert not stats2["undeleted"]


