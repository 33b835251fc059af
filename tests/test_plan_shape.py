"""Physical/logical plan-shape regressions: the properties that make
the engine scale are asserted here, not just claimed in docstrings.

- parquet scans push filters and prune columns (Catalyst freebies we
  must not break with an opaque UDF or early materialization);
- nothing corpus-sized carries a broadcast hint in the dedup
  self-joins (the r1 VERDICT scale-killer — fixed, now pinned);
- genuinely small sides (dims, label maps, boundary tables) DO
  broadcast;
- the repair path reuses the cached global index instead of
  re-shuffling the source.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") > "1997-03-15").select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    assert "PushedFilters" in plan and "GreaterThan(l_shipdate" in plan, plan
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    read_cols = {c.split(":")[0] for c in schema.split(",")}
    assert read_cols == {"l_orderkey", "l_quantity", "l_shipdate"}, read_cols


def test_dedup_self_joins_never_hint_broadcast(spark, sf_dir):
    """The corpus side of every dedup self-join must shuffle, not
    broadcast (r1 VERDICT items 1-2). A ResolvedHint in the analyzed
    plan means someone re-added F.broadcast on a corpus-sized frame;
    runtime size-based broadcasts (AQE at tiny sf) remain allowed."""
    from data_integration_and_harmonization_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for frame in (
        DD.ngram_jaccard_pairs(docs),
        DD.embedding_near_dup_pairs(emb, threshold=0.3),
        DD.minhash_lsh_candidates(docs),
        DD.lsh_verified_pairs(docs),
        DD.simhash_pairs(docs),
    ):
        assert "ResolvedHint" not in _analyzed(frame)


def test_small_dims_do_broadcast(spark, sf_dir):
    """The flip side: star-schema dims must land as BroadcastHashJoin
    (a shuffle join of lineitem against a 25-row dim is the wrong
    plan at every scale)."""
    from data_integration_and_harmonization_spark.operators.relational import revenue_by_nation

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    q = revenue_by_nation(cust, orders, nation)
    assert "BroadcastHashJoin" in _executed(q)


def test_zscore_is_one_agg_plus_broadcast_not_a_window(spark, sf_dir):
    """F1 must not plan a global (single-task) window: the stats come
    from one aggregate broadcast back into a narrow projection."""
    from data_integration_and_harmonization_spark.operators.features import zscore

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    plan = _executed(zscore(li, ["l_quantity", "l_extendedprice"]))
    assert "Window" not in plan, plan[:2000]


def test_repair_reuses_cached_index_single_extra_shuffle(spark, sf_dir):
    """q_clean_repair on a pre-partitioned global index: the cached
    index substitutes into the plan (InMemoryTableScan), and the only
    shuffle OUTSIDE the cached build is the window clustering exchange
    on the partition id — the repair itself must NOT re-range-shuffle
    the data (pre_partitioned contract)."""
    import __spark_entry__ as E
    from data_integration_and_harmonization_spark.functions.caching import release_all

    release_all()
    rep = E.q_clean_repair(spark, sf_dir)
    plan = _executed(rep)
    assert "InMemoryTableScan" in plan
    # The plan spine above the cache (everything before the
    # InMemoryRelation node, which prints the cached BUILD plan whose
    # range exchange already ran once at materialization) must not
    # contain a fresh range shuffle of the data — pre_partitioned
    # means the repair trusts the cached physical layout.
    top = plan.split("InMemoryRelation")[0]
    assert "Exchange rangepartitioning" not in top, top
    release_all()

def test_scoring_joins_never_hint_broadcast_corpus(spark, sf_dir):
    """BM25 / bigram-LM: only the tiny fitted tables (df/N/avgdl,
    vocab size) may carry broadcast hints; the (doc, term) and
    (doc, bigram) streams and the c1/c2 count tables must stay
    size-based so AQE can pick a shuffle join at scale. One hint per
    genuinely-small side is expected; none on anything scaling with
    the corpus."""
    from data_integration_and_harmonization_spark.operators.scoring import (
        QUERY_TERMS,
        bigram_lm_scores,
        bm25_scores,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # hints present: stats (bm25) and vocab (bigram) — document
    # frequency / context counts attach via windows now, not joins.
    # Counting pins that no NEW hint lands on a corpus-sized frame.
    assert _analyzed(bm25_scores(docs, QUERY_TERMS)).count("ResolvedHint") == 1
    assert _analyzed(bigram_lm_scores(docs)).count("ResolvedHint") == 1


def test_embedding_transforms_stay_narrow(spark, sf_dir):
    """normalize + quantize must plan as pure narrow projections (no
    exchange, no window); mean_pool shuffles only (group, pos) rows."""
    from data_integration_and_harmonization_spark.operators.embeddings import (
        l2_normalize,
        mean_pool,
        quantize_int8,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    narrow = _executed(quantize_int8(l2_normalize(emb)))
    assert "Exchange" not in narrow and "Window" not in narrow, narrow[:2000]
    pooled = _executed(mean_pool(emb, "label"))
    assert pooled.count("Exchange hashpartitioning") <= 2  # partial+final agg pair


def test_compact_shrink_plan_is_narrow(spark, sf_dir, tmp_path):
    """Shrinking compaction must be a Coalesce (narrow — every byte
    moves once, no exchange). A repartition sneaking in doubles the
    I/O of the single biggest maintenance job on a 100 TB lake."""
    src = str(tmp_path / "s.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(8).write.mode("overwrite").parquet(src)
    shaped = spark.read.parquet(src).coalesce(1)
    plan = _executed(shaped)
    assert "Coalesce" in plan, plan
    assert "Exchange" not in plan, plan


def test_delete_affected_file_scan_pushes_predicate(spark, sf_dir, tmp_path):
    """delete_rows_versioned's affected-file search must reach the
    parquet reader as a pushed filter: that's what lets stats/zorder
    confine the scan to few row groups at scale."""
    src = str(tmp_path / "s.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    li.repartitionByRange(4, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.mode("overwrite").parquet(src)
    pred = (F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 1500)
    probe = (
        spark.read.parquet(src)
        .where(pred)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _formatted(probe)
    assert "PushedFilters" in plan, plan
    assert "GreaterThanOrEqual(l_orderkey,1000)" in plan, plan


def test_pagerank_loop_shuffles_only_rank_frame(spark):
    """The degree-annotated edge table is persist()-ed with a pinned
    hash partitioning on src (InMemoryRelation preserves it); a
    round's join must not re-exchange it — only the small rank frame
    shuffles. Probed under the SMJ/ShuffledHashJoin path (broadcast
    disabled) because that is the shape that runs at scale, where the
    rank frame is too big to broadcast: the only ENSURE_REQUIREMENTS
    exchange allowed in a round is the contribution groupBy on dst.

    localCheckpoint is explicitly the WRONG tool here: on Spark 4.1.2
    it rematerializes as a Scan ExistingRDD that drops the
    pre-checkpoint outputPartitioning, so the O(E) edge table got
    re-exchanged every round (caught red in round 8)."""
    import re

    from data_integration_and_harmonization_spark.operators.graph import (
        pagerank,
    )

    pairs = [(1, 2), (2, 3), (1, 3), (3, 4)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )
    out = pagerank(edges, n_iter=1)
    assert out.count() == 4
    # probe ONE round's executed plan, shaped exactly like the loop
    # body over a persisted edge table, with broadcast off so the
    # join resolves the way it would at scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ed = edges.repartition(2, "src").persist()
    try:
        ed.count()
        ranks = (
            ed.select(F.col("src").alias("id"))
            .distinct()
            .select("id", F.lit(0.25).alias("pr"))
        )
        round_df = (
            ed.join(
                ranks.withColumnRenamed("id", "src").repartition(2, "src"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("pr").alias("c"))
        )
        plan = _executed(round_df)
        # final plan only — InMemoryRelation's description embeds the
        # cache-build plan (its REPARTITION exchange is the pinned
        # layout, not a per-round cost)
        final = plan.split("+- == Initial Plan ==")[0]
        ens = re.findall(
            r"Exchange hashpartitioning\((\w+)#\d+L?, \d+\),"
            r" ENSURE_REQUIREMENTS",
            final,
        )
        # exactly one implicit exchange per round: the contribution
        # aggregate on dst. src re-appearing here means the edge table
        # lost its pinned layout and re-shuffles O(E) rows every round.
        assert ens == ["dst"], (ens, final)
    finally:
        ed.unpersist(False)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_correlated_subqueries_decorrelate_to_joins(spark, sf_dir):
    """Catalyst must rewrite the SQL surface's correlated shapes into
    joins — EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, the correlated
    scalar average into an aggregate+join — and never into a
    per-row re-execution or a cartesian product."""
    from data_integration_and_harmonization_spark.plans.sql import correlated_analytics

    plan = correlated_analytics(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin Inner" not in plan, plan


def test_mm_query_arrow_stage_budget(spark, sf_dir):
    """mm_meta_features pays exactly FIVE Python (Arrow) stages:
    feature extraction, the FUSED audio+video temporal stage, resize,
    frame sampling, and (r12) the align leg's video_duration_table.
    A sixth means someone split a fused stage back into per-modality
    stages (~1.4 s of fixed Arrow overhead each at sf0.1 — the r4
    lesson); the sketch/HLL legs must add ZERO Python stages (they
    are JVM-side aggregates)."""
    import __spark_entry__ as E

    mm = E.queries()["mm_meta_features"](spark, sf_dir)
    plan = mm._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 5, plan.count("MapInPandas")
    desc = E.queries()["describe_all"](spark, sf_dir)
    dplan = desc._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in dplan and "BatchEvalPython" not in dplan


def test_dedup_simhash_fused_signature_stage_budget(spark, sf_dir):
    """The perceptual legs of dedup_simhash pay ONE Python (Arrow)
    stage for ALL THREE modalities (media_signature_table dispatches
    image/audio/video hashes per payload), and that stage sits behind
    the persisted signature table: every MapInPandas occurrence in the
    executed plan must be inside an InMemoryTableScan reference (the
    cache serves all six legs; the decode never re-executes per leg).
    A bare MapInPandas means someone dropped the persist or split the
    fused stage per modality (~1.4 s of fixed Arrow overhead each —
    the r4 lesson)."""
    import __spark_entry__ as E
    from data_integration_and_harmonization_spark.operators.dedup import (
        media_signature_table,
    )

    media = spark.createDataFrame([(1, b"x")], "media_id long, payload binary")
    sig_plan = (
        media_signature_table(media)._jdf.queryExecution().executedPlan().toString()
    )
    assert sig_plan.count("MapInPandas") == 1, sig_plan

    df = E.queries()["dedup_simhash"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every Python stage print is a cached-plan reference, not a live
    # stage: references == MapInPandas occurrences, and there is at
    # least one reference per perceptual leg
    assert plan.count("MapInPandas") == plan.count("InMemoryTableScan"), (
        plan.count("MapInPandas"),
        plan.count("InMemoryTableScan"),
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_document_profile_tokenizes_once(spark):
    """r13: the ~10 token-derived profile signals must share ONE
    staged tokenize — Catalyst does not CSE regexp trees, so the
    per-signal spelling re-ran regexp_extract_all per signal (5x for
    the 4-language ID alone; measured 2.1x slower). CollapseProject
    keeps the non-cheap multiply-referenced alias staged; this pins
    that the executed plan evaluates the word tokenizer exactly once
    (the second regexp family in the plan is the independent BPE
    pre-tokenizer, which uses a different pattern)."""
    from data_integration_and_harmonization_spark.operators.text import (
        document_profile,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog"), (2, None)],
        "doc_id long, text string",
    )
    plan = _executed(document_profile(docs))
    word_tokenizes = plan.count("regexp_extract_all(lower(text")
    assert word_tokenizes == 1, f"{word_tokenizes} tokenizer evals:\n{plan}"


def test_minhash_signatures_tokenizes_once(spark):
    """r14: word_shingles references its token array ~2*gram times
    (slice inputs + length bounds), and unstaged each reference
    inlines the full regexp tokenizer — the signature pass paid ~6
    tokenizer evals per document. The staged __tk projection must
    keep it at exactly one (CollapseProject retains a non-cheap
    multiply-referenced alias)."""
    from data_integration_and_harmonization_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog jumps over"), (2, None)],
        "doc_id long, text string",
    )
    plan = _executed(minhash_signatures(docs))
    word_tokenizes = plan.count("regexp_extract_all(lower(")
    assert word_tokenizes == 1, f"{word_tokenizes} tokenizer evals:\n{plan}"


def test_decontaminate_tokenizes_once_per_side(spark):
    """r14: same staging pin for the decontamination n-gram explode —
    one tokenizer eval per side (corpus + eval set)."""
    from data_integration_and_harmonization_spark.operators.scrub import (
        decontaminate,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, "iota kappa lambda mu nu xi omicron pi")],
        "doc_id long, text string",
    )
    plan = _executed(decontaminate(docs, ev))
    word_tokenizes = plan.count("regexp_extract_all(lower(")
    assert word_tokenizes == 2, f"{word_tokenizes} tokenizer evals:\n{plan}"
