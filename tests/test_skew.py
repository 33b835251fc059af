"""Salted-join pins: the salt-explode physical shape, the hot-key
fan-out property it exists for, and exact agreement with the unsalted
join."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.functions.skew import (
    SALT,
    key_skew_report,
    salted_join,
)


def _skewed_sides(spark, hot_rows=20_000, cold_keys=50):
    """Big side: one pathologically hot key (k=0) plus a cold tail;
    small side: a dim with one row per key."""
    hot = spark.range(hot_rows).select(
        F.lit(0).alias("k"), (F.col("id") % 97).cast("double").alias("x")
    )
    cold = spark.range(cold_keys * 10).select(
        (F.col("id") % cold_keys + 1).alias("k"), F.lit(1.0).alias("x")
    )
    big = hot.unionByName(cold)
    small = spark.range(cold_keys + 1).select(
        F.col("id").alias("k"), (F.col("id") * 7).cast("double").alias("w")
    )
    return big, small


def test_salted_join_matches_unsalted(spark):
    big, small = _skewed_sides(spark)
    plain = big.join(small, ["k"]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x") * F.col("w")).alias("chk"),
        F.sum("k").alias("ks"),
    ).first()
    salted = salted_join(big, small, ["k"], salt=8).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x") * F.col("w")).alias("chk"),
        F.sum("k").alias("ks"),
    ).first()
    assert (plain["n"], plain["ks"]) == (salted["n"], salted["ks"])
    assert abs((plain["chk"] or 0) - (salted["chk"] or 0)) < 1e-6


def test_key_skew_report_identifies_hot_key(spark):
    big, _ = _skewed_sides(spark)  # k=0 holds 20k of 20.5k rows
    rep = key_skew_report(big, ["k"], top_n=3).collect()
    assert len(rep) == 3
    top = rep[0] if rep[0]["key"] == "0" else max(rep, key=lambda r: r["n_rows"])
    assert top["key"] == "0" and top["n_rows"] == 20_000
    assert abs(top["share"] - 20_000 / 20_500) < 1e-6
    # 51 groups: mean ~402 rows; the hot key's x_mean IS the skew factor
    assert top["n_groups"] == 51
    assert top["x_mean"] > 40
    # cold keys each have 10 rows
    for r in rep:
        if r["key"] != "0":
            assert r["n_rows"] == 10


def test_salted_join_plan_shape(spark):
    """The physical plan must show the salt mechanics: the salt key in
    the join, and the small side replicated via explode (Generate)."""
    big, small = _skewed_sides(spark)
    out = salted_join(big, small, ["k"], salt=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert SALT in plan, "join should include the salt key"
    assert "Generate explode" in plan, "small side should replicate via explode"
    # the salt column must not leak into the result schema
    assert SALT not in out.columns


def test_salted_join_fans_hot_key_across_partitions(spark):
    """The property salting buys: the hot key's rows land in MULTIPLE
    shuffle partitions (an unsalted hash join necessarily funnels them
    into one). AQE's coalescing can remix small partitions, so pin the
    shape with AQE off for this check — and with auto-broadcast off,
    because a broadcast join has no shuffle to skew in the first place
    (salting only matters once the dim outgrows the broadcast
    threshold and the join must shuffle)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big, small = _skewed_sides(spark)
        salted_parts = (
            salted_join(big, small, ["k"], salt=8)
            .where(F.col("k") == 0)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        plain_parts = (
            big.join(small.hint("shuffle_hash"), ["k"])
            .where(F.col("k") == 0)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert plain_parts == 1
    assert salted_parts > 1, "salting must spread the hot key"


def test_hamming_identical_corpus_pairs_every_id(spark):
    """hamming_pairs has no hot-bucket cap: an all-identical signature
    corpus shares every band bucket and yields all n*(n-1)/2 pairs
    (the quadratic bound the banded self-join documents)."""
    from data_integration_and_harmonization_spark.operators import dedup as DD

    n = 200
    ident = spark.range(n).select(F.col("id"), F.lit(-6148914691236517206).alias("sig"))
    assert DD.hamming_pairs(ident).count() == n * (n - 1) // 2
