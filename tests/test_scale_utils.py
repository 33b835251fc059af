"""Scale utilities: salted joins equal unsalted, the persist registry
releases, and deterministic shuffles, samples and source mixes."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.functions.skew import salted_join


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plain = li.join(part, ["l_partkey"])
    salted = salted_join(li, part, ["l_partkey"], salt=4)
    assert _canon(salted) == _canon(plain)


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b"), (99, "z")], "k long, v string")
    small = spark.createDataFrame([(1, "X"), (2, "Y")], "k long, w string")
    out = salted_join(big, small, ["k"], salt=3, how="left")
    rows = {r["k"]: r["w"] for r in out.collect()}
    assert rows == {1: "X", 2: "Y", 99: None}


def test_persist_registry_releases(spark, sf_dir):
    """with_global_index/_repair_plan persists are tracked and released
    at query boundaries — no session-lifetime cache leak (r1 VERDICT)."""
    from data_integration_and_harmonization_spark.functions import caching
    from data_integration_and_harmonization_spark.functions.indexing import with_global_index

    caching.release_all()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_linenumber")
    idx = with_global_index(li, ["l_orderkey", "l_linenumber"], index_col="pos")
    idx.count()
    assert caching.release_all() == 1  # the one frame tracked since the last release
    assert caching.release_all() == 0  # and nothing is left tracked


def test_deterministic_shuffle_reproducible_and_complete(spark, sf_dir):
    from data_integration_and_harmonization_spark.operators.sampling import (
        deterministic_shuffle,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    a = [r["c_custkey"] for r in deterministic_shuffle(cust, ["c_custkey"]).collect()]
    b = [r["c_custkey"] for r in deterministic_shuffle(cust, ["c_custkey"], num_partitions=3).collect()]
    assert a == b  # same order at any parallelism
    assert sorted(a) == sorted(r["c_custkey"] for r in cust.collect())  # permutation
    c = [r["c_custkey"] for r in deterministic_shuffle(cust, ["c_custkey"], seed=7).collect()]
    assert a != c  # seed changes the order
    assert sorted(a) == sorted(c)


def test_mix_sources_weights_and_tags(spark, sf_dir):
    from data_integration_and_harmonization_spark.operators.sampling import mix_sources

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("id")
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("id")
    )
    mixed = mix_sources(
        {"cust": cust, "supp": supp}, {"cust": 0.2}, key_cols=["id"]
    )
    by_src = {r["__mix_source"]: r["n"] for r in mixed.groupBy("__mix_source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src["supp"] == supp.count()  # unweighted source kept whole
    n_cust, kept = cust.count(), by_src["cust"]
    assert 0.1 * n_cust < kept < 0.3 * n_cust  # ~20% hash sample
    # deterministic: same mix twice is identical
    again = {r["__mix_source"]: r["n"] for r in mix_sources({"cust": cust, "supp": supp}, {"cust": 0.2}, key_cols=["id"]).groupBy("__mix_source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert again == by_src


def test_hash_sample_netstring_keys_decorrelate_ambiguous_tuples(spark):
    # ('x', 'y|z') and ('x|y', 'z') concat_ws-collide; the netstring
    # encoding must keep their keep/drop decisions independent. Also:
    # a null field must hash differently from the empty string.
    from data_integration_and_harmonization_spark.operators.sampling import (
        _hash_unit,
        _injective_key,
    )

    df = spark.createDataFrame(
        [("x", "y|z"), ("x|y", "z"), (None, "a"), ("", "a")], "a string, b string"
    )
    hashes = [
        r["h"]
        for r in df.select(
            _hash_unit(_injective_key(["a", "b"]), seed=42).alias("h")
        ).collect()
    ]
    assert len(set(hashes)) == 4, hashes


def test_deterministic_shuffle_rank_matches_hash_order(spark):
    # rank_col positions must equal the rank of md5(netstring:seed) —
    # computed independently here via a driver-side sort
    import hashlib

    from data_integration_and_harmonization_spark.operators.sampling import (
        deterministic_shuffle,
    )

    rows = [(i, f"v{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v string")
    got = {
        r["k"]: r["pos"]
        for r in deterministic_shuffle(df, ["k"], seed=9, rank_col="pos").collect()
    }
    def h(k):
        ns = f"{len(str(k))}:{k}"
        return hashlib.md5(f"{ns}:9".encode()).hexdigest()

    expected = {k: i for i, (k, _) in enumerate(sorted(rows, key=lambda r: h(r[0])))}
    assert got == expected
