"""F1/F2 + C6/A6 parity pins (sklearn ddof=0 scaling, alphabetical
label codes, pairwise-complete correlation)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators import features as FE
from data_integration_and_harmonization_spark.operators import profile as P


def test_zscore_population_std(spark):
    # sklearn StandardScaler: (x - mean) / pop_std; [1,2,3,4] ->
    # mean 2.5, pop std sqrt(1.25)
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v double")
    out = FE.zscore(df, ["v"])
    vals = sorted(r["v"] for r in out.collect())
    s = math.sqrt(1.25)
    expect = [(x - 2.5) / s for x in [1.0, 2.0, 3.0, 4.0]]
    assert all(abs(a - b) < 1e-12 for a, b in zip(vals, expect))


def test_zscore_zero_variance_centers_only(spark):
    df = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    out = FE.zscore(df, ["v"])
    assert [r["v"] for r in out.collect()] == [0.0, 0.0]


def test_label_encode_alphabetical_codes(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",), (None,)], "v string")
    enc, maps = FE.label_encode(df, ["v"])
    mapping = {r["value"]: r["code"] for r in maps["v"].collect()}
    # nulls stringify to "nan" (ref:50 astype(str)); sorted: a,b,c,nan
    assert mapping == {"a": 0, "b": 1, "c": 2, "nan": 3}
    assert sorted(r["v"] for r in enc.collect()) == [0, 0, 1, 2, 3]


def test_corr_pairwise_complete(spark):
    # a null in y must not exclude the row from (x,x) or x stats
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, None), (3.0, 6.0), (4.0, 8.0)], "x double, y double"
    )
    out = {(r["col_x"], r["col_y"]): r["corr"] for r in P.corr_matrix(df).collect()}
    assert abs(out[("x", "x")] - 1.0) < 1e-12
    # (x,y) over the 3 complete pairs is exactly 1 (y = 2x there)
    assert abs(out[("x", "y")] - 1.0) < 1e-12


def test_describe_numeric_quantile_interpolation(spark):
    # pandas/np linear interpolation: [1,2,3,4] p25 = 1.75
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v double")
    row = P.describe_numeric(df, ["v"]).first()
    assert abs(row["p25"] - 1.75) < 1e-12
    assert abs(row["std"] - 1.2909944487358056) < 1e-12  # sample std ddof=1


def test_describe_object_top_freq(spark):
    df = spark.createDataFrame([("a",), ("b",), ("b",), ("c",), (None,)], "v string")
    row = P.describe_object(df, ["v"]).first()
    assert row["count"] == 4 and row["unique"] == 3
    assert row["top"] == "b" and row["freq"] == 2


def test_drift_report_hand_computed(spark):
    import math

    from data_integration_and_harmonization_spark.operators.profile import drift_report

    # A: 8 values in [0, 4); B: shifted up — combined range [0, 8],
    # 4 bins of width 2. A -> bins 0,0,0,0,1,1,1,1 ; B -> 1,1,2,2,3,3
    a = spark.createDataFrame([(float(x),) for x in [0, 0.5, 1, 1.5, 2, 2.5, 3, 3.5]], "x double")
    b = spark.createDataFrame([(float(x),) for x in [2, 3, 4, 5, 6, 7.5]], "x double")
    out = {(r["kind"], r["bucket"]): r["value"] for r in drift_report(a, b, "x", bins=4).collect()}
    p = {0: 0.5, 1: 0.5}          # shares of A per bin (bins 2,3 absent)
    q = {1: 2 / 6, 2: 2 / 6, 3: 2 / 6}
    assert out[("p", 0)] == 0.5 and out[("p", 1)] == 0.5
    assert out[("q", 1)] == round(2 / 6, 6) and out[("q", 3)] == round(2 / 6, 6)
    # absent-on-one-side bins report share 0 for that side
    assert out[("q", 0)] == 0.0 and out[("p", 2)] == 0.0 and out[("p", 3)] == 0.0
    eps = 1e-6
    psi = sum(
        (max(p.get(i, 0.0), eps) - max(q.get(i, 0.0), eps))
        * math.log(max(p.get(i, 0.0), eps) / max(q.get(i, 0.0), eps))
        for i in range(4)
    )
    assert abs(out[("psi", -1)] - round(psi, 6)) < 1e-9
    # cumulative |F_a - F_b|: after bin0 |0.5-0|, bin1 |1-1/3|, bin2 |1-2/3|, bin3 0
    assert out[("ks", -1)] == round(2 / 3, 6)
    assert out[("tvd", -1)] == round(0.5 * (0.5 + abs(0.5 - 2 / 6) + 2 / 6 + 2 / 6), 6)
    # identical snapshots -> all three metrics exactly 0
    same = {(r["kind"], r["bucket"]): r["value"] for r in drift_report(a, a, "x", bins=4).collect()}
    assert same[("psi", -1)] == 0.0 and same[("ks", -1)] == 0.0 and same[("tvd", -1)] == 0.0


def test_one_hot_indicator_columns(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, None)], "k long, c string"
    )
    out, cats = FE.one_hot(df, "c")
    assert cats == ["a", "b"]
    rows = {r["k"]: (r["c__a"], r["c__b"]) for r in out.collect()}
    assert rows == {1: (1, 0), 2: (0, 1), 3: (1, 0), 4: (0, 0)}
    # explicit vocabulary: unknown value gets all-zeros, missing
    # category still yields its column (train/serve schema stability)
    out2, cats2 = FE.one_hot(df, "c", categories=["a", "z"])
    r2 = {r["k"]: (r["c__a"], r["c__z"]) for r in out2.collect()}
    assert cats2 == ["a", "z"]
    assert r2[2] == (0, 0) and r2[1] == (1, 0)
    # no shuffle in the explicit-vocabulary encode (narrow projection)
    plan = out2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_quantile_bucketize_matches_ntile(spark):
    rows = [(i, float((i * 37) % 17)) for i in range(23)]
    df = spark.createDataFrame(rows, "id long, v double")
    for k in (3, 4, 10, 23, 40):
        got = {
            r["id"]: r["v_bucket"]
            for r in FE.quantile_bucketize(df, "v", k, ["id"]).collect()
        }
        from pyspark.sql import Window

        expect = {
            r["id"]: r["nt"]
            for r in df.withColumn(
                "nt", F.ntile(k).over(Window.orderBy("v", "id"))
            ).collect()
        }
        assert got == expect, f"k={k}"


def test_target_encode_loo_hand_computed(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), (None, 5.0), ("c", None)],
        "cat string, y double",
    )
    out = {
        (r["cat"], r["y"]): r["enc"]
        for r in FE.target_encode(df, "cat", "y", smoothing=2.0, out_col="enc").collect()
    }
    prior = (1 + 2 + 3 + 10 + 5) / 5.0
    # LOO for 'a' row y=1: (6 - 1 + 2*prior) / (3 - 1 + 2)
    assert out[("a", 1.0)] == (6 - 1 + 2 * prior) / 4
    assert out[("a", 3.0)] == (6 - 3 + 2 * prior) / 4
    # singleton category: LOO leaves only the prior smoothing mass
    assert out[("b", 10.0)] == (10 - 10 + 2 * prior) / (1 - 1 + 2)
    # null target -> plain smoothed mean of its category (count skips null)
    assert out[("c", None)] == (0 + 2 * prior) / (0 + 2)
    # null category row: grouped with the NULL key -> its own stats
    assert out[(None, 5.0)] == (5 - 5 + 2 * prior) / (1 - 1 + 2)
    # loo=False: plain smoothed mean everywhere
    plain = {
        (r["cat"], r["y"]): r["enc"]
        for r in FE.target_encode(df, "cat", "y", smoothing=2.0, out_col="enc", loo=False).collect()
    }
    assert plain[("a", 1.0)] == (6 + 2 * prior) / 5


def test_dq_report_rules(spark):
    df = spark.createDataFrame(
        [(1, "O", 5.0), (2, "F", -1.0), (2, "X", 50.0), (None, "O", None)],
        "k long, st string, amt double",
    )
    out = {
        r["rule"]: r
        for r in P.dq_report(
            df,
            [
                ("not_null", "k"),
                ("unique", "k"),
                ("in_range", "amt", 0.0, 10.0),
                ("accepted", "st", ["O", "F"]),
            ],
        ).collect()
    }
    nn = out["not_null:k"]
    assert (nn["n_checked"], nn["n_violations"], nn["ok"]) == (4, 1, 0)
    uq = out["unique:k"]  # non-null keys {1,2,2}: 3 checked, 1 dup
    assert (uq["n_checked"], uq["n_violations"], uq["ok"]) == (3, 1, 0)
    rg = out["in_range:amt"]  # {5,-1,50}: two outside [0,10]; null skipped
    assert (rg["n_checked"], rg["n_violations"]) == (3, 2)
    assert rg["violation_rate"] == round(2 / 3, 6)
    ac = out["accepted:st"]
    assert (ac["n_checked"], ac["n_violations"], ac["ok"]) == (4, 1, 0)


def test_dq_ref_integrity(spark):
    child = spark.createDataFrame([(1,), (2,), (9,), (None,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    r = P.dq_ref_integrity(child, "fk", parent, "pk").collect()[0]
    # null fk not checked; 9 is the one orphan
    assert (r["n_checked"], r["n_violations"], r["ok"]) == (3, 1, 0)
    clean = P.dq_ref_integrity(
        child.where("fk < 3"), "fk", parent, "pk"
    ).collect()[0]
    assert (clean["n_violations"], clean["ok"]) == (0, 1)


def test_dq_split_routes_rows(spark):
    """dq_split: violation labels per row, all rows of a duplicated
    key quarantined, passed side clean."""
    from data_integration_and_harmonization_spark.operators import profile as P

    df = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, -5.0, "A"),    # in_range violation
            (3, 20.0, "X"),    # accepted violation
            (4, 999.0, "X"),   # in_range + accepted
            (5, 30.0, "B"),
            (5, 40.0, "B"),    # unique violation: BOTH k=5 rows out
            (None, 1.0, "A"),  # null key: not a unique violation
        ],
        "k long, v double, s string",
    )
    passed, quar = P.dq_split(
        df,
        [
            ("in_range", "v", 0.0, 100.0),
            ("accepted", "s", ["A", "B"]),
            ("unique", "k"),
        ],
    )
    assert sorted(r["v"] for r in passed.collect()) == [1.0, 10.0]
    got = {
        (r["k"], r["v"]): list(r["__dq_violations"]) for r in quar.collect()
    }
    assert got[(2, -5.0)] == ["in_range:v"]
    assert got[(3, 20.0)] == ["accepted:s"]
    assert got[(4, 999.0)] == ["in_range:v", "accepted:s"]
    assert got[(5, 30.0)] == ["unique:k"] and got[(5, 40.0)] == ["unique:k"]
    assert "__dq_violations" not in passed.columns


def test_fd_report_group_level_semantics(spark):
    rows = [
        (1, "a", "x", 10.0),
        (1, "a", "x", 11.0),   # same det -> same dep: fine
        (2, "b", "x", 12.0),
        (2, "c", "x", 13.0),   # det 2 -> two deps: violating group
        (None, "d", "y", 14.0),  # NULL det forms its own group
        (None, "d", "y", 15.0),
    ]
    df = spark.createDataFrame(rows, "k int, dep string, z string, v double")
    got = {
        r["rule"]: (r["n_checked"], r["n_violations"], r["violation_rate"], r["ok"])
        for r in P.fd_report(
            df, [("k", "dep"), ("z", "dep"), (["k", "z"], "v")]
        ).collect()
    }
    # k -> dep: groups {1, 2, NULL}; only k=2 violates
    assert got["fd:k->dep"] == (3, 1, round(1 / 3, 6), 0)
    # z -> dep: x -> {a,b,c} violates, y -> {d} holds
    assert got["fd:z->dep"] == (2, 1, 0.5, 0)
    # composite (k,z) -> v: (1,x) has two v's, (2,x) two, (NULL,y) two
    assert got["fd:k,z->v"] == (3, 3, 1.0, 0)


def test_fd_report_degenerate_inputs(spark):
    """r9 advice: empty pairs raise a clear ValueError (not a bare
    IndexError), and an empty TABLE reads as the FD vacuously holding
    (violations/rate 0, ok 1) — the oracle's CASE WHEN v=0 reading."""
    import pytest

    df = spark.createDataFrame([], "k int, dep string")
    with pytest.raises(ValueError, match="at least one"):
        P.fd_report(df, [])
    r = P.fd_report(df, [("k", "dep")]).collect()[0]
    assert (r["n_checked"], r["n_violations"], r["violation_rate"], r["ok"]) == (
        0, 0, 0.0, 1,
    )


def test_dq_expr_rule_not_true_violates(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 500.0, "A"), (3, 500.0, "B"), (4, None, "B")],
        "id long, amt double, tier string",
    )
    rules = [("expr", "amt_tier", "amt < 100.0 OR tier = 'B'")]
    r = P.dq_report(df, rules).collect()[0]
    # row 2 violates (500, A); row 4's NULL amt makes the predicate
    # NULL -> NOT TRUE -> violates... wait: NULL < 100 is NULL,
    # OR tier='B' -> row 4 tier B makes it TRUE. Only row 2 violates.
    assert r["rule"] == "expr:amt_tier"
    assert (r["n_checked"], r["n_violations"], r["ok"]) == (4, 1, 0)
    # NULL-predicate row: both disjuncts unsatisfied -> violates
    df2 = spark.createDataFrame([(1, None)], "id long, amt double")
    r2 = P.dq_report(df2, [("expr", "pos", "amt > 0")]).collect()[0]
    assert (r2["n_violations"], r2["ok"]) == (1, 0)
    # dq_split routes by the same reading
    passed, quar = P.dq_split(df, rules)
    assert sorted(x["id"] for x in passed.collect()) == [1, 3, 4]
    q = quar.collect()
    assert len(q) == 1 and q[0]["__dq_violations"] == ["expr:amt_tier"]


def test_sketch_distinct_report_contracts(spark):
    # 5000 rows, known cardinalities: id unique, mod-97 key, 3 labels
    df = spark.range(5000).select(
        F.col("id"),
        (F.col("id") % 97).alias("k97"),
        (F.col("id") % 3).cast("string").alias("lab"),
    )
    rows = {
        r["col_name"]: r
        for r in P.sketch_distinct_report(
            df, ["id", "k97", "lab"], shard_key="id"
        ).collect()
    }
    assert rows["id"]["n_exact"] == 5000
    assert rows["k97"]["n_exact"] == 97
    assert rows["lab"]["n_exact"] == 3
    for r in rows.values():
        assert r["err_ok"] == 1 and r["merge_ok"] == 1
        assert abs(r["est"] - r["n_exact"]) <= 0.05 * r["n_exact"]
    # small cardinalities estimate exactly (sparse coupon mode)
    assert rows["lab"]["est"] == 3.0
    # estimates may drift a little across partitionings (partial
    # sketches merge in partition-dependent sparse/dense modes) but
    # every layout must stay inside the error contract — this is why
    # only the VERDICT columns ride the oracle, never the estimate
    again = {
        r["col_name"]: r
        for r in P.sketch_distinct_report(
            df.repartition(17, "lab"), ["id", "k97", "lab"], shard_key="id"
        ).collect()
    }
    for c in ("id", "k97", "lab"):
        assert again[c]["err_ok"] == 1 and again[c]["merge_ok"] == 1
    # unsupported input types profile through their string form
    ts = df.select(F.timestamp_seconds(F.col("id") % 11).alias("t"), "id")
    r = P.sketch_distinct_report(ts, ["t"], shard_key="id").collect()[0]
    assert r["n_exact"] == 11 and r["err_ok"] == 1


def test_profile_store_incremental(spark, tmp_path):
    store = str(tmp_path / "prof")
    df = spark.range(4000).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("lab")
    )
    b1 = df.where(F.col("id") % 2 == 0)
    b2 = df.where(F.col("id") % 2 == 1)
    P.profile_store_update(b1, store, ["id", "lab"])
    P.profile_store_update(b2, store, ["id", "lab"])
    rows = {r["col_name"]: r for r in P.profile_store_estimate(spark, store).collect()}
    assert rows["id"]["n_rows"] == 4000 and rows["id"]["n_batches"] == 2
    assert rows["lab"]["est_distinct"] == 7.0  # sparse mode: exact
    assert abs(rows["id"]["est_distinct"] - 4000) <= 0.05 * 4000
    assert rows["lab"]["n_nonnull"] == 4000
    # a crashed writer's dir (no _SUCCESS) is invisible to the profile
    import os

    crashed = os.path.join(store, "batch-999999-deadbeef")
    os.makedirs(crashed)
    rows2 = {r["col_name"]: r for r in P.profile_store_estimate(spark, store).collect()}
    assert rows2["id"]["n_batches"] == 2
    # empty store: clear error
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        P.profile_store_estimate(spark, str(tmp_path / "missing"))


def test_compact_profile_store_preserves_estimates(spark, tmp_path):
    store = str(tmp_path / "prof_c")
    df = spark.range(3000).select(
        F.col("id"), (F.col("id") % 13).cast("string").alias("lab")
    )
    for m in range(3):
        P.profile_store_update(df.where(F.col("id") % 3 == m), store, ["id", "lab"])
    before = {r["col_name"]: r for r in P.profile_store_estimate(spark, store).collect()}
    out = P.compact_profile_store(spark, store)
    assert out["batches_before"] == 3
    after = {r["col_name"]: r for r in P.profile_store_estimate(spark, store).collect()}
    for c in ("id", "lab"):
        # HLL union is lossless register-max: estimates survive exactly
        assert after[c]["est_distinct"] == before[c]["est_distinct"]
        assert after[c]["n_rows"] == 3000 and after[c]["n_batches"] == 1
    # the store keeps growing after compaction
    P.profile_store_update(
        spark.range(3000, 4000).select(
            F.col("id"), (F.col("id") % 13).cast("string").alias("lab")
        ),
        store,
        ["id", "lab"],
    )
    grown = {r["col_name"]: r for r in P.profile_store_estimate(spark, store).collect()}
    assert grown["id"]["n_rows"] == 4000 and grown["id"]["n_batches"] == 2
    assert abs(grown["id"]["est_distinct"] - 4000) <= 0.05 * 4000


def test_profile_store_empty_batch_harmless(spark, tmp_path):
    store = str(tmp_path / "prof_e")
    df = spark.range(100)
    P.profile_store_update(df, store, ["id"])
    P.profile_store_update(df.where(F.col("id") < 0), store, ["id"])
    r = P.profile_store_estimate(spark, store).collect()[0]
    assert (r["est_distinct"], r["n_rows"], r["n_batches"]) == (100.0, 100, 2)
    # schema evolution for free: a later batch profiling a NEW column
    # just contributes new col_name rows — per-column batch counts
    # tell a reader how much of the corpus each profile covers
    P.profile_store_update(
        df.select("id", (F.col("id") % 5).alias("grp")), store, ["id", "grp"]
    )
    rows = {x["col_name"]: x for x in P.profile_store_estimate(spark, store).collect()}
    assert rows["grp"]["n_batches"] == 1 and rows["grp"]["est_distinct"] == 5.0
    assert rows["id"]["n_batches"] == 3 and rows["id"]["n_rows"] == 200


def test_compact_profile_store_crash_windows_read_correct(spark, tmp_path, monkeypatch):
    """Every compactor crash window serves correct counts: a merged
    dir whose commit never landed is not live; once the commit lands,
    originals the sweep did not delete stay on disk but are not
    served; the next compaction reaps them."""
    import os

    from data_integration_and_harmonization_spark.functions import stores
    from data_integration_and_harmonization_spark.sources import manifest as MAN

    store = str(tmp_path / "prof_w")
    df = spark.range(500)
    P.profile_store_update(df.where(F.col("id") % 2 == 0), store, ["id"])
    P.profile_store_update(df.where(F.col("id") % 2 == 1), store, ["id"])

    def est():
        r = P.profile_store_estimate(spark, store).collect()[0]
        return r["n_rows"], r["n_batches"]

    def crash(*a, **kw):
        raise RuntimeError("injected crash before commit")

    assert est() == (500, 2)
    originals = stores.complete_batches(spark, store)
    # window 1: merged dir written, commit never landed -> ignored
    monkeypatch.setattr(MAN, "commit_files", crash)
    with pytest.raises(RuntimeError, match="injected"):
        P.compact_profile_store(spark, store)
    monkeypatch.undo()
    assert est() == (500, 2)

    # window 2: the commit lands but the sweep never runs — the
    # originals stay on disk unlisted, counts do NOT double
    monkeypatch.setattr(stores, "reap", lambda spark_, root: [])
    P.compact_profile_store(spark, store)
    monkeypatch.undo()
    assert all(os.path.exists(p) for p in originals)
    assert est() == (500, 1)
    # the next compaction reaps the leftovers
    P.compact_profile_store(spark, store)
    assert not any(os.path.exists(p) for p in originals)
    assert est() == (500, 1)


def test_profile_store_orphan_compact_dir_is_reaped(spark, tmp_path, monkeypatch):
    """A compactor that crashed between writing its merged dir and
    committing leaves an orphan dir: it must never be SERVED (the
    originals stay authoritative) and must be REAPED by the next
    compaction instead of leaking on disk forever."""
    import os

    from data_integration_and_harmonization_spark.sources import manifest as MAN

    store = str(tmp_path / "prof_orphan")
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("lab")
    )
    for m in range(2):
        P.profile_store_update(df.where(F.col("id") % 2 == m), store, ["id", "lab"])
    before = {
        r["col_name"]: r for r in P.profile_store_estimate(spark, store).collect()
    }

    # the crash window: the real compaction's merged rows are on disk,
    # its commit never landed
    def crash(*a, **kw):
        raise RuntimeError("injected crash before commit")

    dirs = set(os.listdir(store))
    monkeypatch.setattr(MAN, "commit_files", crash)
    with pytest.raises(RuntimeError, match="injected"):
        P.compact_profile_store(spark, store)
    monkeypatch.undo()
    (orphan,) = set(os.listdir(store)) - dirs
    orphan = os.path.join(store, orphan)
    assert os.path.exists(os.path.join(orphan, "_SUCCESS"))

    # never served: estimates unchanged, batch counts still 2
    mid = {r["col_name"]: r for r in P.profile_store_estimate(spark, store).collect()}
    for c in ("id", "lab"):
        assert mid[c]["est_distinct"] == before[c]["est_distinct"]
        assert mid[c]["n_rows"] == 2000 and mid[c]["n_batches"] == 2

    # the next compaction reaps the orphan alongside the folded batches
    out = P.compact_profile_store(spark, store)
    assert out["batches_before"] == 2 and not out["undeleted"]
    assert not os.path.exists(orphan)
    after = {r["col_name"]: r for r in P.profile_store_estimate(spark, store).collect()}
    for c in ("id", "lab"):
        assert after[c]["est_distinct"] == before[c]["est_distinct"]
        assert after[c]["n_rows"] == 2000 and after[c]["n_batches"] == 1


def test_profile_store_tag_exact_segment_match(spark, tmp_path):
    """Replay idempotency compares the EXACT tag a committed batch
    carries, not a dash-suffix: a tag like '16' must not false-match
    an earlier '2026-08-16' batch (which would silently drop the new
    batch's counts)."""
    store = str(tmp_path / "prof_tag")
    df = spark.range(100)
    p1 = P.profile_store_update(df, store, ["id"], tag="2026-08-16")
    # same tag replays as a no-op returning the admitted dir
    replay = P.profile_store_update(df, store, ["id"], tag="2026-08-16")
    assert replay.rsplit("/", 1)[-1] == p1.rsplit("/", 1)[-1]
    # dash-suffix tag is a DIFFERENT logical batch and must be admitted
    P.profile_store_update(df, store, ["id"], tag="16")
    r = P.profile_store_estimate(spark, store).collect()[0]
    assert r["n_batches"] == 2 and r["n_rows"] == 200
    # and IT is idempotent under its own exact tag too
    P.profile_store_update(df, store, ["id"], tag="16")
    r2 = P.profile_store_estimate(spark, store).collect()[0]
    assert r2["n_batches"] == 2 and r2["n_rows"] == 200
