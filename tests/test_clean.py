"""C1-C5 semantics pinned against verified pandas 2.2.2 behavior
(SURVEY §2.4): interpolation boundary clamp, coerce-and-drop cascade,
ffill leading-null behavior."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators import clean as C


def _seq_df(spark, vals):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, v double"
    )


def _vals(df, col="v"):
    return [r[col] for r in sorted(df.collect(), key=lambda r: r["pos"])]


def test_interpolate_matches_pandas_pin(spark):
    # verified pandas: [nan,nan,2,nan,6,nan] -> [2,2,2,4,6,6]
    df = _seq_df(spark, [None, None, 2.0, None, 6.0, None])
    out = C.interpolate_linear(df, "pos", ["v"], num_partitions=3)
    assert _vals(out) == [2.0, 2.0, 2.0, 4.0, 6.0, 6.0]


def test_interpolate_interior_run(spark):
    df = _seq_df(spark, [1.0, None, None, None, 5.0])
    out = C.interpolate_linear(df, "pos", ["v"], num_partitions=2)
    assert _vals(out) == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_interpolate_partition_count_invariance(spark):
    vals = [None, 3.0, None, None, 9.0, None, 1.0, None]
    expect = _vals(C.interpolate_linear(_seq_df(spark, vals), "pos", ["v"], num_partitions=1))
    for n in (2, 4, 8):
        got = _vals(C.interpolate_linear(_seq_df(spark, vals), "pos", ["v"], num_partitions=n))
        assert got == expect, f"partitions={n}"


def test_interpolate_all_null_stays_null(spark):
    df = _seq_df(spark, [None, None, None])
    out = C.interpolate_linear(df, "pos", ["v"], num_partitions=2)
    assert _vals(out) == [None, None, None]


def test_ffill_leading_nulls_stay(spark):
    df = _seq_df(spark, [None, 1.0, None, None, 4.0, None])
    out = C.interpolate_and_ffill(df, "pos", ["v"], num_partitions=3)
    assert _vals(out, "v__ffill") == [None, 1.0, 1.0, 1.0, 4.0, 4.0]


def test_coerce_numeric_cascade(spark):
    df = spark.createDataFrame(
        [("1.5", "pure"), ("x", "text"), ("2", "only")], "mixed string, cat string"
    )
    out = C.coerce_numeric(df)
    got = {r["mixed"] for r in out.collect()}
    assert got == {1.5, None, 2.0}
    dead = C.drop_all_null_cols(out)
    assert dead.columns == ["mixed"]  # pure-categorical column dropped


def test_coerce_parse_cases_match_pandas(spark):
    """pd.to_numeric(errors='coerce') parse matrix: scientific
    notation, padded whitespace, NaN/inf tokens, junk."""
    cases = ["1e5", " 3 ", "NaN", "inf", "-Infinity", "x", "1.5", None]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    out = C.inf_nan_to_null(C.coerce_numeric(df, ["s"]))
    got = [r["s"] for r in out.collect()]
    # to_numeric: 1e5->100000, ' 3 '->3, NaN->NaN, inf->inf (then the
    # C2 fold sends NaN/inf to null), 'x'->NaN->null
    assert sorted([g for g in got if g is not None]) == [1.5, 3.0, 100000.0]
    assert got.count(None) == 5


def test_inf_nan_to_null(spark):
    df = spark.createDataFrame(
        [(float("inf"),), (float("-inf"),), (float("nan"),), (1.0,)], "v double"
    )
    out = C.inf_nan_to_null(df)
    vals = [r["v"] for r in out.collect()]
    assert vals.count(None) == 3 and 1.0 in vals
    assert not any(v is not None and math.isnan(v) for v in vals)


def test_process_data_end_to_end(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    from data_integration_and_harmonization_spark.functions.indexing import with_global_index

    cust = with_global_index(cust, ["c_custkey"], index_col="idx")
    out = C.process_data(cust, order_col="idx")
    assert set(out.columns) == {"c_custkey", "c_nationkey", "c_acctbal", "idx"}
    assert out.count() == cust.count()
    # no nulls survive
    nn = out.select([F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in out.columns]).first()
    assert all(nn[c] == 0 for c in out.columns)


def test_coerce_timestamps_first_match_chain(spark):
    df = spark.createDataFrame(
        [
            (1, "1994-05-15 12:34:56"),  # full datetime format
            (2, "05/15/1994"),           # US date
            (3, "1994-05-15"),           # ISO date
            (4, "not-a-date"),           # garbage -> NULL
            (5, "1994-05-15 99:00:00"),  # invalid time; strict date-only
                                         # formats must not half-consume
            (6, None),
        ],
        "id long, ts_str string",
    )
    out = C.coerce_timestamps(df, ["ts_str"])
    got = {
        r["id"]: r["ts"]
        for r in out.select(
            "id", F.date_format("ts_str", "yyyy-MM-dd HH:mm:ss").alias("ts")
        ).collect()
    }
    assert got[1] == "1994-05-15 12:34:56"
    assert got[2] == "1994-05-15 00:00:00"
    assert got[3] == "1994-05-15 00:00:00"
    assert got[4] is None
    assert got[5] is None
    assert got[6] is None
    # non-target columns pass through untouched
    assert [f.name for f in out.schema.fields] == ["id", "ts_str"]


def test_coerce_numeric_locale_contract(spark):
    cases = [
        (1, "1,234.56", 1234.56),   # US grouping
        (2, "1.234,56", 1234.56),   # EU grouping (both seps, comma last)
        (3, "1234,56", 1234.56),    # comma-decimal (1-2 digits after)
        (4, "1,234", 1234.0),       # single comma + 3 digits -> grouping
        (5, "1,23", 1.23),          # single comma + 2 digits -> decimal
        (6, "1.234.567", 1234567.0),# >=2 dot groups -> EU grouping
        (7, "1.234", 1.234),        # single dot -> plain decimal
        (8, "1234.56", 1234.56),    # plain
        (9, "n/a", None),           # garbage -> NULL
        (10, "12,345,678.99", 12345678.99),
        (11, "-1.234,5", -1234.5),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s, _ in cases], "id long, v string"
    )
    got = {
        r["id"]: r["v"]
        for r in C.coerce_numeric_locale(df, ["v"]).collect()
    }
    for i, _, want in cases:
        if want is None:
            assert got[i] is None, i
        else:
            assert got[i] == pytest.approx(want), i
