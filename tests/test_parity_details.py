"""Parity details: per-file error isolation, label inverse transform,
type-promotion matrix."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import types as T

from data_integration_and_harmonization_spark.operators import harmonize as H
from data_integration_and_harmonization_spark.sources import readers as R


def test_read_sources_skips_bad_files(spark, sf_dir):
    with tempfile.TemporaryDirectory() as d:
        bad = os.path.join(d, "bad.parquet")
        with open(bad, "w") as f:
            f.write("this is not parquet")
        dfs, errors = R.read_sources_with_errors(
            spark, [f"{sf_dir}/region.parquet", bad, f"{sf_dir}/nation.parquet"]
        )
        assert len(dfs) == 2  # good sources still loaded (ref:186-187)
        assert len(errors) == 1 and errors[0][0] == bad


def test_read_sources_strict_raises(spark, sf_dir):
    with pytest.raises(Exception):
        R.read_sources(spark, ["/nonexistent/x.parquet"])


@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("int", "bigint", T.LongType()),
        ("bigint", "double", T.DoubleType()),
        ("float", "int", T.DoubleType()),
        ("timestamp", "date", T.TimestampType()),
        ("string", "bigint", T.StringType()),
        ("boolean", "bigint", T.StringType()),  # pandas upcasts bool+int to object
        ("decimal(10,2)", "bigint", T.DoubleType()),
    ],
)
def test_type_promotion_matrix(spark, a, b, expected):
    def mk(t):
        if t == "date":
            return spark.range(1).selectExpr("DATE'2024-01-02' AS v")
        if t == "timestamp":
            return spark.range(1).selectExpr("TIMESTAMP'2024-01-02 03:04:05' AS v")
        if t == "boolean":
            return spark.range(1).selectExpr("id = 0 AS v")
        if t == "string":
            return spark.range(1).selectExpr("CAST(id AS STRING) AS v")
        return spark.range(1).selectExpr(f"CAST(id AS {t}) AS v")

    out = H.harmonize([mk(a), mk(b)])
    assert out.schema["v"].dataType == expected
    assert out.count() == 2
