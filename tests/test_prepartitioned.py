"""The pre_partitioned fast path: correct exactly when the documented
contract holds (explicit repartitionByRange + persist), and the
default path is used everywhere else."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators import clean as C


def _base(spark, n=500):
    df = spark.range(n).select(
        F.col("id").alias("pos"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id").cast("double") * 2).alias("v"),
    )
    return df


def test_pre_partitioned_matches_default_when_contract_holds(spark):
    df = _base(spark)
    expected = {
        r["pos"]: r["v"] for r in C.interpolate_linear(df, "pos", ["v"]).collect()
    }
    ranged = df.repartitionByRange(4, F.col("pos")).persist()
    ranged.count()  # materialize so re-execution is stable
    try:
        got = {
            r["pos"]: r["v"]
            for r in C.interpolate_linear(
                ranged, "pos", ["v"], pre_partitioned=True
            ).collect()
        }
        assert got == expected
    finally:
        ranged.unpersist()


def test_pre_partitioned_ffill_contract(spark):
    df = _base(spark)
    expected = {
        r["pos"]: r["v__ffill"] for r in C.interpolate_and_ffill(df, "pos", ["v"]).collect()
    }
    ranged = df.repartitionByRange(4, F.col("pos")).persist()
    ranged.count()
    try:
        got = {
            r["pos"]: r["v__ffill"]
            for r in C.interpolate_and_ffill(
                ranged, "pos", ["v"], pre_partitioned=True
            ).collect()
        }
        assert got == expected
    finally:
        ranged.unpersist()
