"""EDA aggregations (reference A1-A5, ref:122-150).

The reference ships raw columns to plotly per figure — O(C(n,2))
full-table passes. Here every "plot" is a small server-side aggregate
(the plot payload): binned counts for histograms/density grids,
quartile+fence stats for box plots, bounded key-ordered projections
for scatter/line. No collect in any transform; the stats row a
binning needs is a 1-row broadcast cross join, not a driver value.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators.clean import numeric_cols


def histogram(df: DataFrame, col: str, bins: int = 30) -> DataFrame:
    """A1 (ref:127): fixed-width binned counts — (bucket, n).

    Two-pass: one min/max agg (1 row, broadcast), one grouped count.
    The last bin is closed on the right (max lands in bucket bins-1).
    Empty buckets are omitted (both engines agree).
    """
    x = F.col(col).cast("double")
    stats = df.agg(F.min(x).alias("__mn"), F.max(x).alias("__mx"))
    j = df.where(x.isNotNull()).crossJoin(F.broadcast(stats))
    width = (F.col("__mx") - F.col("__mn")) / F.lit(float(bins))
    bucket = F.when(F.col("__mx") == F.col("__mn"), F.lit(0)).otherwise(
        F.least(F.floor((x - F.col("__mn")) / width), F.lit(bins - 1))
    )
    return (
        j.groupBy(bucket.cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def box_stats(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """A2 (ref:128): per column — quartiles, IQR fences, outlier count.

    One exact-quantile agg for ALL columns (1 row), broadcast back over
    the table, one conditional-count agg for all columns. Two passes
    total regardless of column count.

    Output: (col_name, q1, median, q3, lo_fence, hi_fence, n_outliers).
    """
    cols = list(cols if cols is not None else numeric_cols(df))
    qs = df.agg(
        *[
            F.percentile(F.col(c).cast("double"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias(f"__q_{c}")
            for c in cols
        ]
    )
    j = df.crossJoin(F.broadcast(qs))
    aggs = []
    for c in cols:
        q = F.col(f"__q_{c}")
        q1, q2, q3 = q[0], q[1], q[2]
        iqr = q3 - q1
        lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
        x = F.col(c).cast("double")
        aggs.append(
            F.struct(
                F.first(q1).alias("q1"),
                F.first(q2).alias("median"),
                F.first(q3).alias("q3"),
                F.first(lo).alias("lo_fence"),
                F.first(hi).alias("hi_fence"),
                F.count(F.when((x < lo) | (x > hi), 1)).alias("n_outliers"),
            ).alias(c)
        )
    row = j.agg(*aggs)
    return row.select(
        F.explode(
            F.array(*[F.struct(F.lit(c).alias("col_name"), F.col(c).alias("s")) for c in cols])
        ).alias("e")
    ).select(
        "e.col_name",
        "e.s.q1",
        "e.s.median",
        "e.s.q3",
        "e.s.lo_fence",
        "e.s.hi_fence",
        "e.s.n_outliers",
    )


def density2d(df: DataFrame, col_x: str, col_y: str, bins: int = 30) -> DataFrame:
    """A5 (ref:145-149): 2-D binned counts — (bx, by, n).

    The reference dropna's each column INDEPENDENTLY then zips by
    position (misaligned pairs); the engine normalizes to row-wise
    complete pairs, documented divergence (SURVEY §2.6).
    """
    x, y = F.col(col_x).cast("double"), F.col(col_y).cast("double")
    stats = df.agg(
        F.min(x).alias("__xmn"), F.max(x).alias("__xmx"),
        F.min(y).alias("__ymn"), F.max(y).alias("__ymx"),
    )
    j = df.where(x.isNotNull() & y.isNotNull()).crossJoin(F.broadcast(stats))
    wx = (F.col("__xmx") - F.col("__xmn")) / F.lit(float(bins))
    wy = (F.col("__ymx") - F.col("__ymn")) / F.lit(float(bins))
    bx = F.when(F.col("__xmx") == F.col("__xmn"), F.lit(0)).otherwise(
        F.least(F.floor((x - F.col("__xmn")) / wx), F.lit(bins - 1))
    )
    by = F.when(F.col("__ymx") == F.col("__ymn"), F.lit(0)).otherwise(
        F.least(F.floor((y - F.col("__ymn")) / wy), F.lit(bins - 1))
    )
    return (
        j.groupBy(bx.cast("long").alias("bx"), by.cast("long").alias("by"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def pair_projection(
    df: DataFrame, cols: Sequence[str], order_cols: Sequence[str], limit: int = 1000
) -> DataFrame:
    """A3/A4 (ref:135-144) payload: a bounded, deterministically-ordered
    projection of a column pair. At scale the cap keeps the plot
    payload constant-size; order by a unique key makes the sample
    reproducible."""
    return df.select(*order_cols, *cols).orderBy(*order_cols).limit(limit)


# ------------------------------------------------------- queries and oracles

def q_eda_binned(spark: SparkSession, sf: str) -> DataFrame:
    # A1 1-D histogram + A5 2-D density grid in one tagged entry
    # (same binned-count shape; frees a slot under the driver's
    # 50-query correctness cap)
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    h1 = histogram(li, "l_extendedprice", 30).select(
        F.lit("h1").alias("kind"),
        F.col("bucket").alias("bx"),
        F.lit(None).cast("long").alias("by"),
        "n",
    )
    h2 = density2d(li, "l_quantity", "l_discount", 30).select(
        F.lit("h2").alias("kind"), "bx", "by", "n"
    )
    return h1.unionByName(h2)


def q_eda_box_stats(spark: SparkSession, sf: str) -> DataFrame:
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    d = box_stats(li, ["l_quantity", "l_extendedprice", "l_discount"])
    return d.select(
        "col_name",
        *[F.round(c, 6).alias(c) for c in ["q1", "median", "q3", "lo_fence", "hi_fence"]],
        "n_outliers",
    )


def q_eda_pair_projection(spark: SparkSession, sf: str) -> DataFrame:
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return pair_projection(
        li, ["l_quantity", "l_extendedprice"], ["l_orderkey", "l_linenumber"], 1000
    )


EDA_BINNED_SQL = """
WITH s1 AS (SELECT min(l_extendedprice)::DOUBLE AS mn, max(l_extendedprice)::DOUBLE AS mx FROM lineitem),
h1 AS (
  SELECT 'h1' AS kind,
         (CASE WHEN mx = mn THEN 0
          ELSE LEAST(floor((l_extendedprice - mn) / ((mx - mn) / 30.0)), 29) END)::BIGINT AS bx,
         CAST(NULL AS BIGINT) AS by,
         count(*)::BIGINT AS n
  FROM lineitem CROSS JOIN s1
  WHERE l_extendedprice IS NOT NULL
  GROUP BY 1, 2, 3
),
s2 AS (
  SELECT min(l_quantity)::DOUBLE AS xmn, max(l_quantity)::DOUBLE AS xmx,
         min(l_discount)::DOUBLE AS ymn, max(l_discount)::DOUBLE AS ymx
  FROM lineitem),
h2 AS (
  SELECT 'h2' AS kind,
         (CASE WHEN xmx = xmn THEN 0 ELSE LEAST(floor((l_quantity - xmn) / ((xmx - xmn) / 30.0)), 29) END)::BIGINT AS bx,
         (CASE WHEN ymx = ymn THEN 0 ELSE LEAST(floor((l_discount - ymn) / ((ymx - ymn) / 30.0)), 29) END)::BIGINT AS by,
         count(*)::BIGINT AS n
  FROM lineitem CROSS JOIN s2
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT * FROM h1 UNION ALL SELECT * FROM h2
"""

EDA_BOX_STATS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
  round(any_value(q1), 6) AS q1, round(any_value(q2), 6) AS median, round(any_value(q3), 6) AS q3,
  round(any_value(q1 - 1.5 * (q3 - q1)), 6) AS lo_fence,
  round(any_value(q3 + 1.5 * (q3 - q1)), 6) AS hi_fence,
  count(CASE WHEN {c} < q1 - 1.5 * (q3 - q1) OR {c} > q3 + 1.5 * (q3 - q1) THEN 1 END)::BIGINT AS n_outliers
FROM lineitem CROSS JOIN (
  SELECT quantile_cont({c}::DOUBLE, 0.25) AS q1,
         quantile_cont({c}::DOUBLE, 0.5) AS q2,
         quantile_cont({c}::DOUBLE, 0.75) AS q3
  FROM lineitem) s"""
    for c in ["l_quantity", "l_extendedprice", "l_discount"]
)

EDA_PAIR_PROJECTION_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
ORDER BY l_orderkey, l_linenumber
LIMIT 1000
"""
