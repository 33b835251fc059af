"""SQL front door.

Catalyst produces the same plan for SQL text and DataFrame calls; the
engine registers the harmonized tables as temp views so users can mix
both freely. One Q3-shaped query is pinned against the oracle to show
the SQL surface end-to-end (parser -> Catalyst -> same physical plan
family as the DataFrame queries: broadcast dim join + partial aggs +
top-k sort).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from data_integration_and_harmonization_spark.sources.readers import TPCH_TABLES


def register_tables(
    spark: SparkSession, sf_dir: str, tables: Sequence[str] = TPCH_TABLES
) -> None:
    """Expose the parquet tables as temp views for spark.sql()."""
    for t in tables:
        if t == "events":
            from data_integration_and_harmonization_spark.operators.events import load_events

            load_events(spark, sf_dir).createOrReplaceTempView(t)
        else:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


# One ANSI text, two engines: this statement runs VERBATIM on Spark
# (the engine under test) and DuckDB (the oracle) — the strongest
# form of the SQL-surface claim. Four classic decorrelation shapes:
#
# - q3:  join + agg + top-k (the original shipping-priority query),
# - q17: correlated SCALAR subquery in a predicate (per-part average
#        quantity threshold) — Catalyst rewrites it into an aggregate
#        + join (RewriteCorrelatedScalarSubquery); the brand filter
#        pushes into the part scan and the rewritten join keys on
#        p_partkey, so the expensive side aggregates once per part,
#        not once per row,
# - q4:  correlated EXISTS (late-shipped orders) — becomes a
#        LEFT SEMI join on l_orderkey (RewritePredicateSubquery),
# - q22: uncorrelated scalar subquery + correlated NOT EXISTS
#        (high-balance customers who never placed an urgent order) —
#        NOT EXISTS becomes a LEFT ANTI join, the scalar average a
#        broadcast 1-row cross.
#
# Money sums go through DECIMAL(18,2): double summation order varies
# with partitioning and a ~1e8 total's double error exceeds the 1e-6
# round-compare grain at sf0.1 (the r3 lesson) — decimal aggregation
# is exact and order-free on both engines.
CORRELATED_SQL = """
WITH q3 AS (
  SELECT l_orderkey AS k,
         round(sum(l_extendedprice * (1 - l_discount)), 6) AS val,
         CAST(CAST(o_orderdate AS DATE) AS STRING) AS tag
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1997-03-15'
    AND l_shipdate > TIMESTAMP '1997-03-15'
  GROUP BY l_orderkey, o_orderdate
  ORDER BY val DESC, l_orderkey
  LIMIT 10
)
SELECT 'q3' AS kind, k, CAST(NULL AS BIGINT) AS n, val, tag FROM q3
UNION ALL
SELECT 'q17' AS kind, CAST(NULL AS BIGINT) AS k, CAST(NULL AS BIGINT) AS n,
       (SELECT round(CAST(sum(CAST(li.l_extendedprice AS DECIMAL(18,2)))
                     AS DOUBLE) / 7.0, 6)
        FROM lineitem li
        JOIN part pa ON pa.p_partkey = li.l_partkey
        WHERE pa.p_brand = 'Brand#4'
          AND li.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                               FROM lineitem l2
                               WHERE l2.l_partkey = pa.p_partkey)) AS val,
       'Brand#4' AS tag
UNION ALL
SELECT 'q4' AS kind, CAST(NULL AS BIGINT) AS k, cnt AS n,
       CAST(NULL AS DOUBLE) AS val, o_orderpriority AS tag
FROM (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
  FROM orders o
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1996-07-01'
    AND EXISTS (SELECT 1 FROM lineitem li
                WHERE li.l_orderkey = o.o_orderkey
                  AND li.l_shipdate > o.o_orderdate + INTERVAL '60' DAY)
  GROUP BY o_orderpriority
) late
UNION ALL
SELECT 'q22' AS kind, CAST(c_nationkey AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS val,
       CAST(NULL AS STRING) AS tag
FROM customer cu
WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                          / count(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders oo
                  WHERE oo.o_custkey = cu.c_custkey
                    AND oo.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


def correlated_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 + the correlated-subquery family (Q17/Q4/Q22 shapes) in one
    tagged result, parsed and decorrelated by Catalyst from the same
    text the oracle executes."""
    register_tables(spark, sf_dir, ["customer", "orders", "lineitem", "part"])
    return spark.sql(CORRELATED_SQL)
