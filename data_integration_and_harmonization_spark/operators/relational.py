"""Relational surface the engine exposes beyond the reference.

The reference has NO joins, groupBy, sorts, or top-k anywhere
(SURVEY §2.8) — its only multi-table op is union. A harmonization
engine at 100 TB lives on key-based integration, so the engine
exposes Spark's native relational surface and these queries pin its
semantics against the oracle:

- pricing summary: classic wide agg with map-side partial aggregation
- revenue by nation: a 3-way join where the two small dims (nation,
  customer at dim-scale) broadcast — no shuffle of the fact table
  beyond the agg
- top-k per group: ranking window after a join

All plain DataFrame code — Catalyst picks broadcast-hash joins for
the dims (verified via explain) and AQE handles skew at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.functions.concurrency import overlap


def money(col: str, scale: int = 2) -> "F.Column":
    """Exact fixed-point view of a money-valued double column.

    The test data stores prices/discounts as doubles carrying exactly
    2 decimal digits. Summing them AS doubles is partition-order
    dependent: at sf0.1 a 5e9-magnitude sum over 600k rows already
    drifts past the 6-decimal rounding used for oracle parity (caught
    by verify at sf0.1 — sf0.01 was too small to expose it). Casting
    to DECIMAL first makes every sum exact and identical in any
    engine, at any parallelism, at any scale — the decimal partial
    aggregates are also what a 100 TB run needs for reproducible
    revenue numbers."""
    return F.col(col).cast(f"decimal(18,{scale})")


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped whole-table grouped agg. Money sums are exact
    decimal aggregates (see :func:`money`); averages of small-magnitude
    values stay double (drift ~1e-10 is far inside the 6-decimal
    round)."""
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum(money("l_extendedprice")).cast("double"), 6).alias("sum_base_price"),
            F.round(
                F.sum(money("l_extendedprice") * (1 - money("l_discount"))).cast("double"), 6
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def revenue_by_nation(customer: DataFrame, orders: DataFrame, nation: DataFrame) -> DataFrame:
    """Revenue per (nation, mktsegment): fact joins two broadcast dims."""
    return (
        orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.round(F.sum(money("o_totalprice")).cast("double"), 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def top_orders_per_segment(customer: DataFrame, orders: DataFrame, k: int = 3) -> DataFrame:
    """Top-k orders by totalprice per market segment — ranking window
    partitioned by segment (parallel across segments). Ties broken by
    orderkey for determinism."""
    j = orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("c_mktsegment", "rk", "o_orderkey", F.round("o_totalprice", 6).alias("o_totalprice"))
    )


def rollup_summary(lineitem: DataFrame) -> DataFrame:
    """Hierarchical subtotals: (flag, status) -> (flag) -> grand total.
    One shuffle; Spark expands grouping sets map-side."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 6).alias("sum_qty"))
    )


def cube_summary(lineitem: DataFrame) -> DataFrame:
    """All 2^d grouping sets over (flag, status)."""
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 6).alias("sum_qty"))
    )


def copurchase_pairs(lineitem: DataFrame, min_support: int = 3) -> DataFrame:
    """Frequent co-occurring item pairs with lift — market-basket
    analysis over (order, part) baskets (engine extension; the
    reference has no association mining).

    Apriori-pruned: items below ``min_support`` are dropped BEFORE the
    pair join (any pair at support s needs both items at >= s, so the
    prune is lossless) — at scale this is what keeps the quadratic
    per-basket pair expansion bounded to the frequent-item subset.
    Remaining cost is quadratic in basket size (TPC-H baskets are
    <= 7 lines; a production recipe caps or samples oversized baskets
    first). Plan: distinct baskets (one shuffle), item counts +
    lossless prune, orderkey-keyed self-join with ``p1 < p2``, pair
    count with HAVING, two partkey-keyed joins for the item counts and
    a broadcast 1-row basket total for lift.

    Output: (p1, p2, support, lift); lift > 1 means the pair co-occurs
    more often than independence predicts.
    """
    baskets = lineitem.select("l_orderkey", "l_partkey").distinct()
    item_n = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_item")
    )
    keep = item_n.where(F.col("n_item") >= min_support)
    pruned = baskets.join(keep.select("l_partkey"), "l_partkey")
    a = pruned.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("p1")
    )
    b = pruned.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    total = baskets.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_baskets")
    )
    i1 = item_n.select(F.col("l_partkey").alias("__pk1"), F.col("n_item").alias("n1"))
    i2 = item_n.select(F.col("l_partkey").alias("__pk2"), F.col("n_item").alias("n2"))
    return (
        pairs.join(i1, F.col("p1") == F.col("__pk1"))
        .join(i2, F.col("p2") == F.col("__pk2"))
        .crossJoin(F.broadcast(total))
        .select(
            "p1",
            "p2",
            "support",
            F.round(
                F.col("support").cast("double")
                * F.col("n_baskets")
                / (F.col("n1") * F.col("n2")),
                6,
            ).alias("lift"),
        )
    )


def pivot_status(lineitem: DataFrame) -> DataFrame:
    """Pivot linestatus into columns (explicit value list => no extra
    distinct-discovery job, required at scale)."""
    return (
        lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 6))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide-to-long unpivot (pandas ``melt``) via Spark's native
    :meth:`DataFrame.unpivot` — an Expand node: each input row fans out
    to ``len(value_cols)`` output rows JVM-side inside whole-stage
    codegen, no shuffle, no UDF, so the op is a narrow map however wide
    the input. Null measure values are RETAINED (pandas-melt
    semantics, unlike SQL ``UNPIVOT``'s default null-drop), which makes
    ``melt(pivot(x))`` lossless — the property the ``rel_pivot``
    roundtrip leg asserts."""
    return df.unpivot(list(id_cols), list(value_cols), var_name, value_name)


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-semi join: EXISTS without materializing the right side."""
    return customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-anti join: NOT EXISTS."""
    return customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    keys: list[str],
    right_cols: list[str],
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same key group. Spark has no
    native ASOF — composed as union + per-key ordered window
    (``last(..., ignorenulls)``), the standard distributed pattern:
    parallel across keys, one shuffle on (key), no range cross join.
    """
    lt = left.withColumn("__t", F.col(left_ts).cast("timestamp")).withColumn(
        "__is_left", F.lit(1)
    )
    rt = right.withColumn("__t", F.col(right_ts).cast("timestamp")).withColumn(
        "__is_left", F.lit(0)
    )
    all_cols = set(lt.columns) | set(rt.columns)
    lt = lt.select(
        *[
            (F.col(c) if c in lt.columns else F.lit(None)).alias(c)
            for c in all_cols
        ]
    )
    rt = rt.select(
        *[
            (F.col(c) if c in rt.columns else F.lit(None)).alias(c)
            for c in all_cols
        ]
    )
    u = lt.unionByName(rt)
    # right rows sort before left rows at the same timestamp => a right
    # row AT the left timestamp matches (ASOF <= semantics)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t"), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for rc in right_cols:
        matched = F.last(
            F.when(F.col("__is_left") == 0, F.col(rc)), ignorenulls=True
        ).over(w)
        u = u.withColumn(f"asof_{rc}", matched)
    return u.where(F.col("__is_left") == 1).drop("__t", "__is_left", *right_cols)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bucket: str = "hour",
    how: str = "inner",
) -> DataFrame:
    """Range (interval-containment) join WITHOUT an equi key:
    match every point to every interval with start <= point < end.

    Naive Spark planning for a pure inequality join is a broadcast
    nested loop — O(points x intervals). The scalable shape used here
    buckets time: each interval explodes to the buckets it covers, the
    join becomes an equi-join on bucket, and a residual filter applies
    the exact containment. Cost is O(points + intervals x span/bucket)
    plus one hash join — the standard time-bucketized range join.
    ``bucket`` is a date_trunc unit ('hour', 'day', ...); pick it near
    the typical interval length so the explode factor stays small.

    ``how`` ∈ {'inner', 'left'}: the containment predicate is part of
    the JOIN CONDITION (not a post-join filter), so a left join keeps
    points matching no interval with null-extended interval columns.
    Right/full are rejected — the interval side is exploded per
    bucket, so "unmatched interval" rows would duplicate once per
    covered bucket, which is not a meaningful outer-join result.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"range_join supports how='inner'|'left', got {how!r} "
            "(outer-on-the-exploded-side would emit one unmatched row "
            "per covered bucket)"
        )
    dur = F.expr(f"INTERVAL 1 {bucket}")
    p = points.withColumn("__b", F.date_trunc(bucket, F.col(point_ts)))
    # buckets covered by [start, end): sequence of truncated units
    iv = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.date_trunc(bucket, F.col(start_ts)),
                F.date_trunc(bucket, F.col(end_ts)),
                dur,
            )
        ),
    )
    cond = (
        (p["__b"] == iv["__b"])
        & (p[point_ts] >= iv[start_ts])
        & (p[point_ts] < iv[end_ts])
    )
    j = p.join(iv, cond, how)
    return j.select(
        *[p[c] for c in points.columns], *[iv[c] for c in intervals.columns]
    )


def nations_with_both(customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """INTERSECT: nation keys present on both sides (distinct set op)."""
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


def nations_customers_only(customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """EXCEPT (set semantics — ``subtract``; ``exceptAll`` is the
    multiset variant): nation keys with customers but no suppliers."""
    return customer.select(F.col("c_nationkey").alias("nationkey")).subtract(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


def orders_by_quarter(orders: DataFrame) -> DataFrame:
    """Date-function surface (the reference never touches its
    timestamp-capable columns, SURVEY §2.8): truncation, extraction,
    arithmetic — all JVM scalar functions inside codegen."""
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(money("o_totalprice")).cast("double"), 6).alias("revenue"),
            F.min(F.to_date("o_orderdate")).alias("first_day"),
        )
    )


def running_revenue(orders: DataFrame) -> DataFrame:
    """Analytic window frame: per-customer cumulative revenue in order
    date order — partitioned by customer, parallel across customers."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lagw = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 6).alias("cum_revenue"),
        F.round(F.lag("o_totalprice", 1).over(lagw), 6).alias("prev_price"),
    )


def scd2_build(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    tracked: list[str],
    old_as_of: str,
    new_as_of: str,
) -> DataFrame:
    """Slowly-changing-dimension type 2 history build from two
    dimension snapshots — the warehouse-maintenance primitive behind
    "what did this customer's segment look like when that order
    shipped": every key becomes one or two effective-dated rows.

      - unchanged key  -> one open row   [old_as_of, NULL), current
      - changed key    -> closed old row [old_as_of, new_as_of) +
                          open new row   [new_as_of, NULL), current
      - deleted key    -> closed old row [old_as_of, new_as_of)
      - added key      -> open new row   [new_as_of, NULL), current

    Change detection compares an md5 over the ``tracked`` columns with
    a unit-separator join and a null sentinel (NULL and '' hash apart).

    Scale shape: each side projects to (key, tracked..., 16-byte
    hash) — one full-outer equi-join on the key (co-located if both
    snapshots share key bucketing, else one shuffle per side), then the
    one-or-two output rows materialize via an inline array -> filter ->
    explode, so the join executes ONCE (a union of per-case selects
    would re-plan it per branch). No window, nothing driver-side,
    output is at most 2x the churned keys plus 1x the stable ones.
    """
    sep, nul = "\x1f", "\x00"
    h = F.md5(
        F.concat_ws(
            sep, *[F.coalesce(F.col(c).cast("string"), F.lit(nul)) for c in tracked]
        )
    )
    o = old.select(
        F.col(key_col).alias("key"),
        F.struct(*[F.col(c) for c in tracked]).alias("__o_attrs"),
        h.alias("__oh"),
    )
    n = new.select(
        F.col(key_col).alias("key"),
        F.struct(*[F.col(c) for c in tracked]).alias("__n_attrs"),
        h.alias("__nh"),
    )
    j = o.join(n, "key", "full_outer")
    in_old, in_new = F.col("__oh").isNotNull(), F.col("__nh").isNotNull()
    changed = in_old & in_new & (F.col("__oh") != F.col("__nh"))
    from_old, from_new = F.lit(old_as_of).cast("date"), F.lit(new_as_of).cast("date")
    nodate = F.lit(None).cast("date")
    row = lambda attrs, vf, vt, cur: F.struct(  # noqa: E731
        F.col(attrs).alias("attrs"),
        vf.alias("valid_from"),
        vt.alias("valid_to"),
        F.lit(cur).alias("is_current"),
    )
    versions = F.array(
        # closed old version: key churned (changed or deleted)
        F.when(
            in_old & (changed | ~in_new), row("__o_attrs", from_old, from_new, False)
        ),
        # open current version: since old_as_of if stable, new_as_of if
        # the key was added or its tracked attributes changed
        F.when(in_old & in_new & ~changed, row("__o_attrs", from_old, nodate, True)),
        F.when(
            in_new & (changed | ~in_old), row("__n_attrs", from_new, nodate, True)
        ),
    )
    ex = j.select("key", F.explode(F.filter(versions, lambda v: v.isNotNull())).alias("v"))
    return ex.select(
        "key",
        *[F.col(f"v.attrs.{c}").alias(c) for c in tracked],
        F.col("v.valid_from").alias("valid_from"),
        F.col("v.valid_to").alias("valid_to"),
        F.col("v.is_current").alias("is_current"),
    )


# ------------------------------------------------------- queries and oracles

def q_rel_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    return pricing_summary(spark.read.parquet(f"{sf}/lineitem.parquet"))


def q_rel_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Broadcast-dim revenue rollup plus the skew-mitigation leg:

    - base rows: :func:`revenue_by_nation` (n_name, c_mktsegment,
      revenue, n_orders), oracle-replayed by the plain SQL join.
    - '__skew' rows: a synthesized hot key over orders (key 0
      carries ~3/4 of the fact side, the rest spread over the 25
      nation keys) joined to the nation dim through
      :func:`~..functions.skew.salted_join` — the hot key fans out
      over 8 salt sub-keys (small side exploded x8, big side
      salt-hashed; `shuffle_hash` hint keeps it a real shuffle
      join so the fan-out is in the plan, not broadcast away).
      Values are oracle-replayed by the same CASE-keyed SQL join:
      a hash match proves salting changed the schedule, not the
      answer.
    - '__salted_agree' row: full-outer comparison of the salted
      vs unsalted aggregates — n_orders carries the compared
      group count (SQL-derivable), revenue=1.0 iff every group
      agrees exactly (decimal money sums, so no float drift).
    """
    from data_integration_and_harmonization_spark.functions.skew import (
        salted_join,
    )

    cust = spark.read.parquet(f"{sf}/customer.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    base = revenue_by_nation(cust, orders, nation)

    hot = orders.withColumn(
        "hk",
        F.when(F.col("o_orderkey") % 4 != 0, F.lit(0).cast("long")).otherwise(
            F.pmod(F.col("o_custkey"), F.lit(25)).cast("long")
        ),
    )
    dim = nation.select(
        F.col("n_nationkey").cast("long").alias("hk"), "n_name"
    )

    def rollup(joined):
        return joined.groupBy("n_name").agg(
            F.round(F.sum(money("o_totalprice")).cast("double"), 6).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )

    salted = rollup(
        salted_join(hot, dim.hint("shuffle_hash"), ["hk"], salt=8)
    )
    unsalted = rollup(hot.join(F.broadcast(dim), "hk"))
    skew_rows = salted.select(
        "n_name",
        F.lit("__skew").alias("c_mktsegment"),
        "revenue",
        "n_orders",
    )
    j = salted.select(
        "n_name",
        F.col("revenue").alias("s_rev"),
        F.col("n_orders").alias("s_n"),
    ).join(
        unsalted.select(
            "n_name",
            F.col("revenue").alias("b_rev"),
            F.col("n_orders").alias("b_n"),
        ),
        "n_name",
        "full_outer",
    )
    agree = F.col("s_rev").eqNullSafe(F.col("b_rev")) & F.col("s_n").eqNullSafe(
        F.col("b_n")
    )
    agree_row = j.agg(
        F.lit("__salted_agree").alias("n_name"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.when(F.min(agree), F.lit(1.0)).otherwise(F.lit(0.0)).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # '__hot_*' / '__skew_summary' rows: the hot-key diagnostic
    # report over the same synthesized key — the measurement that
    # JUSTIFIES the salted leg (key 0 carries ~3/4 of rows; the
    # summary's revenue column is the skew factor max/mean).
    from data_integration_and_harmonization_spark.functions.skew import (
        key_skew_report,
    )

    rep = key_skew_report(hot.select("hk"), ["hk"], top_n=5)
    hot_rows = rep.select(
        F.concat(F.lit("__hot_"), F.col("key")).alias("n_name"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.col("share").alias("revenue"),
        F.col("n_rows").alias("n_orders"),
    )
    summary_row = rep.agg(
        F.lit("__skew_summary").alias("n_name"),
        F.max("n_groups").cast("string").alias("c_mktsegment"),
        F.max("x_mean").alias("revenue"),
        F.max("n_rows").alias("n_orders"),
    )
    return (
        base.unionByName(skew_rows)
        .unionByName(agree_row)
        .unionByName(hot_rows)
        .unionByName(summary_row)
    )


def q_rel_topk_per_segment(spark: SparkSession, sf: str) -> DataFrame:
    return top_orders_per_segment(
        spark.read.parquet(f"{sf}/customer.parquet"),
        spark.read.parquet(f"{sf}/orders.parquet"),
        3,
    )


def q_rel_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    # rollup + cube in one tagged result (merged from r1's
    # rel_rollup / rel_cube — correctness-runner query cap)
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    r = rollup_summary(li).select(
        F.lit("rollup").alias("gset"), "l_returnflag", "l_linestatus", "n", "sum_qty"
    )
    c = cube_summary(li).select(
        F.lit("cube").alias("gset"), "l_returnflag", "l_linestatus", "n", "sum_qty"
    )
    # r8 'copairs' leg: apriori-pruned frequent part pairs with
    # lift, mapped into the tagged grouping-set schema
    cp = copurchase_pairs(li).select(
        F.lit("copairs").alias("gset"),
        F.col("p1").cast("string").alias("l_returnflag"),
        F.col("p2").cast("string").alias("l_linestatus"),
        F.col("support").alias("n"),
        F.col("lift").alias("sum_qty"),
    )
    return r.unionByName(c).unionByName(cp)


def q_rel_pivot(spark: SparkSession, sf: str) -> DataFrame:
    # pivot + melt roundtrip: the wide pivot is melted back to long
    # with the native unpivot and compared (null-safe) against the
    # direct long-form aggregate; `melt_ok` certifies the roundtrip
    # is lossless per flag. Quantities are integral-valued, so the
    # two differently-ordered double sums are bit-exact.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    wide = pivot_status(li)
    long = melt(wide, ["l_returnflag"], ["qty_open", "qty_filled"], "status", "qty")
    direct = li.groupBy(
        "l_returnflag",
        F.when(F.col("l_linestatus") == "O", F.lit("qty_open"))
        .otherwise(F.lit("qty_filled"))
        .alias("status"),
    ).agg(F.round(F.sum("l_quantity"), 6).alias("qty_d"))
    agree = (
        long.join(direct, ["l_returnflag", "status"], "full_outer")
        .groupBy("l_returnflag")
        .agg(F.min(F.col("qty").eqNullSafe(F.col("qty_d"))).alias("melt_ok"))
    )
    return wide.join(agree, "l_returnflag")


def q_rel_semi_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    # the set-membership family in one tagged result: left-semi +
    # left-anti joins plus INTERSECT/EXCEPT legs (the former
    # rel_set_ops query, folded in r5 to free a registry slot —
    # all four are row-membership predicates). The anti side runs
    # against orders from 1998 onward so it is non-empty (every
    # customer in the test data has SOME order). Set-op rows map
    # key=nationkey, segment=null.
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    supp = spark.read.parquet(f"{sf}/supplier.parquet")
    recent = orders.where(F.col("o_orderdate") >= F.lit("1998-01-01"))
    s = customers_with_orders(cust, orders).select(
        F.lit("semi").alias("join_kind"),
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
    )
    a = customers_without_orders(cust, recent).select(
        F.lit("anti").alias("join_kind"),
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
    )
    i = nations_with_both(cust, supp).select(
        F.lit("intersect").alias("join_kind"),
        F.col("nationkey").alias("key"),
        F.lit(None).cast("string").alias("segment"),
    )
    e = nations_customers_only(
        cust.where(F.col("c_acctbal") > 9000),
        supp.where(F.col("s_acctbal") > 5000),
    ).select(
        F.lit("except").alias("join_kind"),
        F.col("nationkey").alias("key"),
        F.lit(None).cast("string").alias("segment"),
    )
    # r8 'scd2_*' legs: SCD2 history build between two
    # deterministic customer-dimension snapshots — old drops
    # c_custkey % 10 == 0 (those classify 'added'), new drops
    # % 13 == 0 ('deleted') and rewrites c_mktsegment of % 7 == 0
    # survivors ('changed'). The two as-of dates are constants, so
    # each history row is fully described by (which validity case,
    # key, tracked attr): scd2_closed = closed old version,
    # scd2_cur_old = open row valid since the OLD as-of (stable
    # key), scd2_cur_new = open row valid since the NEW as-of
    # (added or changed key). The oracle replays the same
    # snapshots and the same full-outer compare in SQL.
    v_old = cust.where(F.col("c_custkey") % 10 != 0)
    v_new = cust.where(F.col("c_custkey") % 13 != 0).withColumn(
        "c_mktsegment",
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.col("c_mktsegment"), F.lit("*")),
        ).otherwise(F.col("c_mktsegment")),
    )
    hist = scd2_build(
        v_old, v_new, "c_custkey", ["c_mktsegment"], "2024-01-01", "2024-06-01"
    )
    scd = hist.select(
        F.concat(
            F.lit("scd2_"),
            F.when(~F.col("is_current"), F.lit("closed"))
            .when(
                F.col("valid_from") == F.lit("2024-01-01").cast("date"),
                F.lit("cur_old"),
            )
            .otherwise(F.lit("cur_new")),
        ).alias("join_kind"),
        F.col("key"),
        F.col("c_mktsegment").alias("segment"),
    )
    return s.unionByName(a).unionByName(i).unionByName(e).unionByName(scd)


def q_rel_distinct_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Exact distinct counts per group, plus a `sketch_ok` column
    pinning the SKETCH family — the one-pass profiling path at
    100 TB, where exact distincts/medians need a full expand +
    shuffle per column: per group, HyperLogLog++
    (approx_count_distinct, 5% default rsd) must land within 10%
    of the in-query exact count, and the KLL approximate median
    (percentile_approx) must land between the exact 45th and 55th
    percentiles. Sketch OUTPUTS are approximate so they can't be
    hash-matched; the error-envelope verdicts can (oracle emits
    the exact counts and the constant 1.0).

    `hh_ok` adds the third sketch family — HEAVY HITTERS:
    ``df.stat.freqItems`` (the Karp-Papadimitriou-Shenker one-pass
    counter merge) at support 0.1 must return a SUPERSET of the
    return flags whose exact frequency exceeds 10% — the guarantee
    the algorithm makes (false positives allowed, false negatives
    never), checked against an in-query exact frequency count.
    freqItems is a global sketch, so the verdict is one value
    broadcast onto every group row. Both collects are bounded by
    the flag cardinality (3), never by corpus size.

    `cms_ok` / `bloom_ok` (r8) complete the one-pass sketch
    toolbox. COUNT-MIN (``df.stat.countMinSketch``, eps=0.01,
    conf=0.95): per flag, the estimate must be >= the exact count
    (CM only over-counts) and <= exact + eps * N — the
    (eps, delta) guarantee, checked for all 3 flags. BLOOM
    (``df.stat.bloomFilter`` over l_orderkey, 1% fpp): every
    orderkey actually present in a bounded 64-key probe must hit
    (NO false negatives, the structural guarantee), and at most
    20% of 64 known-absent keys may hit (fpp=0.01 leaves huge
    slack). Both sketches are merged tree-wise executor-side and
    only the fixed-size summary reaches the driver — the property
    that makes them the 100-TB profiling path."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")

    # r13 optimization (guide §2.6): the five sketch-build probes
    # (exact flag counts + count-min, freqItems, the 64-key
    # sample, max/distinct keys + bloom) were five back-to-back
    # driver actions; the four independent chains now run on
    # concurrent driver threads. Verdict arithmetic (and values)
    # unchanged.
    def _cms_chain():
        hot_rows = (
            li.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        total = sum(r["n"] for r in hot_rows)
        # count-min: (eps, conf) guarantee per flag against the
        # exact counts already collected for the heavy-hitter
        # verdict. Spark 4 dropped the PYTHON stat wrappers for
        # these two sketches; the JVM DataFrameStatFunctions build
        # (executor-side tree-merged, fixed-size summary to the
        # driver) is intact, so we call it through the bridge.
        cms = li._jdf.stat().countMinSketch("l_returnflag", 0.01, 0.95, 42)
        cms_ok = 1.0
        for r in hot_rows:
            est = cms.estimateCount(r["l_returnflag"])
            if not (r["n"] <= est <= r["n"] + 0.01 * total):
                cms_ok = 0.0
        return hot_rows, total, cms_ok

    def _bloom_chain():
        # bloom over orderkeys: probe 64 present keys (must ALL
        # hit — no false negatives) and 64 absent ones (max key +
        # 1..64; fpp=0.01 makes even 12/64 false hits
        # astronomically unlikely)
        present = [
            r["l_orderkey"]
            for r in li.select("l_orderkey").distinct().limit(64).collect()
        ]
        mk = li.agg(
            F.max("l_orderkey").alias("mx"),
            F.countDistinct("l_orderkey").alias("nk"),
        ).first()
        max_key, n_keys = mk["mx"], mk["nk"]
        bloom = li._jdf.stat().bloomFilter("l_orderkey", n_keys, 0.01)
        absent_hits = sum(
            1
            for k in range(max_key + 1, max_key + 65)
            if bloom.mightContain(k)
        )
        return (
            1.0
            if all(bloom.mightContain(k) for k in present)
            and absent_hits <= 12
            else 0.0
        )

    (hot_rows, total, cms_ok), approx_hot, bloom_ok = overlap(
        _cms_chain,
        lambda: set(li.stat.freqItems(["l_returnflag"], support=0.1).collect()[0][0]),
        _bloom_chain,
    )
    exact_hot = {r["l_returnflag"] for r in hot_rows if r["n"] > 0.1 * total}
    hh_ok = 1.0 if exact_hot <= approx_hot else 0.0
    g = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.approx_count_distinct("l_orderkey").alias("hll"),
        F.countDistinct("l_orderkey").alias("exact_o"),
        F.percentile_approx("l_extendedprice", 0.5).alias("amed"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("p45"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("p55"),
    )
    ok = (
        (F.abs(F.col("hll") - F.col("exact_o")) <= 0.1 * F.col("exact_o"))
        & (F.col("amed") >= F.col("p45"))
        & (F.col("amed") <= F.col("p55"))
    )
    return g.select(
        "l_returnflag",
        "n_parts",
        "n_supps",
        F.when(ok, F.lit(1.0)).otherwise(F.lit(0.0)).alias("sketch_ok"),
        F.lit(hh_ok).alias("hh_ok"),
        F.lit(cms_ok).alias("cms_ok"),
        F.lit(bloom_ok).alias("bloom_ok"),
    )


def q_rel_range_join(spark: SparkSession, sf: str) -> DataFrame:
    from data_integration_and_harmonization_spark.operators.events import load_events

    ev = load_events(spark, sf)
    # intervals: for each hour containing an error event, the
    # window [hour, hour+1h); points: all events. Pure containment
    # join, no equi key.
    intervals = (
        ev.where(F.col("event_type") == "error")
        .select(F.date_trunc("hour", "ts").alias("w_start"))
        .distinct()
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 1 hour"))
    )
    points = ev.select("event_id", "ts")
    j = range_join(points, intervals, "ts", "w_start", "w_end", bucket="hour")
    return j.groupBy("w_start").agg(F.count(F.lit(1)).alias("n_events_in_window"))


def q_rel_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    from data_integration_and_harmonization_spark.operators.events import load_events

    events = load_events(spark, sf).select("event_id", "user_id", "ts")
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    out = asof_join(
        events, orders, "ts", "o_orderdate", ["user_id"], ["o_orderdate"]
    )
    return out.select("event_id", "user_id", F.col("asof_o_orderdate"))


def q_rel_date_breakdown(spark: SparkSession, sf: str) -> DataFrame:
    return orders_by_quarter(spark.read.parquet(f"{sf}/orders.parquet"))


def q_rel_running_window(spark: SparkSession, sf: str) -> DataFrame:
    return running_revenue(spark.read.parquet(f"{sf}/orders.parquet"))


REL_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 6) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_base_price,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS sum_disc_price,
  round(avg(l_quantity), 6) AS avg_qty,
  round(avg(l_discount), 6) AS avg_disc,
  count(*)::BIGINT AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""

REL_REVENUE_BY_NATION_SQL = """
WITH skew AS (
  -- the synthesized-hot-key join the engine runs SALTED: key 0 holds
  -- ~3/4 of orders; a value match proves the salt preserved the join
  SELECT n_name,
    round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS revenue,
    count(*)::BIGINT AS n_orders
  FROM orders
  JOIN nation
    ON (CASE WHEN o_orderkey % 4 <> 0 THEN 0 ELSE o_custkey % 25 END) = n_nationkey
  GROUP BY n_name
)
SELECT n_name, c_mktsegment,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS revenue,
  count(*)::BIGINT AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, c_mktsegment
UNION ALL
SELECT n_name, '__skew' AS c_mktsegment, revenue, n_orders FROM skew
UNION ALL
-- salted vs unsalted agreement: deterministic decimal sums, so every
-- group agrees and the count is the skew join's group count
SELECT '__salted_agree', CAST(NULL AS VARCHAR), 1.0,
       (SELECT count(*) FROM skew)::BIGINT
UNION ALL
-- hot-key diagnostic report over the same synthesized key: top-5
-- heaviest keys (share of rows) + the skew-factor summary row.
-- Tie-break on the STRINGIFIED key to match the engine's report.
SELECT * FROM (
  WITH counts AS (
    SELECT (CASE WHEN o_orderkey % 4 <> 0 THEN 0 ELSE o_custkey % 25 END) AS hk,
           count(*)::BIGINT AS n_rows
    FROM orders GROUP BY 1
  ), tot AS (
    SELECT sum(n_rows)::DOUBLE AS n_total, count(*)::BIGINT AS n_groups,
           avg(n_rows) AS avg_rows, max(n_rows)::BIGINT AS max_rows
    FROM counts
  ), top AS (
    SELECT hk, n_rows FROM counts
    ORDER BY n_rows DESC, CAST(hk AS VARCHAR) LIMIT 5
  )
  SELECT '__hot_' || CAST(hk AS VARCHAR) AS n_name,
         CAST(NULL AS VARCHAR) AS c_mktsegment,
         round(n_rows / n_total, 6) AS revenue, n_rows AS n_orders
  FROM top CROSS JOIN tot
  UNION ALL
  SELECT '__skew_summary', CAST(n_groups AS VARCHAR),
         round(max_rows / avg_rows, 6), max_rows
  FROM tot
)
"""

REL_TOPK_PER_SEGMENT_SQL = """
SELECT c_mktsegment, rk::INTEGER AS rk, o_orderkey, round(o_totalprice, 6) AS o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
)
WHERE rk <= 3
"""

REL_GROUPING_SETS_SQL = """
SELECT 'rollup' AS gset, l_returnflag, l_linestatus, count(*)::BIGINT AS n,
       round(sum(l_quantity), 6) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS gset, l_returnflag, l_linestatus, count(*)::BIGINT AS n,
       round(sum(l_quantity), 6) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
UNION ALL
SELECT 'copairs' AS gset, CAST(pp.p1 AS VARCHAR) AS l_returnflag,
       CAST(pp.p2 AS VARCHAR) AS l_linestatus, pp.sup::BIGINT AS n,
       round(CAST(pp.sup AS DOUBLE) * t.nb / (i1.n_item * i2.n_item), 6) AS sum_qty
FROM (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS sup
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
) pp
JOIN (SELECT l_partkey, count(*) AS n_item
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      GROUP BY 1) i1 ON pp.p1 = i1.l_partkey
JOIN (SELECT l_partkey, count(*) AS n_item
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      GROUP BY 1) i2 ON pp.p2 = i2.l_partkey
CROSS JOIN (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS nb
            FROM lineitem) t
"""

REL_PIVOT_SQL = """
WITH wide AS (
  SELECT l_returnflag,
    round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 6) AS qty_open,
    round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 6) AS qty_filled
  FROM lineitem GROUP BY l_returnflag
), longf AS (
  SELECT l_returnflag, 'qty_open' AS status, qty_open AS qty FROM wide
  UNION ALL
  SELECT l_returnflag, 'qty_filled' AS status, qty_filled AS qty FROM wide
), direct AS (
  SELECT l_returnflag,
         CASE WHEN l_linestatus = 'O' THEN 'qty_open' ELSE 'qty_filled' END AS status,
         round(sum(l_quantity), 6) AS qty_d
  FROM lineitem GROUP BY 1, 2
), agree AS (
  SELECT l_returnflag, bool_and(qty IS NOT DISTINCT FROM qty_d) AS melt_ok
  FROM longf FULL OUTER JOIN direct USING (l_returnflag, status)
  GROUP BY 1
)
SELECT w.l_returnflag, w.qty_open, w.qty_filled, a.melt_ok
FROM wide w JOIN agree a USING (l_returnflag)
"""

REL_SEMI_ANTI_JOIN_SQL = """
SELECT 'semi' AS join_kind, c_custkey AS key, c_mktsegment AS segment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'anti' AS join_kind, c_custkey AS key, c_mktsegment AS segment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-01-01')
UNION ALL
SELECT 'intersect' AS join_kind, nationkey AS key, CAST(NULL AS VARCHAR) AS segment FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT 'except' AS join_kind, nationkey AS key, CAST(NULL AS VARCHAR) AS segment FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
  EXCEPT
  SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
)
UNION ALL
SELECT join_kind, key, segment FROM (
  WITH v_old AS (
    SELECT c_custkey AS key, c_mktsegment AS seg FROM customer WHERE c_custkey % 10 != 0
  ), v_new AS (
    SELECT c_custkey AS key,
           CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment || '*' ELSE c_mktsegment END AS seg
    FROM customer WHERE c_custkey % 13 != 0
  ), j AS (
    SELECT coalesce(o.key, n.key) AS key, o.seg AS oseg, n.seg AS nseg,
           o.key IS NOT NULL AS in_old, n.key IS NOT NULL AS in_new
    FROM v_old o FULL OUTER JOIN v_new n ON o.key = n.key
  )
  SELECT 'scd2_closed' AS join_kind, key, oseg AS segment FROM j
  WHERE in_old AND (NOT in_new OR oseg != nseg)
  UNION ALL
  SELECT 'scd2_cur_old', key, oseg FROM j WHERE in_old AND in_new AND oseg = nseg
  UNION ALL
  SELECT 'scd2_cur_new', key, nseg FROM j
  WHERE in_new AND (NOT in_old OR oseg != nseg)
)
"""

REL_DISTINCT_AGG_SQL = """
-- sketch_ok / hh_ok / cms_ok / bloom_ok: HLL++, KLL-median,
-- freqItems heavy-hitter, count-min and Bloom-filter outputs are
-- approximate so only the engine's error-envelope / structural-
-- guarantee verdicts are hash-checkable (constant 1.0)
SELECT l_returnflag,
       count(DISTINCT l_partkey)::BIGINT AS n_parts,
       count(DISTINCT l_suppkey)::BIGINT AS n_supps,
       CAST(1.0 AS DOUBLE) AS sketch_ok,
       CAST(1.0 AS DOUBLE) AS hh_ok,
       CAST(1.0 AS DOUBLE) AS cms_ok,
       CAST(1.0 AS DOUBLE) AS bloom_ok
FROM lineitem GROUP BY l_returnflag
"""

REL_ASOF_JOIN_SQL = """
SELECT e.event_id, e.user_id, o.o_orderdate AS asof_o_orderdate
FROM events e
ASOF LEFT JOIN orders o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""

REL_RANGE_JOIN_SQL = """
WITH intervals AS (
  SELECT DISTINCT date_trunc('hour', ts) AS w_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end
  FROM events WHERE event_type = 'error'
)
SELECT i.w_start, count(*)::BIGINT AS n_events_in_window
FROM events e JOIN intervals i
  ON e.ts >= i.w_start AND e.ts < i.w_end
GROUP BY i.w_start
"""

REL_DATE_BREAKDOWN_SQL = """
SELECT year(o_orderdate)::INTEGER AS yr, quarter(o_orderdate)::INTEGER AS qtr,
       count(*)::BIGINT AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS revenue,
       min(CAST(o_orderdate AS DATE)) AS first_day
FROM orders GROUP BY 1, 2
"""

REL_RUNNING_WINDOW_SQL = """
SELECT o_custkey, o_orderkey,
  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_revenue,
  round(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey), 6) AS prev_price
FROM orders
"""
