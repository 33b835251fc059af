"""Deterministic sampling for training-data pipelines (engine
extension; SURVEY §7 north-star ops — no reference counterpart).

Two modes, both reproducible across engines and cluster sizes:

- hash sampling: keep a row iff an md5-derived hash of its key falls
  under the rate threshold. Pure row-local column expression — no
  shuffle, no RNG state, stable under repartitioning, and any engine
  with md5 reproduces the exact same subset (the oracle twin does).
- stratified exact sampling: per-stratum exact counts
  (ceil(rate * n_stratum)), rows chosen by hash order within the
  stratum. One shuffle on the stratum key; the per-stratum window
  sort is bounded by stratum size (salt upstream if a stratum is
  pathological — see functions/skew.py).

``Bernoulli vs exact``: hash sampling is the scale path (embarrassingly
parallel, approximately rate * n rows); stratified-exact trades one
shuffle for exact per-group counts — the same trade ml.exact_split
makes vs randomSplit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# 60-bit md5 slice (same slice the dedup md5 families use): positive
# in a signed long, reproducible as DuckDB
# CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT).
_DENOM = 1_000_000


def _hash_unit(key: Column, seed: int) -> Column:
    """Uniform-ish integer in [0, _DENOM) from md5(key:seed)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", key, F.lit(str(seed)))), 1, 15), 16, 10
    ).cast("long")
    return h % _DENOM


def sample_hash(key_cols: Sequence[str], seed: int = 42) -> Column:
    """The sampling hash as a reusable column expression — compute it
    ONCE (e.g. into a persisted projection) when several sampling ops
    share the same (keys, seed), then pass its column name as
    ``hash_col``: one md5 pass instead of one per consumer. At 100 TB
    the md5 over a composite key is the dominant per-row cost of the
    sampling family, so hash-once-filter-many is the scale shape."""
    return _hash_unit(_injective_key(key_cols), seed)


def shuffle_hash(key_cols: Sequence[str], seed: int = 42) -> Column:
    """:func:`deterministic_shuffle`'s full-width order key as a
    reusable column expression (see :func:`sample_hash` for why)."""
    return F.md5(F.concat(_injective_key(key_cols), F.lit(f":{seed}")))


def hash_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    rate: float,
    seed: int = 42,
    hash_col: str | None = None,
) -> DataFrame:
    """Deterministic Bernoulli-style sample: row kept iff
    md5(key:seed) mod 1e6 < rate * 1e6. No shuffle; filter pushes to
    the scan. The key tuple is netstring-encoded
    (:func:`_injective_key`) before hashing, so distinct composite
    keys can never collide into one hash input — a plain separator
    join would correlate keep/drop decisions for tuples like
    ``('x', 'y|z')`` vs ``('x|y', 'z')`` and for null-skipping.

    ``hash_col``: name of a column already holding
    ``sample_hash(key_cols, seed)`` — skips recomputing the md5 here
    (the caller owns the equivalence; seed/keys are ignored then)."""
    h = F.col(hash_col) if hash_col else _hash_unit(_injective_key(key_cols), seed)
    return df.where(h < int(rate * _DENOM))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    key_cols: Sequence[str],
    rate: float,
    seed: int = 42,
    hash_col: str | None = None,
    key_col: str | None = None,
) -> DataFrame:
    """Exact per-stratum sample: ceil(rate * n) rows per stratum,
    chosen by hash order (deterministic, engine-reproducible). The
    hash order also makes the pick independent of physical row order.

    ``hash_col``/``key_col``: columns already holding
    :func:`sample_hash` / the netstring key — the hash-once path for
    multi-consumer pipelines."""
    key = F.col(key_col) if key_col else _injective_key(key_cols)
    hu = F.col(hash_col) if hash_col else _hash_unit(key, seed)
    # hash ties break on the netstring-encoded key STRING (not the raw
    # columns): lexicographic order is what any external engine
    # reproduces — numeric-column ordering diverges from the oracle the
    # first time two keys collide on a stratum's cutoff boundary.
    w = Window.partitionBy(stratum_col).orderBy(hu, key)
    n = Window.partitionBy(stratum_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(n))
        .where(F.col("__rn") <= F.ceil(F.col("__n") * rate))
        .drop("__rn", "__n")
    )


def _injective_key(key_cols: Sequence[str]) -> Column:
    """Netstring-style injective encoding of a column tuple: each field
    is ``<len>:<value>`` with null as ``-1:``. Unlike a plain
    ``concat_ws`` (which SKIPS nulls and can't distinguish a separator
    inside a value from the separator between values), two distinct
    tuples can never encode to the same string — required wherever the
    encoded key feeds a hash whose collisions break a determinism
    guarantee."""
    parts = []
    for c in key_cols:
        s = F.col(c).cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("-1:")).otherwise(
                F.concat(F.length(s).cast("string"), F.lit(":"), s)
            )
        )
    return F.concat(*parts)


def deterministic_shuffle(
    df: DataFrame,
    key_cols: Sequence[str],
    seed: int = 42,
    num_partitions: int | None = None,
    rank_col: str | None = None,
    shuffle_col: str | None = None,
) -> DataFrame:
    """Reproducible global shuffle for training order: sort by
    md5(key:seed). The same corpus + seed yields the same order on any
    engine at any parallelism — unlike ``orderBy(rand())``, which
    depends on partition layout and RNG state. One range shuffle; ties
    impossible when ``key_cols`` is a unique key, because the key
    tuple is netstring-encoded (:func:`_injective_key`) before
    hashing — a plain separator join would collapse e.g.
    ``('x', 'y|z')`` and ``('x|y', 'z')`` into one hash input.

    ``rank_col``: also attach the 0-based global position in the
    shuffle order (via :func:`..functions.indexing.with_global_index`
    on the hash — same one-range-shuffle pattern plus its tiny offsets
    job; the hash column ordering is reproducible externally as
    ``row_number() OVER (ORDER BY md5(netstring(key) || ':seed'))``).

    ``shuffle_col``: a column already holding :func:`shuffle_hash` —
    the hash-once path (seed/keys are ignored then).
    """
    if shuffle_col:
        out = df.withColumn("__shuf", F.col(shuffle_col))
    else:
        if "__shuf" in df.columns:
            raise ValueError("input already has a __shuf column")
        out = df.withColumn("__shuf", shuffle_hash(key_cols, seed))
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if rank_col is not None:
        from data_integration_and_harmonization_spark.functions.indexing import (
            with_global_index,
        )

        return with_global_index(
            out, ["__shuf"], index_col=rank_col, num_partitions=n
        ).drop("__shuf")
    return (
        out.repartitionByRange(n, F.col("__shuf"))
        .sortWithinPartitions("__shuf")
        .drop("__shuf")
    )


def mix_sources(
    sources: dict[str, DataFrame],
    weights: dict[str, float],
    key_cols: Sequence[str],
    seed: int = 42,
    source_col: str = "__mix_source",
    hash_col: str | None = None,
) -> DataFrame:
    """Weighted training-data mix: deterministically downsample each
    source to its mix weight (hash sampling, shuffle-free) and union.
    ``weights[name]`` is the KEEP RATE for that source (the standard
    way training mixes express 'use 30% of CommonCrawl, all of
    Wikipedia'). Missing weight = keep everything. Rows are tagged
    with their source for downstream per-source accounting."""
    if not sources:
        raise ValueError("mix_sources needs at least one source")
    unknown = set(weights) - set(sources)
    if unknown:
        # a typo'd weight key would otherwise silently keep that source
        # at 100% — wrong training mix with no error
        raise ValueError(f"weights for unknown sources: {sorted(unknown)}")
    bad = {k: v for k, v in weights.items() if not (0.0 <= v <= 1.0)}
    if bad:
        # negative (sign typo) would silently empty the source; > 1
        # (oversampling intent) would silently cap at keep-all —
        # oversampling is replication, out of scope for a subsampler
        raise ValueError(
            f"weights must be keep-rates in [0, 1]; got {bad} "
            "(to oversample, union the source with itself upstream)"
        )
    parts = []
    for name, df in sources.items():
        rate = weights.get(name, 1.0)
        part = (
            df
            if rate >= 1.0
            else hash_sample(df, key_cols, rate, seed=seed, hash_col=hash_col)
        )
        parts.append(part.withColumn(source_col, F.lit(name)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def cap_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    key_cols: Sequence[str],
    n: int,
    seed: int = 42,
    shuffle_col: str | None = None,
) -> DataFrame:
    """Per-group quota cap: keep at most ``n`` rows per group, chosen
    by the deterministic shuffle hash — the per-domain/per-source cap
    every web-scale curation pipeline applies so one mega-domain can't
    dominate the training mix. Hash order (not arrival order) makes
    the kept subset a uniform, reproducible sample of each group.

    Scale shape: one shuffle on the group key and a rank window per
    group — parallel across groups; no global sort, no collect. A
    pathologically hot group is one window partition: cap it upstream
    with AQE skew handling or pre-filter if a single group approaches
    executor memory.

    ``shuffle_col`` reuses a precomputed :func:`shuffle_hash` column
    (the hash-once-filter-many contract shared by the whole family).
    """
    if n < 0:
        raise ValueError(f"cap must be >= 0, got {n}")
    h = F.col(shuffle_col) if shuffle_col else shuffle_hash(key_cols, seed)
    w = Window.partitionBy(*group_cols).orderBy(
        h, *[F.col(k) for k in key_cols]
    )
    return (
        df.withColumn("__cap_rank", F.row_number().over(w))
        .where(F.col("__cap_rank") <= n)
        .drop("__cap_rank")
    )


def budget_cap(
    df: DataFrame,
    group_cols: Sequence[str],
    key_cols: Sequence[str],
    cost_col: str,
    budget: float,
    seed: int = 42,
    shuffle_col: str | None = None,
) -> DataFrame:
    """Cost-budgeted quota: keep rows per group, in the deterministic
    shuffle-hash order, while the group's RUNNING cost (including the
    current row) stays within ``budget`` — :func:`cap_per_group` in
    cost units instead of row counts. This is how a training mix is
    actually specified ("N tokens of web, M of code"): pass token
    counts as ``cost_col`` and the per-source token budget, and the
    kept subset is a uniform, reproducible sample of each group that
    lands at (never over) the budget.

    Same scale shape as :func:`cap_per_group`: one shuffle on the
    group key, one running-sum window per group, parallel across
    groups; no global sort, no collect. ``shuffle_col`` reuses a
    precomputed :func:`shuffle_hash` column (the hash-once-filter-many
    contract shared by the whole family).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    h = F.col(shuffle_col) if shuffle_col else shuffle_hash(key_cols, seed)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(h, *[F.col(k) for k in key_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("__cap_cost", F.sum(cost_col).over(w))
        .where(F.col("__cap_cost") <= budget)
        .drop("__cap_cost")
    )


# ------------------------------------------------------- queries and oracles

def q_samp_deterministic(spark: SparkSession, sf: str) -> DataFrame:
    """Four tagged legs through one hash-matched result:

    - 'hash' / 'stratified': the two sampling modes;
    - 'shuffle': deterministic_shuffle order pinned by an
      order-SENSITIVE checksum — sum((pos+1) * l_quantity) per
      group changes under any row permutation, and the products
      stay integral so the double sum is exact at any partition
      order. Ranked over the 10% hash-sample subset (composing the
      two operators): the subset's shuffle order is the full
      order restricted, so the order contract is pinned at a
      tenth of the rank-pass cost;
    - 'mix_<source>': mix_sources weighted union (even orderkeys
      kept at 30%, odd kept whole), per-source accounting via the
      source tag.
    - 'cap': cap_per_group quota — at most 1000 rows per
      returnflag group by deterministic hash order (the
      per-domain cap of a curation mix), group sums replayed by
      the oracle's rank window.
    - 'budget': budget_cap quota — rows kept per returnflag group
      in the same hash order while the running l_quantity stays
      within 20000 (the token-budget dial of a training mix,
      with quantity standing in for token counts), replayed by
      the oracle's running-sum window.
    """
    from data_integration_and_harmonization_spark.functions.caching import track

    # the synthetic lineitem duplicates (l_orderkey, l_linenumber);
    # sampling keys must be a UNIQUE composite or cutoff-boundary
    # ties pick nondeterministically across sessions. All-integer
    # columns only: a double in the key would hash its STRING form,
    # and Spark/DuckDB double-to-string formats differ.
    keys = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    # Four legs = four consumers of the same projection. Read once,
    # spread across the session parallelism, persist — WITH the
    # sampling hashes precomputed: the md5 over the netstring key
    # is the family's dominant per-row cost, and without the
    # hash_col reuse every leg recomputed it (5 md5 passes; the r4
    # bench showed 6.1 s for what is otherwise a handful of
    # filtered aggs). Hash once at persist time, filter many.
    # Tracked persist — the driver wrapper releases it at the next
    # query boundary.
    slim = track(
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .select(*keys, "l_returnflag", "l_quantity")
        .withColumn("__hu", sample_hash(keys, 42))
        .withColumn("__net", _injective_key(keys))
        .withColumn("__sh", shuffle_hash(keys, 42))
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    agg = [
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
    ]
    h = (
        hash_sample(slim, keys, rate=0.1, hash_col="__hu")
        .groupBy("l_returnflag")
        .agg(*agg)
    )
    s = stratified_sample(
        slim, "l_returnflag", keys, rate=0.05, hash_col="__hu", key_col="__net"
    ).groupBy("l_returnflag").agg(*agg)
    sh = deterministic_shuffle(
        hash_sample(slim, keys, rate=0.1, hash_col="__hu"),
        keys,
        rank_col="__pos",
        shuffle_col="__sh",
    ).groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum((F.col("__pos") + 1) * F.col("l_quantity")), 6).alias(
            "sum_qty"
        ),
    )
    mixed = mix_sources(
        {
            "even": slim.where(F.col("l_orderkey") % 2 == 0),
            "odd": slim.where(F.col("l_orderkey") % 2 == 1),
        },
        weights={"even": 0.3},
        key_cols=keys,
        hash_col="__hu",
    )
    m = mixed.groupBy(
        F.concat(F.lit("mix_"), F.col("__mix_source")).alias("kind"),
        "l_returnflag",
    ).agg(*agg)
    cap = (
        cap_per_group(slim, ["l_returnflag"], keys, 1000, shuffle_col="__sh")
        .groupBy("l_returnflag")
        .agg(*agg)
    )
    budget = (
        budget_cap(
            slim, ["l_returnflag"], keys, "l_quantity", 20000,
            shuffle_col="__sh",
        )
        .groupBy("l_returnflag")
        .agg(*agg)
    )
    return (
        h.select(F.lit("hash").alias("kind"), "*")
        .unionByName(s.select(F.lit("stratified").alias("kind"), "*"))
        .unionByName(sh.select(F.lit("shuffle").alias("kind"), "*"))
        .unionByName(m)
        .unionByName(cap.select(F.lit("cap").alias("kind"), "*"))
        .unionByName(budget.select(F.lit("budget").alias("kind"), "*"))
    )


# netstring-injective key encoding, mirrored from _injective_key:
# each field is <len>:<value>, null -> -1: (keys here are non-null
# integers, but the encoding is mirrored in full for fidelity)
_NET = "concat(" + ", ".join(
    f"CASE WHEN {c} IS NULL THEN '-1:' ELSE "
    f"concat(length(CAST({c} AS VARCHAR)), ':', CAST({c} AS VARCHAR)) END"
    for c in ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
) + ")"

_HU = (
    f"CAST(concat('0x', substr(md5(concat({_NET}, ':42')), 1, 15)) "
    "AS BIGINT) % 1000000"
)

_SHUF = f"md5(concat({_NET}, ':42'))"

SAMP_DETERMINISTIC_SQL = f"""
SELECT 'hash' AS kind, l_returnflag, count(*)::BIGINT AS n_rows,
       round(sum(l_quantity), 6) AS sum_qty
FROM lineitem WHERE {_HU} < 100000
GROUP BY 2
UNION ALL
SELECT 'stratified' AS kind, l_returnflag, n_rows, sum_qty FROM (
  SELECT l_returnflag, count(*)::BIGINT AS n_rows,
         round(sum(l_quantity), 6) AS sum_qty
  FROM (
    SELECT l_returnflag, l_quantity,
           row_number() OVER (
             PARTITION BY l_returnflag
             ORDER BY {_HU}, {_NET}
           ) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
  )
  WHERE rn <= ceil(n * 0.05)
  GROUP BY 1
)
UNION ALL
SELECT 'shuffle' AS kind, l_returnflag, count(*)::BIGINT AS n_rows,
       round(sum(pos * l_quantity), 6) AS sum_qty
FROM (
  SELECT l_returnflag, l_quantity,
         row_number() OVER (ORDER BY {_SHUF}) AS pos
  FROM lineitem WHERE {_HU} < 100000
)
GROUP BY 2
UNION ALL
SELECT concat('mix_', src) AS kind, l_returnflag, count(*)::BIGINT AS n_rows,
       round(sum(l_quantity), 6) AS sum_qty
FROM (
  SELECT 'even' AS src, l_returnflag, l_quantity
  FROM lineitem WHERE l_orderkey % 2 = 0 AND {_HU} < 300000
  UNION ALL
  SELECT 'odd', l_returnflag, l_quantity
  FROM lineitem WHERE l_orderkey % 2 = 1
)
GROUP BY 1, 2
UNION ALL
SELECT 'cap' AS kind, l_returnflag, count(*)::BIGINT AS n_rows,
       round(sum(l_quantity), 6) AS sum_qty
FROM (
  SELECT l_returnflag, l_quantity,
         row_number() OVER (
           PARTITION BY l_returnflag
           ORDER BY {_SHUF}, l_orderkey, l_linenumber, l_partkey, l_suppkey
         ) AS rn
  FROM lineitem
)
WHERE rn <= 1000
GROUP BY 2
UNION ALL
SELECT 'budget' AS kind, l_returnflag, count(*)::BIGINT AS n_rows,
       round(sum(l_quantity), 6) AS sum_qty
FROM (
  SELECT l_returnflag, l_quantity,
         sum(l_quantity) OVER (
           PARTITION BY l_returnflag
           ORDER BY {_SHUF}, l_orderkey, l_linenumber, l_partkey, l_suppkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS run_qty
  FROM lineitem
)
WHERE run_qty <= 20000
GROUP BY 2
"""
