"""Feature engineering (reference ``preprocess_data``, ref:36-52).

F1 z-score standardization (ref:41-43): sklearn ``StandardScaler`` =
   (x - mean) / population std (ddof=0). Spark gotcha pinned here:
   ``F.stddev`` is the SAMPLE std and ``ml.feature.StandardScaler``
   also uses it — to match sklearn we must aggregate ``stddev_pop``.

F2 label encoding (ref:46-51): sklearn ``LabelEncoder`` = codes
   0..k-1 over LEXICOGRAPHICALLY sorted distinct stringified values.
   Implemented as the pure-DataFrame parity path
   (distinct -> sort -> row_number-1 -> broadcast join), which is also
   the scalable path: the label map is tiny (k distinct values), the
   join is broadcast, the big side never shuffles.

Both are classic fit/transform splits: the "fit" statistics (one
mean/std row; a k-row label map) are small DataFrames broadcast back
into the transform plan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators.clean import numeric_cols, string_cols

NULL_TOKEN = "nan"  # ref:50 stringifies before encoding: NaN -> "nan"

# Scale gate for ``q_feat_zscore``'s exact-percentile robust fit: Spark's exact
# `percentile` aggregate keeps a value->count map per partial and
# merges/sorts them on ONE reducer, so its cost is n-proportional for
# continuous columns (the worst 10x-probe growth in the catalog before
# this gate). Below this row count the exact fit is cheap AND the
# validation oracle (DuckDB quantile_cont) needs its interpolated
# values; above it the GK sketch is the only fit that should execute.
EXACT_FIT_MAX_ROWS = 200_000


def zscore_fit(df: DataFrame, cols: Sequence[str] | None = None) -> dict[str, tuple[float, float]]:
    """One agg pass over all columns: {col: (mean, stddev_pop)}."""
    cols = list(cols if cols is not None else numeric_cols(df))
    aggs = []
    for c in cols:
        col = F.col(c).cast("double")
        aggs += [F.avg(col).alias(f"m_{c}"), F.stddev_pop(col).alias(f"s_{c}")]
    row = df.agg(*aggs).first()
    return {c: (row[f"m_{c}"], row[f"s_{c}"]) for c in cols}


def zscore_transform(df: DataFrame, stats: dict[str, tuple[float, float]]) -> DataFrame:
    """(x - mean) / pop_std per column; zero-variance columns are
    centered only (sklearn sets scale_=1.0 when var==0)."""
    out = []
    for c in df.columns:
        if c in stats:
            m, s = stats[c]
            denom = s if (s is not None and s > 0.0) else 1.0
            out.append(((F.col(c).cast("double") - F.lit(m)) / F.lit(denom)).alias(c))
        else:
            out.append(F.col(c))
    return df.select(*out)


def zscore(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """F1 end-to-end: fit + transform (ref:41-43)."""
    return zscore_transform(df, zscore_fit(df, cols))


def label_encode_fit(df: DataFrame, col: str) -> DataFrame:
    """Build the label map for one column: (value, code) with codes
    0..k-1 over sorted distinct stringified values — sklearn
    ``LabelEncoder`` semantics (np.unique sort order; nulls stringify
    to "nan" per ref:50's ``astype(str)``).

    The ``row_number`` window runs over the DISTINCT value set (k rows,
    not n) — a single small sorted partition, which is fine because k
    is by construction bounded for categorical columns.
    """
    vals = (
        df.select(F.coalesce(F.col(col).cast("string"), F.lit(NULL_TOKEN)).alias("value"))
        .distinct()
    )
    w = Window.orderBy("value")
    return vals.withColumn("code", (F.row_number().over(w) - 1).cast("long"))


def label_encode(df: DataFrame, cols: Sequence[str] | None = None) -> tuple[DataFrame, dict[str, DataFrame]]:
    """F2 (ref:46-51): encode every string column via a broadcast join
    against its label map. Returns (encoded df, {col: label_map}) — the
    maps are the engine's analog of the reference's ``label_encoders``
    dict (they support inverse transform by joining code -> value).
    """
    cols = list(cols if cols is not None else string_cols(df))
    encoders: dict[str, DataFrame] = {}
    out = df
    for c in cols:
        mapping = label_encode_fit(df, c)
        encoders[c] = mapping
        key = F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN))
        out = (
            out.withColumn("__dih_key", key)
            .join(
                F.broadcast(mapping.withColumnRenamed("value", "__dih_key").withColumnRenamed("code", f"__dih_code_{c}")),
                "__dih_key",
                "left",
            )
            .drop("__dih_key")
        )
    proj = [
        (F.col(f"__dih_code_{c}").alias(c) if c in cols else F.col(c)) for c in df.columns
    ]
    return out.select(*proj), encoders


def one_hot(df: DataFrame, col: str) -> tuple[DataFrame, list[str]]:
    """One-hot encoding (pandas ``get_dummies`` / sklearn
    ``OneHotEncoder``): one 0/1 indicator column per category, named
    ``{col}__{category}``.

    The category list comes from a bounded distinct scan — legitimate
    to collect because k is by definition small for a one-hot-able
    column; the guard raises past ``max_categories`` = 64 rather than
    silently exploding the schema. The encode itself is a narrow
    projection of k codegen'd indicator expressions — no join, no
    shuffle, nulls get an all-zeros row (sklearn
    ``handle_unknown='ignore'`` semantics).
    """
    cats = [
        r[0]
        for r in df.select(F.col(col).cast("string").alias("v"))
        .where(F.col("v").isNotNull())
        .distinct()
        .orderBy("v")
        .limit(65)
        .collect()
    ]
    if len(cats) > 64:
        raise ValueError(f"one_hot({col!r}): more than 64 distinct categories")
    ind = [
        F.when(F.col(col).cast("string") == F.lit(c), F.lit(1))
        .otherwise(F.lit(0))
        .alias(f"{col}__{c}")
        for c in cats
    ]
    return df.select(*df.columns, *ind), cats


def quantile_bucketize(
    df: DataFrame,
    col: str,
    n_buckets: int,
    tiebreak: Sequence[str],
    out_col: str | None = None,
) -> DataFrame:
    """Equal-frequency bucketing — sklearn ``KBinsDiscretizer``
    (strategy='quantile') / SQL ``ntile(n) OVER (ORDER BY col,
    tiebreak)`` — WITHOUT the single-task global window ``ntile``
    implies.

    The global rank comes from :func:`with_global_index` (range
    exchange + per-partition counts + broadcast offsets — every stage
    parallel), and the bucket is ntile's closed-form assignment from
    the 0-based rank r over n rows: the first ``n % k`` buckets get
    ``n//k + 1`` rows, the rest ``n//k``. ``(col, *tiebreak)`` must be
    a unique key, same as any deterministic ntile.
    """
    from data_integration_and_harmonization_spark.functions.indexing import (
        with_global_index,
    )

    n = df.count()
    k = int(n_buckets)
    rank = "__dih_qb_rank"
    idx = with_global_index(df, [col, *tiebreak], rank)
    q, rem = divmod(n, k)
    threshold = rem * (q + 1)
    r = F.col(rank)
    if q == 0:  # fewer rows than buckets: ntile gives row i bucket i+1
        bucket = (r + 1).cast("int")
    else:
        bucket = (
            F.when(r < F.lit(threshold), (r / F.lit(q + 1)).cast("int") + 1)
            .otherwise(F.lit(rem) + ((r - F.lit(threshold)) / F.lit(q)).cast("int") + 1)
            .cast("int")
        )
    return idx.withColumn(out_col or f"{col}_bucket", bucket).drop(rank)


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 10.0,
    out_col: str | None = None,
) -> DataFrame:
    """Smoothed target encoding of a categorical column (engine
    extension — the supervised encoder for high-cardinality
    categories, where F2's ordinal codes carry no signal):

        enc = (sum_cat - own y + smoothing * prior) /
              (n_cat   - 1     + smoothing)

    The row's own target is excluded — leave-one-out, the standard
    leakage guard when encoding the training table itself; rows with
    a null target use the plain smoothed mean. ``prior`` is the global target mean, pulling rare
    categories toward it.

    Plan: one map-side-combinable groupBy for the per-category
    (sum, count), one 1-row global agg, both broadcast back into a
    single narrow projection — two bounded fits + zero extra
    shuffles on the main table at any scale. Sums of integral
    targets stay exact in doubles (< 2^53), so any engine
    reproduces the encoding bit-for-bit.
    """
    t = F.col(target_col).cast("double")
    g = df.groupBy(F.col(cat_col).alias("__te_cat")).agg(
        F.sum(t).alias("__te_s"), F.count(t).alias("__te_n")
    )
    glob = df.agg((F.sum(t) / F.count(t)).alias("__te_prior"))
    # null-safe key: a NULL category is its own group (mirrors the
    # groupBy), not an unmatched row silently falling to the prior
    j = (
        df.join(
            F.broadcast(g),
            F.col(cat_col).eqNullSafe(F.col("__te_cat")),
            "left",
        )
        .drop("__te_cat")
        .crossJoin(F.broadcast(glob))
    )
    m = F.lit(float(smoothing))
    prior = F.col("__te_prior")
    plain = (F.col("__te_s") + m * prior) / (F.col("__te_n") + m)
    enc = F.when(
        t.isNull() | F.col("__te_s").isNull(), plain
    ).otherwise(
        (F.col("__te_s") - t + m * prior) / (F.col("__te_n") - 1 + m)
    )
    # a category entirely absent from the fit (all-null targets) or a
    # null category falls back to the prior
    enc = F.coalesce(enc, prior)
    return j.withColumn(out_col or f"{cat_col}_te", enc).drop(
        "__te_s", "__te_n", "__te_prior"
    )
