"""Schema harmonization (reference P1 + U1: ref:20-23).

The reference's core integration operator:

    for df in dfs: df.columns = [c.lower().replace(' ', '_') ...]   # ref:22
    return pd.concat(dfs, ignore_index=True)                        # ref:23

i.e. per-source column-name normalization, then an outer union aligned
BY NAME — columns absent from a source become null, conflicting dtypes
are upcast (pandas does this silently; Spark unions need exact types,
so we compute the least-common Spark type per column name first and
cast every source to it).

Divergences from pandas, by design (documented in SURVEY §1):
- duplicate post-normalization names inside one source: pandas keeps
  duplicate labels; Spark forbids them — we deterministically suffix
  ``__2``, ``__3``, ...
- row order: ``ignore_index=True`` implies load-order; we synthesize an
  explicit ``(source_seq, row-position)`` ingest index on request so
  order-sensitive downstream ops (interpolate/ffill) have a real
  ordering column instead of an implicit one.

Scale notes: union is a zero-shuffle narrow op in Spark; the only cost
added here is the per-column cast projection. ``unionByName`` with
``allowMissingColumns=True`` keeps the plan a single Catalyst Union
node over N scans — pushdown/pruning still reach each parquet source.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_integration_and_harmonization_spark.functions.indexing import with_global_index

INGEST_SOURCE = "_source_seq"
INGEST_INDEX = "_ingest_idx"

_NUMERIC_WIDTH = {
    T.ByteType: 1,
    T.ShortType: 2,
    T.IntegerType: 3,
    T.LongType: 4,
    T.FloatType: 5,
    T.DoubleType: 6,
}


def normalize_name(name: str) -> str:
    """ref:22 — lower-case, spaces to underscores."""
    return name.lower().replace(" ", "_")


def normalize_columns(df: DataFrame) -> DataFrame:
    """P1: normalize every column name; de-dupe collisions with
    ``__k`` suffixes (pandas tolerates duplicate labels, Spark cannot)."""
    seen: dict[str, int] = {}
    out = []
    for c in df.columns:
        n = normalize_name(c)
        seen[n] = seen.get(n, 0) + 1
        out.append(n if seen[n] == 1 else f"{n}__{seen[n]}")
    return df.toDF(*out)


def _promote(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least-common type, pandas-flavored: numeric widen within the
    numeric lattice, timestamps/dates merge to timestamp, any other
    conflict falls back to string (pandas' object upcast)."""
    if a == b:
        return a
    wa, wb = _NUMERIC_WIDTH.get(type(a)), _NUMERIC_WIDTH.get(type(b))
    if wa is not None and wb is not None:
        # int+int widens to the larger int; any int+float -> double
        if max(wa, wb) >= 5 and min(wa, wb) <= 4:
            return T.DoubleType()
        return a if wa >= wb else b
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType):
        # two decimals with different precision/scale: pandas concat
        # upcasts to float64, so merge to double (not string)
        return T.DoubleType()
    if isinstance(a, T.DecimalType) and wb is not None or isinstance(b, T.DecimalType) and wa is not None:
        return T.DoubleType()
    dt_types = (T.DateType, T.TimestampType)
    if isinstance(a, dt_types) and isinstance(b, dt_types):
        return T.TimestampType()
    return T.StringType()


def unified_schema(dfs: Sequence[DataFrame]) -> dict[str, T.DataType]:
    """Outer schema union by (normalized) name with type promotion.
    Column order = first-seen order across sources, like pandas concat."""
    types: dict[str, T.DataType] = {}
    for df in dfs:
        for f in df.schema.fields:
            types[f.name] = _promote(types[f.name], f.dataType) if f.name in types else f.dataType
    return types


def harmonize(
    dfs: Sequence[DataFrame],
    add_ingest_index: bool = False,
) -> DataFrame:
    """U1: normalize names per source, cast to the least-common schema,
    outer-union by name. With ``add_ingest_index=True`` the result also
    carries ``_ingest_idx`` — a contiguous 0..n-1 position ordered by
    (source sequence, row position within source) replicating pandas'
    ``ignore_index=True`` row order for the order-sensitive cleaners.
    """
    if not dfs:
        raise ValueError("harmonize() needs at least one source")
    normed = [normalize_columns(df) for df in dfs]
    target = unified_schema(normed)

    casted = []
    for seq, df in enumerate(normed):
        cols = [
            (F.col(name).cast(dtype) if name in df.columns else F.lit(None).cast(dtype)).alias(name)
            for name, dtype in target.items()
        ]
        if add_ingest_index:
            # Per-source row position: monotonically_increasing_id is
            # non-contiguous but strictly increasing in (partition, row)
            # order, which for a parquet/csv scan is file order.
            cols = [*cols, F.lit(seq).alias(INGEST_SOURCE), F.monotonically_increasing_id().alias("_row_in_source")]
        casted.append(df.select(*cols))

    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), casted)
    if add_ingest_index:
        out = with_global_index(
            out, [INGEST_SOURCE, "_row_in_source"], index_col=INGEST_INDEX
        ).drop("_row_in_source")
    return out


# ---------------------------------------------------------------- matching

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType, T.DecimalType)


def _type_family(dt: T.DataType) -> str:
    if isinstance(dt, _INT_TYPES) or isinstance(dt, _FLOAT_TYPES):
        return "numeric"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    return "other"


def strip_prefix(name: str) -> str:
    """Drop a leading 1-2 letter underscore prefix (TPC-H style
    ``c_``/``ps_``) from a normalized column name."""
    import re

    return re.sub(r"^[a-z]{1,2}_", "", name)


def levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance — integer-exact, so the engine and any
    SQL oracle (``levenshtein()``) agree bit-for-bit on the derived
    similarity doubles."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def name_similarity(a: str, b: str) -> float:
    """1 - lev/max_len over prefix-stripped normalized names."""
    sa, sb = strip_prefix(normalize_name(a)), strip_prefix(normalize_name(b))
    if not sa and not sb:
        return 1.0
    return 1.0 - levenshtein(sa, sb) / float(max(len(sa), len(sb)))


def _canon_expr(col: str, dt: T.DataType) -> F.Column | None:
    """Engine-portable canonical string rendering for value-overlap:
    integers and dates render identically in Spark and ANSI SQL
    engines; strings are themselves. Floats/decimals/timestamps are
    EXCLUDED — their string formats are engine-specific ('12.0' vs
    '12'), so overlap for those pairs reports null and the match
    score falls back to name+type evidence."""
    if isinstance(dt, _INT_TYPES):
        return F.col(col).cast("long").cast("string")
    if isinstance(dt, T.StringType):
        return F.col(col)
    if isinstance(dt, T.DateType):
        return F.col(col).cast("string")
    return None


def _canon_values(df: DataFrame, side: str) -> DataFrame:
    entries = []
    for f in df.schema.fields:
        e = _canon_expr(f.name, f.dataType)
        if e is not None:
            entries.append(
                F.struct(F.lit(f.name).alias(side), e.alias("v"))
            )
    return (
        df.select(F.explode(F.array(*entries)).alias("e"))
        .select(f"e.{side}", "e.v")
        .where(F.col("v").isNotNull())
        .distinct()
    )


def schema_match(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """Schema-matching suggestions between two sources — the
    column-correspondence half of data integration (the reference
    harmonizes by EXACT normalized name only, ref:22; this proposes
    the pairings a human would otherwise hand-write).

    Evidence per candidate pair (same type family only):

    - ``name_sim``: 1 - levenshtein/max_len over prefix-stripped
      normalized names (schema metadata, computed driver-side —
      bounded by ncols^2, never touches data);
    - ``jaccard``: distinct-value overlap |A∩B| / |A∪B| via ONE
      unpivot per table (explode to (col, canonical_value), distinct)
      and ONE value-keyed join that scores ALL column pairs at once —
      no per-pair jobs, which is what keeps wide schemas cheap at
      100 TB (cost is the two distincts + one join, not
      O(ncols^2) scans);
    - ``score`` = round(0.6*jaccard + 0.4*name_sim, 6).

    Output: (col_a, col_b, n_a, n_b, n_common, jaccard, name_sim,
    score) for every type-compatible pair.
    """
    spark = df_a.sparkSession
    meta = []
    for fa in df_a.schema.fields:
        for fb in df_b.schema.fields:
            famA, famB = _type_family(fa.dataType), _type_family(fb.dataType)
            if famA != famB or famA == "other":
                continue
            meta.append(
                (fa.name, fb.name, float(name_similarity(fa.name, fb.name)))
            )
    pairs = spark.createDataFrame(
        meta, "col_a string, col_b string, name_sim double"
    )
    va = _canon_values(df_a, "col_a")
    vb = _canon_values(df_b, "col_b")
    inter = va.join(vb, "v").groupBy("col_a", "col_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    na = va.groupBy("col_a").agg(F.count(F.lit(1)).alias("n_a"))
    nb = vb.groupBy("col_b").agg(F.count(F.lit(1)).alias("n_b"))
    out = (
        pairs.join(na, "col_a", "left")
        .join(nb, "col_b", "left")
        .join(inter, ["col_a", "col_b"], "left")
    )
    jac = F.when(
        F.col("n_a").isNotNull() & F.col("n_b").isNotNull(),
        F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
        / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_common"), F.lit(0))),
    )
    return out.select(
        "col_a",
        "col_b",
        "n_a",
        "n_b",
        F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
        F.round(jac, 6).alias("jaccard"),
        F.round("name_sim", 6).alias("name_sim"),
        F.round(
            0.6 * F.coalesce(jac, F.lit(0.0)) + 0.4 * F.col("name_sim"), 6
        ).alias("score"),
    )
