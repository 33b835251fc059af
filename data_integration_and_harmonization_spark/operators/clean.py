"""Cleaning pipeline (reference ``process_data``, ref:26-33).

C1 lossy numeric coercion     (ref:27-28)  -> try_cast to double
C2 +/-inf (and NaN) -> null   (ref:29)     -> when/otherwise fold
C3 linear interpolation       (ref:30)     -> distributed window repair
C4 forward fill               (ref:31)     -> distributed window repair
C5 drop all-null columns      (ref:32)     -> single agg pass + drop

Scale design for C3/C4 (SURVEY §4): pandas defines both over ONE
global row order. A naive ``Window.orderBy(idx)`` with no partitioning
collapses to a single task — correct, but serial. The engine instead
range-partitions on the order column, repairs each partition locally
with per-partition windows, and fixes partition edges with a tiny
boundary-exchange table (one row per partition, collected and
broadcast back). Every stage stays parallel.

Shuffle budget (honest count, visible in the executed plan): TWO
full-data exchanges — the range shuffle that establishes the global
order, plus one hash exchange on the partition id that Catalyst
inserts to satisfy the window's clustering requirement (range
partitioning on the key provably co-locates each pid, but Catalyst
cannot use that fact). The alternative — eliding the second exchange
by streaming each partition through ``mapInPandas`` — moves the full
dataset across the JVM/Arrow/Python boundary instead. Measured at
sf0.1 (600k rows x 7 cols, warm): window path ~2.3 s, Arrow path
~1.8-2.3 s *before* its boundary-anchor logic — parity, not a win.
The JVM path is kept because its advantages are structural, not
local: shuffle/sort spill to disk under memory pressure (Python
worker state does not), the window expressions fuse into codegen
with downstream projections, and no per-executor Python workers are
needed on the hot path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_integration_and_harmonization_spark.functions.caching import track

PID = "__dih_pid"


def numeric_cols(df: DataFrame) -> list[str]:
    """P3: names of numeric columns (``select_dtypes(np.number)``)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)]


def string_cols(df: DataFrame) -> list[str]:
    """P2: names of string columns (``select_dtypes('object')``)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


def coerce_numeric(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """C1 (ref:27-28): every string column -> ``try_cast(double)``.

    Parseable strings become doubles, everything else null — matching
    ``pd.to_numeric(errors='coerce')``. A pure-categorical column
    becomes all-null and is then dropped by :func:`drop_all_null_cols`,
    replicating the reference's (surprising but faithful)
    coerce-and-drop cascade. Use ``strict`` pipelines (skip this op)
    to keep strings instead.
    """
    targets = set(cols if cols is not None else string_cols(df))
    return df.select(
        *[
            F.col(c).try_cast("double").alias(c) if c in targets else F.col(c)
            for c in df.columns
        ]
    )


def coerce_numeric_locale(
    df: DataFrame, cols: Sequence[str] | None = None
) -> DataFrame:
    """Locale-aware numeric coercion — the harmonization-grade form of
    C1: upstream systems disagree on decimal/thousands separators
    ("1,234.56" US vs "1.234,56" EU vs "1234,56" comma-decimal), and a
    bare ``try_cast`` silently NULLs or misparses all but the US form.
    Deterministic disambiguation contract (mirrored verbatim in
    oracle SQL):

    1. BOTH separators present: the one occurring LAST is the decimal
       point; the other is grouping and is stripped.
    2. Only commas: a single comma followed by 1-2 digits at the end
       is a decimal comma; otherwise commas are grouping.
    3. Only dots: two or more ``.ddd`` groups are unambiguous EU
       grouping (stripped); a single dot stays a plain decimal.
    4. The canonicalized string goes through ``try_cast(double)`` —
       anything else is NULL (errors='coerce').

    ("1,234" is grouping under rule 2 — 3 trailing digits; "1,23" is a
    decimal. The genuinely ambiguous forms are resolved toward
    grouping, the more common intent in exported data.) Pure codegen
    projection: reverse/instr/translate/regexp per value, no shuffle.
    """
    targets = set(cols if cols is not None else string_cols(df))

    def canon(name: str):
        c = F.col(name)
        rc = F.reverse(c)
        pc = F.instr(rc, ",")
        pdot = F.instr(rc, ".")
        both = (pc > 0) & (pdot > 0)
        return (
            F.when(
                both & (pc < pdot),
                # comma is last -> decimal comma, dots group
                F.regexp_replace(F.translate(c, ".", ""), ",", "."),
            )
            .when(both, F.translate(c, ",", ""))  # dot is last -> commas group
            .when(
                (pc > 0) & c.rlike(r"^-?\d+,\d{1,2}$"),
                F.regexp_replace(c, ",", "."),
            )
            .when(pc > 0, F.translate(c, ",", ""))
            .when(
                (pdot > 0) & c.rlike(r"^-?\d{1,3}(\.\d{3}){2,}$"),
                F.translate(c, ".", ""),
            )
            .otherwise(c)
            .try_cast("double")
            .alias(name)
        )

    return df.select(
        *[canon(c) if c in targets else F.col(c) for c in df.columns]
    )


# Multi-format timestamp coercion: the chain ORDER is part of the
# contract (first matching format wins) — most-specific first so a
# dateTIME string is never half-consumed by a date-only pattern (both
# Spark's try_to_timestamp and DuckDB's try_strptime are strict:
# leftover input OR missing pattern fields -> NULL, verified on this
# environment). Each entry pairs the Spark pattern with its strptime
# twin so oracle SQL replays the identical chain.
TIMESTAMP_FORMATS: list[tuple[str, str]] = [
    ("yyyy-MM-dd HH:mm:ss", "%Y-%m-%d %H:%M:%S"),
    ("MM/dd/yyyy", "%m/%d/%Y"),
    ("yyyy-MM-dd", "%Y-%m-%d"),
]


def coerce_timestamps(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Messy-string -> timestamp coercion, the temporal sibling of C1
    :func:`coerce_numeric` (the reference parses timestamps only
    implicitly via pandas read-time inference, ref:176-177; an
    integration engine meeting N upstream systems needs an explicit,
    deterministic multi-format chain). Each target column is replaced
    by ``coalesce(try_to_timestamp(c, f) for f in TIMESTAMP_FORMATS)`` —
    per-format strictness means a value parses under exactly the
    first format that fully consumes it, unparseable values become
    NULL (pd.to_datetime(errors='coerce') semantics).

    Pure whole-stage-codegen projection — k strict parse attempts per
    value, no shuffle, no UDF; at 100 TB this runs at scan speed.
    """
    fmts = [f for f, _ in TIMESTAMP_FORMATS]
    targets = set(cols)
    return df.select(
        *[
            F.coalesce(
                *[F.try_to_timestamp(F.col(c), F.lit(f)) for f in fmts]
            ).alias(c)
            if c in targets
            else F.col(c)
            for c in df.columns
        ]
    )


def inf_nan_to_null(df: DataFrame) -> DataFrame:
    """C2 (ref:29): fold +/-inf AND NaN to null on float/double columns.

    The reference maps inf->NaN; Spark distinguishes NaN from null, and
    null is what ``ignorenulls`` window semantics and ``corr``/``avg``
    aggregates skip — so the engine normalizes both to null at this
    boundary (SURVEY §1).
    """
    floaty = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.FloatType, T.DoubleType))
    }
    inf = float("inf")

    def fold(c: str):
        col = F.col(c)
        return (
            F.when(F.isnan(col) | (col == inf) | (col == -inf), F.lit(None)).otherwise(col).alias(c)
        )

    return df.select(*[fold(c) if c in floaty else F.col(c) for c in df.columns])


def drop_all_null_cols(df: DataFrame) -> DataFrame:
    """C5 (ref:32): drop columns whose every value is null.

    One aggregation pass counting non-nulls for ALL columns at once
    (map-side combinable), then a driver-side drop decision — never a
    per-column job.
    """
    if not df.columns:
        return df
    counts = df.agg(
        *[F.count(F.col(c)).alias(c) for c in df.columns]
    ).first()
    dead = [c for c in df.columns if counts[c] == 0]
    return df.drop(*dead) if dead else df


def _valid(c: str, dtype: T.DataType):
    col = F.col(c)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return col.isNotNull() & ~F.isnan(col)
    return col.isNotNull()


RN = "__dih_rn"


def _as_cols(order_cols: str | Sequence[str]) -> list[str]:
    return [order_cols] if isinstance(order_cols, str) else list(order_cols)


def _repair_plan(
    df: DataFrame,
    order_cols: str | Sequence[str],
    cols: Sequence[str],
    num_partitions: int | None,
    pre_partitioned: bool = False,
):
    """Shared machinery for interpolate/ffill, fused to ONE range
    shuffle + ONE persist + ONE driver collect:

    1. range-partition on the ordering key; per-partition ``row_number``
       gives a local rank (pandas positional semantics come from ranks,
       not key values — pandas' linear interpolation treats rows as
       equally spaced regardless of index).
    2. per-partition prev/next valid (value, rank) anchors via local
       windows — all narrow, no cross-partition traffic.
    3. one tiny collect: per-partition row counts AND first/last valid
       anchors per column (one row per partition). Driver turns counts
       into global offsets and anchors into cross-partition carries,
       broadcast back as a partition-id-keyed table.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    ob_asc = [F.col(c) for c in _as_cols(order_cols)]
    ob_desc = [F.col(c).desc() for c in _as_cols(order_cols)]

    # ``pre_partitioned``: caller guarantees (a) partition i holds keys
    # strictly below partition i+1 (ascending contiguous ranges) AND
    # (b) the lineage re-executes deterministically (persisted, or pure
    # narrow ops over a persisted/deterministic source).
    # ``with_global_index`` output QUALIFIES: it is window-free
    # (sortWithinPartitions + per-partition counters after one range
    # shuffle), persisted, and stays physically range-partitioned.
    # What does NOT qualify: any frame that has been hash-shuffled
    # since its range shuffle (a groupBy/join/window over different
    # keys), even if its rows still LOOK ordered when collected.
    if pre_partitioned:
        part = df.withColumn(PID, F.spark_partition_id())
    else:
        part = df.repartitionByRange(n, *ob_asc).withColumn(PID, F.spark_partition_id())
    part = part.withColumn(RN, F.row_number().over(Window.partitionBy(PID).orderBy(*ob_asc)))
    fwd = Window.partitionBy(PID).orderBy(*ob_asc).rowsBetween(Window.unboundedPreceding, 0)
    bwd = Window.partitionBy(PID).orderBy(*ob_desc).rowsBetween(Window.unboundedPreceding, 0)

    proj = [part[c] for c in part.columns]
    for c in cols:
        v = _valid(c, dtypes[c])
        val = F.when(v, F.col(c).cast("double"))
        rnv = F.when(v, F.col(RN).cast("double"))
        proj += [
            F.last(val, ignorenulls=True).over(fwd).alias(f"__pv_{c}"),
            F.last(rnv, ignorenulls=True).over(fwd).alias(f"__pp_{c}"),
            F.last(val, ignorenulls=True).over(bwd).alias(f"__nv_{c}"),
            F.last(rnv, ignorenulls=True).over(bwd).alias(f"__np_{c}"),
        ]
    part = part.select(*proj)
    # Pin one physical partitioning: repartitionByRange re-samples range
    # boundaries on EVERY job, and the edge-collect below plus the
    # caller's final action must see the SAME partitions. (Skipped for
    # pre-partitioned input, whose lineage is already deterministic.)
    # Tracked for release at the next query boundary (caching.py).
    if not pre_partitioned:
        part = track(part.persist())

    # The single boundary-exchange collect: one row per partition.
    aggs = [F.count(F.lit(1)).alias("__cnt")]
    for c in cols:
        v = _valid(c, dtypes[c])
        anchored = F.when(
            v,
            F.struct(F.col(RN).cast("double").alias("p"), F.col(c).cast("double").alias("v")),
        )
        aggs += [F.max(anchored).alias(f"last_{c}"), F.min(anchored).alias(f"first_{c}")]
    edges = {r[PID]: r for r in part.groupBy(PID).agg(*aggs).collect()}

    pids = sorted(edges)
    offsets: dict[int, int] = {}
    acc = 0
    for pid in pids:
        offsets[pid] = acc
        acc += edges[pid]["__cnt"]

    def glob(q: int, anchor) -> float:
        # partition-local 1-based rank -> global 0-based position
        return float(offsets[q] + anchor["p"] - 1)

    carry_rows = []
    for i, pid in enumerate(pids):
        row: list = [int(pid), int(offsets[pid])]
        for c in cols:
            prev = next_ = None
            prev_q = next_q = None
            for q in reversed(pids[:i]):
                if edges[q][f"last_{c}"] is not None:
                    prev, prev_q = edges[q][f"last_{c}"], q
                    break
            for q in pids[i + 1 :]:
                if edges[q][f"first_{c}"] is not None:
                    next_, next_q = edges[q][f"first_{c}"], q
                    break
            row += [
                glob(prev_q, prev) if prev else None,
                float(prev["v"]) if prev else None,
                glob(next_q, next_) if next_ else None,
                float(next_["v"]) if next_ else None,
            ]
        carry_rows.append(tuple(row))

    fields = [f"{PID} int", "__off long"]
    for c in cols:
        fields += [
            f"__cpp_{c} double", f"__cpv_{c} double", f"__cnp_{c} double", f"__cnv_{c} double"
        ]
    carry = spark.createDataFrame(carry_rows, ", ".join(fields))
    return part.join(F.broadcast(carry), PID), dtypes


def _repaired(c: str, dtype: str) -> tuple[Column, Column]:
    """(interpolated, forward-filled) ``c`` over the valid-value
    anchors :func:`_repair_plan` staged.

    Positions are global and 0-based: partition-local anchors are
    shifted by the partition offset, carries from other partitions are
    already global. A valid value passes through; otherwise the
    interpolation needs both neighbors and clamps to whichever exists,
    and the fill takes the previous one.
    """
    value = F.col(c).cast("double")
    pos = (F.col("__off") + F.col(RN) - 1).cast("double")
    pv = F.coalesce(F.col(f"__pv_{c}"), F.col(f"__cpv_{c}"))
    pp = F.coalesce(F.col("__off") + F.col(f"__pp_{c}") - 1, F.col(f"__cpp_{c}"))
    nv = F.coalesce(F.col(f"__nv_{c}"), F.col(f"__cnv_{c}"))
    np_ = F.coalesce(F.col("__off") + F.col(f"__np_{c}") - 1, F.col(f"__cnp_{c}"))
    interp = pv + (nv - pv) * (pos - pp) / (np_ - pp)
    is_valid = _valid(c, dtype)
    return (
        F.when(is_valid, value)
        .when(pv.isNotNull() & nv.isNotNull(), interp)
        .otherwise(F.coalesce(pv, nv)),
        F.when(is_valid, value).otherwise(pv),
    )


def interpolate_linear(
    df: DataFrame,
    order_col: str | Sequence[str],
    cols: Sequence[str] | None = None,
    num_partitions: int | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """C3 (ref:30): pandas ``interpolate(method='linear',
    limit_direction='both')`` over the global ``order_col`` order.

    - interior null runs: POSITIONAL linear interpolation between the
      nearest valid neighbors — pandas ``method='linear'`` treats rows
      as equally spaced, so weights come from global rank positions
      (synthesized inside the repair plan), not key values;
    - leading/trailing nulls: clamped to the first/last valid value
      (verified pandas behavior — no extrapolation).

    Fully parallel: per-partition windows + broadcast boundary anchors.
    """
    cols = list(cols if cols is not None else numeric_cols(df))
    joined, dtypes = _repair_plan(
        df, order_col, cols, num_partitions, pre_partitioned=pre_partitioned
    )
    return joined.select(
        *[_repaired(c, dtypes[c])[0].alias(c) if c in cols else F.col(c) for c in df.columns]
    )


def interpolate_and_ffill(
    df: DataFrame,
    order_col: str | Sequence[str],
    cols: Sequence[str] | None = None,
    num_partitions: int | None = None,
    pre_partitioned: bool = False,
    interp_suffix: str = "__interp",
    ffill_suffix: str = "__ffill",
) -> DataFrame:
    """C3 + C4 in ONE repair pass: both pandas ``interpolate(
    method='linear', limit_direction='both')`` and ``ffill`` derive
    from the same prev/next valid-anchor windows, so computing them
    together costs one range shuffle + one boundary exchange total —
    half of running two separate repair passes. The ffill column keeps
    pandas semantics: nulls take the last prior valid value, leading
    nulls stay null.

    Adds ``<c><interp_suffix>`` and ``<c><ffill_suffix>`` for each
    repaired column; the original columns pass through unchanged.
    """
    cols = list(cols if cols is not None else numeric_cols(df))
    joined, dtypes = _repair_plan(
        df, order_col, cols, num_partitions, pre_partitioned=pre_partitioned
    )
    out_cols = [F.col(c) for c in df.columns]
    for c in cols:
        interp, filled = _repaired(c, dtypes[c])
        out_cols += [interp.alias(f"{c}{interp_suffix}"), filled.alias(f"{c}{ffill_suffix}")]
    return joined.select(*out_cols)


def process_data(
    df: DataFrame,
    order_col: str | Sequence[str],
    coerce: bool = True,
) -> DataFrame:
    """The full ref:26-33 pipeline as one lazy plan: coerce -> inf/nan
    fold -> interpolate -> ffill -> drop dead columns. ``coerce=False``
    is strict mode (string columns survive). Summary statistics (ref:33)
    live in :mod:`..operators.profile` as an explicit separate action.
    """
    out = coerce_numeric(df) if coerce else df
    out = inf_nan_to_null(out)
    repair = [c for c in numeric_cols(out) if c not in _as_cols(order_col)]
    out = interpolate_linear(out, order_col, repair)
    # ref:31's ffill is provably a no-op after both-direction
    # interpolation (any column with >=1 valid value is fully repaired;
    # all-null columns are un-fillable and dropped next), so the
    # pipeline skips its extra shuffle. interpolate_and_ffill's ffill
    # column keeps exact pandas ffill semantics where a caller needs it.
    return drop_all_null_cols(out)
