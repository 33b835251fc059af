"""Profiling aggregations (reference C6 ``describe(include='all')``
ref:33, and A6 correlation matrix ref:153-157).

All single-pass or two-pass whole-table aggregations — map-side
combinable, no per-column jobs, no driver loops over data.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.functions import stores
from data_integration_and_harmonization_spark.operators.clean import numeric_cols, string_cols


def describe_numeric(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Numeric side of ref:33 ``describe``: one row per column with
    ``count, mean, std, min, 25%, 50%, 75%, max``.

    pandas uses sample std (ddof=1) and linearly-interpolated
    quantiles; Spark's ``stddev`` and exact ``percentile`` match both.

    Output: (column, count, mean, std, min, p25, p50, p75, max).
    """
    cols = list(cols if cols is not None else numeric_cols(df))
    aggs = []
    for c in cols:
        col = F.col(c).cast("double")
        aggs.append(
            F.struct(
                F.count(col).alias("count"),
                F.avg(col).alias("mean"),
                F.stddev(col).alias("std"),
                F.min(col).alias("min"),
                F.percentile(col, F.lit(0.25)).alias("p25"),
                F.percentile(col, F.lit(0.5)).alias("p50"),
                F.percentile(col, F.lit(0.75)).alias("p75"),
                F.max(col).alias("max"),
            ).alias(c)
        )
    row = df.agg(*aggs)
    # Unpivot the single stats row to long format: one output row per column.
    stacked = row.select(
        F.explode(
            F.array(*[F.struct(F.lit(c).alias("column"), F.col(c).alias("s")) for c in cols])
        ).alias("e")
    )
    return stacked.select(
        F.col("e.column").alias("column"),
        F.col("e.s.count").alias("count"),
        F.col("e.s.mean").alias("mean"),
        F.col("e.s.std").alias("std"),
        F.col("e.s.min").alias("min"),
        F.col("e.s.p25").alias("p25"),
        F.col("e.s.p50").alias("p50"),
        F.col("e.s.p75").alias("p75"),
        F.col("e.s.max").alias("max"),
    )


def describe_object(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Object side of ref:33 ``describe``: per string column
    ``count, unique, top, freq``.

    ``top`` tie-break: pandas' is arbitrary (hash order); the engine
    pins lexicographically-smallest-among-most-frequent so results are
    deterministic and oracle-checkable (documented divergence).

    One grouped count per column, unioned into a single plan; each
    ``groupBy(c)`` is a standard partial-agg shuffle on that column.
    """
    cols = list(cols if cols is not None else string_cols(df))
    if not cols:
        return df.sparkSession.createDataFrame(
            [], "column string, count long, unique long, top string, freq long"
        )
    per_col = []
    for c in cols:
        counts = (
            df.where(F.col(c).isNotNull())
            .groupBy(F.col(c).alias("value"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        per_col.append(
            counts.agg(
                F.lit(c).alias("column"),
                F.sum("n").alias("count"),
                F.count(F.lit(1)).alias("unique"),
                # min over (-n, value): highest count, then smallest value
                F.min_by("value", F.struct((-F.col("n")).alias("nn"), F.col("value"))).alias("top"),
                F.max("n").alias("freq"),
            )
        )
    return reduce(DataFrame.unionByName, per_col)


def corr_matrix(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """A6 (ref:153-157): Pearson correlation of every numeric column
    pair, pairwise-complete null handling, as ONE aggregation pass.

    Spark's ``corr`` aggregate skips null pairs — exactly pandas'
    pairwise-complete semantics. (``ml.stat.Correlation`` on an
    assembled vector does listwise deletion and would NOT match.)

    The reference computes this via ``data.corr()`` as an O(cols^2)
    pandas pass; here all C(n,2) cells are computed in a single
    map-side-combinable agg over one scan.

    Output long format: (col_x, col_y, corr) for x <= y.
    """
    cols = list(cols if cols is not None else numeric_cols(df))
    aggs = []
    names = []
    for i, ci in enumerate(cols):
        for cj in cols[i:]:
            names.append((ci, cj))
            aggs.append(F.corr(F.col(ci).cast("double"), F.col(cj).cast("double")).alias(f"__c_{len(names)}"))
    row = df.agg(*aggs)
    pairs = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("col_x"),
                        F.lit(cj).alias("col_y"),
                        F.col(f"__c_{k + 1}").alias("corr"),
                    )
                    for k, (ci, cj) in enumerate(names)
                ]
            )
        ).alias("e")
    )
    return pairs.select("e.col_x", "e.col_y", "e.corr")


def drift_report(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Distribution-drift report between two snapshots of the same
    column (engine extension — the data-contract check a recurring
    ingestion runs before accepting a new corpus version; SURVEY §2.8).

    Shared fixed-width bin edges come from the COMBINED min/max (one
    bounded agg, broadcast), then one grouped count per (side, bin):

    - per-bin shares ``p``/``q`` (raw, not floored),
    - **PSI** = sum (p'-q')*ln(p'/q') with both shares floored at
      ``eps`` (the standard population-stability-index guard against
      empty bins; bins empty on BOTH sides contribute exactly 0, so
      omitting them is value-identical),
    - **KS** (binned) = max |cum_p - cum_q| over bin boundaries,
    - **TVD** = 0.5 * sum |p - q|.

    Scale shape: two whole-table passes (min/max, then the grouped
    count), everything after runs on <= 2*bins rows. The KS cumulative
    window is a single partition of <= bins rows — bounded by the
    ``bins`` constant, not the data. All arithmetic is plain double
    division/log of exact integer counts, so any engine reproduces the
    values bit-for-bit.

    Output: (kind, bucket, value) — kind in p/q/psi/ks/tvd; bucket is
    -1 on the three verdict rows.
    """
    from pyspark.sql.window import Window

    u = df_a.select(F.lit(0).alias("side"), F.col(col).cast("double").alias("x")).unionByName(
        df_b.select(F.lit(1).alias("side"), F.col(col).cast("double").alias("x"))
    ).where(F.col("x").isNotNull())
    stats = u.agg(F.min("x").alias("__mn"), F.max("x").alias("__mx"))
    width = (F.col("__mx") - F.col("__mn")) / F.lit(float(bins))
    bucket = F.when(F.col("__mx") == F.col("__mn"), F.lit(0)).otherwise(
        F.least(F.floor((F.col("x") - F.col("__mn")) / width), F.lit(bins - 1))
    )
    counts = (
        u.crossJoin(F.broadcast(stats))
        .groupBy("side", bucket.cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    by_bin = counts.groupBy("bucket").agg(
        F.sum(F.when(F.col("side") == 0, F.col("n")).otherwise(F.lit(0)))
        .cast("double")
        .alias("n0"),
        F.sum(F.when(F.col("side") == 1, F.col("n")).otherwise(F.lit(0)))
        .cast("double")
        .alias("n1"),
    )
    totals = by_bin.agg(
        F.sum("n0").alias("t0"), F.sum("n1").alias("t1")
    )
    pq = by_bin.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (F.col("n0") / F.col("t0")).alias("p"),
        (F.col("n1") / F.col("t1")).alias("q"),
    )
    # ONE linear plan: a union of per-kind selects would re-execute
    # the two whole-table passes once per branch, so instead the
    # verdict scalars ride every row as full-frame window aggregates
    # (the frame is <= bins rows) and explode only from bucket 0 —
    # which always exists, the combined minimum lands there.
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wfull = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pf = F.greatest(F.col("p"), F.lit(eps))
    qf = F.greatest(F.col("q"), F.lit(eps))
    cum = pq.select(
        "bucket",
        "p",
        "q",
        F.abs(F.sum("p").over(w) - F.sum("q").over(w)).alias("cdiff"),
    ).select(
        "bucket",
        "p",
        "q",
        F.round(F.sum((pf - qf) * F.log(pf / qf)).over(wfull), 6).alias("psi"),
        F.round(F.max("cdiff").over(wfull), 6).alias("ks"),
        F.round(F.sum(F.abs(F.col("p") - F.col("q"))).over(wfull) / 2.0, 6).alias("tvd"),
    )

    def _row(kind: str, bucket, value) -> F.Column:
        return F.struct(
            F.lit(kind).alias("kind"),
            bucket.cast("long").alias("bucket"),
            value.alias("value"),
        )

    base = F.array(
        _row("p", F.col("bucket"), F.round("p", 6)),
        _row("q", F.col("bucket"), F.round("q", 6)),
    )
    with_verdicts = F.concat(
        base,
        F.array(
            _row("psi", F.lit(-1), F.col("psi")),
            _row("ks", F.lit(-1), F.col("ks")),
            _row("tvd", F.lit(-1), F.col("tvd")),
        ),
    )
    return (
        cum.select(
            F.explode(
                F.when(F.col("bucket") == 0, with_verdicts).otherwise(base)
            ).alias("e")
        ).select("e.kind", "e.bucket", "e.value")
    )


def dq_report(df: DataFrame, rules: Sequence[tuple]) -> DataFrame:
    """Declarative data-quality checks (engine extension — the
    Deequ/dbt-test family: the validation gate an integration pipeline
    runs before publishing a harmonized table).

    ``rules`` is a list of specs:

    - ``("not_null", col)`` — null count violates;
    - ``("unique", col)`` — duplicate-occurrence count violates
      (rows with a null key are not checked, matching ANSI
      ``count(DISTINCT ...)``);
    - ``("in_range", col, lo, hi)`` — non-null values outside
      [lo, hi] violate;
    - ``("accepted", col, values)`` — non-null values outside the
      accepted set violate;
    - ``("expr", name, sql_predicate)`` — Deequ ``satisfies()`` /
      dbt custom test: any row where the SQL boolean is NOT TRUE
      (false or NULL) violates — cross-column business rules
      ("discount only on large orders") without a new rule kind per
      shape. The predicate string doubles as documentation and is
      trivially replayable by an external SQL engine.

    ALL rules compile into ONE map-side-combinable aggregate pass
    (conditional counts + count-distincts), exploded into one row per
    rule — adding a rule never adds a scan. Output: (rule, col_name,
    n_checked, n_violations, violation_rate, ok).
    """
    aggs = []
    metas = []
    for i, spec in enumerate(rules):
        kind, col = spec[0], spec[1]
        c = F.col(col)
        if kind == "not_null":
            checked = F.count(F.lit(1))
            viol = F.count(F.when(c.isNull(), 1))
        elif kind == "unique":
            checked = F.count(c)
            viol = F.count(c) - F.countDistinct(c)
        elif kind == "in_range":
            lo, hi = spec[2], spec[3]
            checked = F.count(c)
            viol = F.count(F.when((c < F.lit(lo)) | (c > F.lit(hi)), 1))
        elif kind == "accepted":
            vals = list(spec[2])
            checked = F.count(c)
            viol = F.count(F.when(~c.isin(vals), 1))
        elif kind == "expr":
            # spec = ("expr", name, sql_predicate): col is the NAME
            pred = F.expr(spec[2])
            checked = F.count(F.lit(1))
            # NOT TRUE (false or NULL) violates: a predicate that
            # cannot be evaluated for a row is not satisfied by it
            viol = F.count(F.when(~F.coalesce(pred, F.lit(False)), 1))
        else:
            raise ValueError(f"unknown dq rule kind: {kind}")
        aggs.append(checked.cast("long").alias(f"__c{i}"))
        aggs.append(viol.cast("long").alias(f"__v{i}"))
        metas.append((f"{kind}:{col}", col))
    row = df.agg(*aggs)
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.lit(col).alias("col_name"),
                        F.col(f"__c{i}").alias("n_checked"),
                        F.col(f"__v{i}").alias("n_violations"),
                        F.round(
                            F.col(f"__v{i}")
                            / F.when(F.col(f"__c{i}") > 0, F.col(f"__c{i}")).otherwise(F.lit(1)),
                            6,
                        ).alias("violation_rate"),
                        (F.col(f"__v{i}") == 0).cast("long").alias("ok"),
                    )
                    for i, (name, col) in enumerate(metas)
                ]
            )
        ).alias("e")
    ).select("e.*")


def dq_split(
    df: DataFrame, rules: Sequence[tuple], viol_col: str = "__dq_violations"
) -> tuple[DataFrame, DataFrame]:
    """Row-level routing for the :func:`dq_report` rule family — the
    Deequ "row-level results" / dbt ``store_failures`` shape: every
    row is annotated with the ARRAY of rule names it violates, then
    split into (passed, quarantined). A publishing pipeline writes
    ``passed`` to the table and ``quarantined`` (with its violation
    labels) to a review sink — violations are never silently dropped
    and never poison the published table.

    Same rule specs as :func:`dq_report`. Scale shape: the
    single-column rules (not_null / in_range / accepted) are pure row
    predicates fused into one projection; each ``unique`` rule adds
    one duplicate-key aggregate + one left join against the (tiny)
    duplicated-key set — rows of a duplicated key are ALL quarantined
    (the row-level reading of uniqueness: no row of an ambiguous key
    is publishable). Nothing is collected.

    Returns (passed, quarantined): ``passed`` has the original
    columns; ``quarantined`` carries ``viol_col`` (array<string>,
    non-empty).
    """
    out = df
    conds = []
    for spec in rules:
        kind, col = spec[0], spec[1]
        c = F.col(col)
        name = f"{kind}:{col}"
        if kind == "not_null":
            conds.append(F.when(c.isNull(), name))
        elif kind == "in_range":
            lo, hi = spec[2], spec[3]
            conds.append(
                F.when(c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi))), name)
            )
        elif kind == "accepted":
            vals = list(spec[2])
            conds.append(F.when(c.isNotNull() & ~c.isin(vals), name))
        elif kind == "expr":
            # spec = ("expr", name, sql_predicate); NOT TRUE violates,
            # matching dq_report's reading of unsatisfiable rows
            conds.append(
                F.when(~F.coalesce(F.expr(spec[2]), F.lit(False)), name)
            )
        elif kind == "unique":
            marker = f"__dq_dup_{col}"
            dups = (
                df.where(c.isNotNull())
                .groupBy(col)
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > 1)
                .select(col, F.lit(1).alias(marker))
            )
            out = out.join(dups, col, "left")
            conds.append(F.when(F.col(marker).isNotNull(), name))
        else:
            raise ValueError(f"unknown dq rule kind: {kind}")
    out = out.withColumn(viol_col, F.array_compact(F.array(*conds)))
    out = out.drop(*[c for c in out.columns if c.startswith("__dq_dup_")])
    passed = out.where(F.size(viol_col) == 0).drop(viol_col)
    quarantined = out.where(F.size(viol_col) > 0)
    return passed, quarantined


def dq_ref_integrity(
    child: DataFrame, fk: str, parent: DataFrame, pk: str
) -> DataFrame:
    """Referential-integrity check: non-null foreign-key values with
    no match in the parent key set. One left-anti join against the
    DISTINCT parent keys (broadcast when small, shuffle otherwise —
    Catalyst/AQE decides), then a bounded global count. Same output
    shape as :func:`dq_report` rows."""
    orphans = (
        child.select(F.col(fk)).where(F.col(fk).isNotNull())
        .join(
            parent.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti"
        )
    )
    tot = child.select(F.col(fk)).where(F.col(fk).isNotNull())
    stats = orphans.agg(F.count(F.lit(1)).alias("__v")).crossJoin(
        F.broadcast(tot.agg(F.count(F.lit(1)).alias("__c")))
    )
    return stats.select(
        F.lit(f"ref_integrity:{fk}").alias("rule"),
        F.lit(fk).alias("col_name"),
        F.col("__c").cast("long").alias("n_checked"),
        F.col("__v").cast("long").alias("n_violations"),
        F.round(
            F.col("__v") / F.when(F.col("__c") > 0, F.col("__c")).otherwise(F.lit(1)), 6
        ).alias("violation_rate"),
        (F.col("__v") == 0).cast("long").alias("ok"),
    )


def fd_report(df: DataFrame, pairs: Sequence[tuple]) -> DataFrame:
    """Functional-dependency audit — the schema-discovery primitive of
    classical data integration (key detection, normalization checks,
    merge-correctness preconditions): for each (determinant ->
    dependent) pair, does every determinant value map to exactly one
    dependent value? Reported in the :func:`dq_report` row shape so
    FD rows compose with the rule families.

    ``pairs``: sequence of (det, dep) where det is a column name or a
    list of names (composite determinants). A violating GROUP is one
    determinant value with >= 2 distinct dependent values; the rate is
    violating groups / groups (group-level, matching how FD discovery
    literature scores approximate FDs).

    Scale shape: one map-combinable two-level aggregation per pair —
    groupBy(det).agg(count(DISTINCT dep)) then a bounded global
    rollup; nothing is collected, no joins. NULL determinant rows
    form their own group (SQL grouping semantics); NULL dependents
    count as a distinct value only alongside non-NULLs (count
    DISTINCT ignores NULL — two-sided NULL groups are single-valued,
    which is the lenient FD reading and is documented here).
    """
    if not pairs:
        # rows[0] below would otherwise raise a bare IndexError
        raise ValueError("fd_report needs at least one (det, dep) pair")
    rows = []
    for det, dep in pairs:
        det_cols = [det] if isinstance(det, str) else list(det)
        name = f"fd:{','.join(det_cols)}->{dep}"
        g = df.groupBy(*det_cols).agg(
            F.countDistinct(F.col(dep)).alias("__nd")
        )
        # empty-table reading (r9 advice): SUM over zero groups is
        # NULL — coalesce violations/rate to 0 and ok to 1 so the
        # degenerate case reads "vacuously holds", matching the
        # oracle's CASE WHEN v=0 ... ELSE 0 arms
        n_viol = F.coalesce(
            F.sum((F.col("__nd") > 1).cast("long")), F.lit(0)
        )
        rows.append(
            g.agg(
                F.lit(name).alias("rule"),
                F.lit(dep).alias("col_name"),
                F.count(F.lit(1)).cast("long").alias("n_checked"),
                n_viol.alias("n_violations"),
                F.round(
                    n_viol
                    / F.when(F.count(F.lit(1)) > 0, F.count(F.lit(1))).otherwise(
                        F.lit(1)
                    ),
                    6,
                ).alias("violation_rate"),
                (n_viol == 0).cast("long").alias("ok"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out



def _sketch_val(df: DataFrame, cols: Sequence[str]) -> dict:
    """Per-column sketchable expression: hll_sketch_agg accepts
    int/bigint/string/binary — other types profile through their
    canonical string form. BOTH the one-shot report and the store
    path read this SAME expression (and the exact twins alongside
    them), so their comparisons hold by construction."""
    ok_types = ("int", "bigint", "string", "binary")
    return {
        c: (
            F.col(c)
            if df.schema[c].dataType.simpleString() in ok_types
            else F.col(c).cast("string")
        )
        for c in cols
    }


def sketch_distinct_report(
    df: DataFrame,
    cols: Sequence[str],
    shard_key: str,
    n_shards: int = 32,
    lg_k: int = 12,
    rel_err: float = 0.05,
) -> DataFrame:
    """Mergeable-sketch cardinality profiling — the distinct-count a
    100-TB profile actually ships. Exact ``count(DISTINCT)`` is a
    full shuffle of every distinct value per column; the Datasketches
    HLL sketch (Spark's ``hll_sketch_agg``) is a fixed 2^lg_k-register
    summary whose union is register-wise max — associative and
    commutative — so 1000 executors each sketch their shard and the
    driver-side union is exact over the sketches: ONE tiny merge
    replaces the value shuffle.

    This report proves both halves on real data, per column:

    - ``est`` — the one-pass global sketch estimate (NOT exactly
      partition-independent: executor-side partial sketches merge in
      sparse or dense mode depending on each partition's cardinality,
      so the estimate can drift a few units across layouts — which is
      why downstream oracles pin the VERDICT columns, never ``est``),
    - ``merge_ok`` — the estimate rebuilt the distributed way (group
      by ``pmod(hash(shard_key), n_shards)``, one sketch per shard,
      ``hll_union_agg`` over the shard sketches) ALSO lands within
      ``rel_err`` of the exact count — the mergeability contract.
      (Bit-equality with the global sketch is deliberately NOT the
      check: a Datasketches HLL's representation depends on its build
      path — low-cardinality shard sketches stay in sparse
      exact-coupon mode, so their union can be MORE accurate than the
      one-shot dense sketch. Both paths must meet the error bound;
      neither must reproduce the other's rounding.)
    - ``n_exact`` + ``err_ok`` — the exact twin and the
      |est - exact| / exact <= rel_err agreement verdict. The exact
      twin is the validation-scale pin (same convention as the
      robust-scale fit): above validation scale a deployment drops
      it and keeps the sketch columns.

    Scale shape: one global agg (all columns fused, map-side partial
    sketches) + one grouped agg with <= n_shards output rows. Nothing
    corpus-sized is collected or shuffled.
    """
    val = _sketch_val(df, cols)
    shard = F.pmod(F.hash(F.col(shard_key)), F.lit(n_shards)).alias("__shard")
    per_shard = df.groupBy(shard).agg(
        *[F.hll_sketch_agg(val[c], lg_k).alias(f"sk_{c}") for c in cols]
    )
    merged = per_shard.agg(
        *[
            F.hll_sketch_estimate(F.hll_union_agg(F.col(f"sk_{c}"))).alias(
                f"m_{c}"
            )
            for c in cols
        ]
    )
    glob = df.agg(
        *[
            x
            for c in cols
            for x in (
                F.countDistinct(val[c]).alias(f"x_{c}"),
                F.hll_sketch_estimate(F.hll_sketch_agg(val[c], lg_k)).alias(
                    f"g_{c}"
                ),
            )
        ]
    )
    # one row per column via stack over the single joined 1-row frame
    # — NOT a union of per-column selects, which would re-execute both
    # aggregates once per column and add a plan branch (and a codegen
    # unit) per column to every query this report rides in
    both = glob.crossJoin(F.broadcast(merged))
    stacked = both.select(
        F.stack(
            F.lit(len(cols)),
            *[
                x
                for c in cols
                for x in (
                    F.lit(c),
                    F.col(f"x_{c}").cast("long"),
                    F.col(f"g_{c}"),
                    F.col(f"m_{c}"),
                )
            ],
        ).alias("col_name", "n_exact", "est", "m_est")
    )
    return stacked.select(
        "col_name",
        "n_exact",
        "est",
        (
            F.abs(F.col("m_est") - F.col("n_exact"))
            <= F.lit(rel_err) * F.col("n_exact")
        ).cast("long").alias("merge_ok"),
        (
            F.abs(F.col("est") - F.col("n_exact"))
            <= F.lit(rel_err) * F.col("n_exact")
        ).cast("long").alias("err_ok"),
    )


PROFILE_STORE_SCHEMA = "col_name string, sketch binary, n_nonnull long, n_rows long"


def profile_store_update(
    batch_df: DataFrame,
    store_path: str,
    cols: Sequence[str],
    lg_k: int = 12,
    tag: str | None = None,
) -> str:
    """Append ONE batch's mergeable profile to a sketch store — the
    incremental sibling of :func:`sketch_distinct_report`, and the
    profiling shape a continuously-ingesting corpus needs: per batch
    the store gains one ~KB row per column (HLL sketch + null/row
    counts); the corpus-wide profile is then a union over the store
    (:func:`profile_store_estimate`) that never rescans history —
    profiling cost is O(new batch), not O(corpus).

    Each batch is one parquet data dir committed through the engine's
    store protocol (:mod:`..functions.stores`, shared with the dedup
    stores): crashed writers stay invisible, the explicit dir list
    makes reads recompute-stable, and of two appends on the same head
    one raises ``CommitConflictError``. Returns the new batch
    directory.

    Scale shape: ONE map-side-combined aggregate over the batch
    (sketches + counts fused), melted to a column-per-row frame of
    fixed size — nothing batch-sized is collected or shuffled.

    An EMPTY batch is harmless: it writes rows with a NULL sketch and
    zero counts — ``hll_union_agg`` skips NULLs and the count sums add
    nothing, so estimates are unchanged (pinned by the empty-batch
    check in tests).

    ``tag`` makes the append IDEMPOTENT per logical batch: the
    committed entry carries the tag, and a batch the head already
    lists under it is returned without rewriting — the contract a
    streaming ``foreachBatch`` caller needs (a replayed micro-batch
    after a crash must not double the counts; pass the checkpointed
    batch_id as the tag).
    """
    spark = batch_df.sparkSession
    doc = stores.head(spark, store_path)
    if tag is not None:
        for f in doc["files"]:
            if f["tag"] == tag:
                return f["path"]  # replayed batch: already admitted
    val = _sketch_val(batch_df, cols)
    agg = batch_df.agg(
        *[
            x
            for c in cols
            for x in (
                F.hll_sketch_agg(val[c], lg_k).alias(f"sk_{c}"),
                F.count(val[c]).alias(f"nn_{c}"),
            )
        ],
        F.count(F.lit(1)).alias("__n"),
    )
    rows = agg.select(
        F.stack(
            F.lit(len(cols)),
            *[
                x
                for c in cols
                for x in (F.lit(c), F.col(f"sk_{c}"), F.col(f"nn_{c}"))
            ],
        ).alias("col_name", "sketch", "n_nonnull"),
        F.col("__n").alias("n_rows"),
    )
    out_dir = stores.new_dir(store_path, doc)
    rows.write.parquet(out_dir)
    stores.commit(
        spark, store_path, doc, doc["files"] + [{"path": out_dir, "tag": tag}]
    )
    return out_dir


def profile_store_estimate(spark, store_path: str) -> DataFrame:
    """Corpus-wide profile off the sketch store alone: per column the
    distinct-count estimate (register-max union over every batch's
    sketch — mergeability is exactly why the store can stand for the
    corpus), total non-null and row counts, and the batch count. One
    scan of a store that is ~KB per admitted batch."""
    batches = stores.complete_batches(spark, store_path)
    if not batches:
        raise FileNotFoundError(f"profile store {store_path!r} has no batches")
    rows = spark.read.schema(PROFILE_STORE_SCHEMA).parquet(*batches)
    return rows.groupBy("col_name").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_distinct"),
        F.sum("n_nonnull").alias("n_nonnull"),
        F.sum("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_batches"),
    )


def compact_profile_store(spark, store_path: str) -> dict:
    """Merge every batch of a profile store into ONE batch — the
    store-lifecycle sibling of ``compact_near_dedup_store``: after
    10^4 ingested batches the per-column profile is 10^4 sketch rows
    that every estimate re-unions; compaction folds them to one row
    per column (HLL union is lossless — register-wise max — and the
    counts are sums), preserving every future estimate exactly.

    The merged rows land in a new data dir, and ONE commit swaps the
    head's batch list for that dir, so no reader ever lists both the
    originals and their merge (counts are sums: double-listing would
    silently double the profile). A crash before the commit leaves the
    originals serving; after it, :func:`..functions.stores.reap`
    deletes every dir the new head does not list, including those a
    crashed writer or compactor left behind. Returns
    {'batches_before', 'out_dir', 'undeleted'}.
    """
    doc = stores.head(spark, store_path)
    batches = [f["path"] for f in doc["files"]]
    if not batches:
        raise FileNotFoundError(f"profile store {store_path!r} has no batches")
    rows = spark.read.schema(PROFILE_STORE_SCHEMA).parquet(*batches)
    merged = rows.groupBy("col_name").agg(
        F.hll_union_agg("sketch").alias("sketch"),
        F.sum("n_nonnull").alias("n_nonnull"),
        F.sum("n_rows").alias("n_rows"),
    )
    out_dir = stores.new_dir(store_path, doc)
    merged.write.parquet(out_dir)
    stores.commit(spark, store_path, doc, [{"path": out_dir, "tag": None}])
    return {
        "batches_before": len(batches),
        "out_dir": out_dir,
        "undeleted": stores.reap(spark, store_path),
    }
