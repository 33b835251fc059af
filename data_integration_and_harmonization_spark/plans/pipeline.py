"""End-to-end pipeline composition — the engine's public flow
mirroring the reference's EP1/EP2 (ref:160-233 / ref:20-52):

    ingest -> harmonize -> clean -> profile -> preprocess -> [train]

Where the reference eagerly materializes a pandas frame per arrow
(re-running EVERYTHING on every Streamlit interaction, ref:160-233),
the engine builds ONE lazy plan per stage chain and persists exactly
two checkpoints — the harmonized table and the cleaned table — the
two results every downstream consumer (profiling, EDA, ML) fans out
from. That replaces the reference's worst-case full recompute with
compute-once/reuse-many.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from data_integration_and_harmonization_spark.operators import clean as C
from data_integration_and_harmonization_spark.operators import features as FE
from data_integration_and_harmonization_spark.operators import harmonize as H
from data_integration_and_harmonization_spark.operators import profile as P
from data_integration_and_harmonization_spark.sources import readers as R


@dataclass
class HarmonizationResult:
    """Outputs of the harmonization flow (the reference returns
    (processed_data, summary_statistics, label_encoders) across
    ref:195-198; this is the engine's typed equivalent)."""

    harmonized: DataFrame
    cleaned: DataFrame
    preprocessed: DataFrame
    summary_numeric: DataFrame
    summary_object: DataFrame
    label_encoders: dict[str, DataFrame] = field(default_factory=dict)

    def unpersist(self) -> None:
        for df in (self.harmonized, self.cleaned):
            df.unpersist()


def run_harmonization_pipeline(
    spark: SparkSession,
    paths: Sequence[str] | None = None,
    dfs: Sequence[DataFrame] | None = None,
    coerce: bool = True,
    scale: bool = True,
    encode: bool = True,
) -> HarmonizationResult:
    """EP1/EP2 as one composition.

    ``coerce=True`` is reference-parity mode (C1's lossy numeric
    coercion, which silently drops pure-categorical columns via the
    C1+C5 cascade); ``coerce=False`` is strict mode — strings survive
    and get label-encoded instead.
    """
    if dfs is None:
        if not paths:
            raise ValueError("need paths or dfs")
        dfs = R.read_sources(spark, paths)

    harmonized = H.harmonize(dfs, add_ingest_index=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    cleaned = C.process_data(
        harmonized.drop(H.INGEST_SOURCE), order_col=H.INGEST_INDEX, coerce=coerce
    ).persist(StorageLevel.MEMORY_AND_DISK)

    profile_input = cleaned.drop(H.INGEST_INDEX)
    summary_numeric = P.describe_numeric(profile_input)
    summary_object = P.describe_object(profile_input)

    pre = cleaned
    encoders: dict[str, DataFrame] = {}
    if scale:
        pre = FE.zscore(pre, [c for c in C.numeric_cols(pre) if c != H.INGEST_INDEX])
    if encode:
        pre, encoders = FE.label_encode(pre)

    return HarmonizationResult(
        harmonized=harmonized,
        cleaned=cleaned,
        preprocessed=pre,
        summary_numeric=summary_numeric,
        summary_object=summary_object,
        label_encoders=encoders,
    )


def locale_money_str(col, eu: bool = False):
    """Sign-aware locale render of a 2-decimal money column, built from
    exact integer cents so any engine synthesizes byte-identical
    strings: plain "9999.99" (``eu=False`` — the funnel's 'plain
    format' source B, matching the oracle's ``ip::VARCHAR`` render
    byte for byte; r9 advice: the previous US-GROUPED render only
    happened to parse to the same double) or the grouped
    separator-swapped EU form "9.999,99" (``eu=True``)."""
    from pyspark.sql import functions as F

    cents = F.round(col * 100).cast("long")
    a = F.abs(cents)
    sign = F.when(cents < 0, F.lit("-")).otherwise(F.lit(""))
    ip = (a / 100).cast("long")
    fr = F.lpad((a % 100).cast("string"), 2, "0")
    if eu:
        body = F.translate(
            F.concat(F.format_number(ip, 0), F.lit("."), fr), ",.", ".,"
        )
    else:
        body = F.concat(ip.cast("string"), F.lit("."), fr)
    return F.concat(sign, body)


def integration_funnel(
    cust: DataFrame, key_col: str = "c_custkey"
) -> DataFrame:
    """The composed STRUCTURED-data integration story — the reference
    repo's actual domain, end to end on one pair of deliberately
    heterogeneous views of the same entity universe:

    1. source A (authoritative): even keys, messy pre-normalization
       column names, EU-locale balance strings ("9.999,99");
    2. source B (secondary): keys divisible by 3 (overlapping A on
       multiples of 6), different column names, plain-format balance
       strings of balance + 1000 — so conflict resolution is VISIBLE
       in the checksum, not just in counts;
    3. ``harmonize`` (P1 name normalization + U1 outer union by name),
    4. ``coerce_numeric_locale`` (separator disambiguation),
    5. golden records per key with source-precedence survivorship
       (``merge_entities`` first_non_null over the source rank: A wins
       where present, B fills the gaps).

    Returns one row per funnel stage: (stage, n_rows, checksum) —
    checksum is the golden balance sum (2 decimals), the value-level
    proof that survivorship picked the right side on every overlap
    key.

    Scale shape — the sources are scanned ONCE: the parsed
    (post-coercion) frame is persisted and every upstream stage
    metric derives from it in one aggregate (src counts from the
    source-rank column, harmonized = total, parsed_ok = non-null
    balances); the golden aggregate is the only other action and
    reuses the cache. The first cut ran 6 separate .agg() actions,
    re-reading each source ~4x through the cascading lineage.
    (Spark's ``observe()`` API would fold the metrics into the golden
    action with zero persists — but on Spark 4.1.2 the first
    Observation permanently attaches a NON-SERIALIZABLE
    ObservationManager to the shared SparkSession, and every later
    RDD-closure job on that session — the ML fits — dies with "Task
    not serializable". Caught by the full bench; the persist shape is
    the safe equivalent.)
    """
    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.functions.caching import track
    from data_integration_and_harmonization_spark.operators.linkage import (
        merge_entities,
    )

    k = F.col(key_col)
    src_a = cust.where(k % 2 == 0).select(
        k.alias("Cust Key"),
        F.col("c_name").alias("Name"),
        F.col("c_nationkey").alias("Nation Key"),
        locale_money_str(F.col("c_acctbal"), eu=True).alias("Acct Bal"),
        F.lit(0).alias("Src Rank"),
    )
    src_b = cust.where(k % 3 == 0).select(
        k.alias("Cust Key"),
        F.col("c_name").alias("Name"),
        locale_money_str(F.col("c_acctbal") + 1000.0).alias("Acct Bal"),
        F.lit(1).alias("Src Rank"),
    )
    h = H.harmonize([src_a, src_b])
    parsed = track(C.coerce_numeric_locale(h, ["acct_bal"]).persist())
    golden = merge_entities(
        parsed.withColumnRenamed("cust_key", "entity_id"),
        id_col="src_rank",
        entity_col="entity_id",
        provenance=True,
    )
    spark = cust.sparkSession
    # action 1: every upstream stage metric off the persisted parsed
    # frame in one aggregate
    m = parsed.agg(
        F.sum((F.col("src_rank") == 0).cast("long")).alias("a"),
        F.sum((F.col("src_rank") == 1).cast("long")).alias("b"),
        F.count(F.lit(1)).alias("h"),
        F.sum(F.col("acct_bal").isNotNull().cast("long")).alias("p"),
    ).first()
    # action 2: golden count + survivorship checksum + provenance
    # count in a single aggregate, reusing the cache
    g = golden.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("acct_bal"), 2).alias("checksum"),
        F.sum((F.col("acct_bal__src") == 1).cast("long")).alias("from_b"),
    ).first()
    rows = [
        ("src_a", int(m["a"] or 0), None),
        ("src_b", int(m["b"] or 0), None),
        ("harmonized", int(m["h"]), None),
        ("parsed_ok", int(m["p"] or 0), None),
        ("golden", int(g["n"]),
         float(g["checksum"]) if g["checksum"] is not None else None),
        ("golden_from_b", int(g["from_b"] or 0), None),
    ]
    return spark.createDataFrame(
        rows, "stage string, n_rows long, checksum double"
    )
