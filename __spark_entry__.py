"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline smoke at sf0.001.
``queries()``    — one entry per implemented operator (SURVEY §2).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (omitted only
                   for genuinely non-SQL-expressible ops; those get the
                   weaker rows-only check).

Both are derived from ``CATALOG``, the one ordered table of
``(name, builder, oracle_sql)`` rows at the end of this module; each
builder and its oracle string live in the module whose operators they
exercise. A builder slot holds either a builder ``(spark, sf) ->
DataFrame`` (one leg, named ``all``) or a declared ``(setup, legs)``
pair that ``_run_legs`` runs: ``setup(spark, sf) -> ctx`` builds what
the legs share, every ``(leg_name, build)`` in ``legs`` maps
``build(ctx) -> DataFrame`` on its own driver thread, and the result is
their union in declared order. No leg reads another leg's result.

Column names are aliased identically on both sides; float outputs are
rounded to 6 decimals on both sides so the order-insensitive value
hash is deterministic across engines.
"""

from __future__ import annotations

import functools
import json
import os
import uuid
import zipfile
from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_integration_and_harmonization_spark.functions.caching import release_all, scratch_dir, track
from data_integration_and_harmonization_spark.functions.concurrency import overlap
from data_integration_and_harmonization_spark.functions.pdf import (
    encode_pdf,
    encode_pdf_cid,
    encode_pdf_positioned,
)
from data_integration_and_harmonization_spark.functions.indexing import with_global_index
from data_integration_and_harmonization_spark.operators import clean as C
from data_integration_and_harmonization_spark.operators import dedup as DD
from data_integration_and_harmonization_spark.operators import eda as E
from data_integration_and_harmonization_spark.operators import events as EV
from data_integration_and_harmonization_spark.operators import features as FE
from data_integration_and_harmonization_spark.operators import harmonize as H
from data_integration_and_harmonization_spark.operators import linkage as LK
from data_integration_and_harmonization_spark.operators import ml as ML
from data_integration_and_harmonization_spark.operators import multimodal as MM
from data_integration_and_harmonization_spark.operators import embeddings as EMB
from data_integration_and_harmonization_spark.operators import profile as P
from data_integration_and_harmonization_spark.operators import relational as REL
from data_integration_and_harmonization_spark.operators import scoring as SC
from data_integration_and_harmonization_spark.operators import packing as PK
from data_integration_and_harmonization_spark.operators import sampling as SAMP
from data_integration_and_harmonization_spark.operators import scrub as SCRUB
from data_integration_and_harmonization_spark.operators import similarity as SIM
from data_integration_and_harmonization_spark.operators import text as TX
from data_integration_and_harmonization_spark.plans import curation as CUR
from data_integration_and_harmonization_spark.plans import pipeline as PL
from data_integration_and_harmonization_spark.plans import sql as _SQL
from data_integration_and_harmonization_spark.sources import manifest as MF
from data_integration_and_harmonization_spark.sources.cdf_stream import read_manifest_cdf
from data_integration_and_harmonization_spark.sources.docx import encode_docx, encode_pptx
from data_integration_and_harmonization_spark.sources.epub import encode_epub
from data_integration_and_harmonization_spark.sources.pyds import read_xlsx_corpus
from data_integration_and_harmonization_spark.sources.readers import (
    preview,
    read_ass,
    read_csv_audited,
    read_sources,
    read_srt,
    read_vtt,
    write_parquet,
)
from data_integration_and_harmonization_spark.sources.warc import (
    encode_warc,
    read_warc,
    read_zip_corpus,
)
from data_integration_and_harmonization_spark.sources.wiki import encode_mediawiki, read_mediawiki
from data_integration_and_harmonization_spark.sources.writers import compact_files, write_zordered
from data_integration_and_harmonization_spark.sources.xlsx import write_xlsx
from data_integration_and_harmonization_spark.streaming import pipeline as SP
from data_integration_and_harmonization_spark.streaming import stateful as ST

SF_SMOKE = "/root/testdata/sf0.001"


def _ensure_session_defaults(spark: SparkSession) -> None:
    """The driver may hand us a session we didn't build. Pin the
    runtime confs correctness depends on:

    - UTC session timezone — timestamp->date/window bucketing follows
      the session TZ; the DuckDB oracle compares naive UTC values.
    - ANSI off — the engine implements pandas-style coercion (explicit
      ``try_cast`` everywhere it matters, but e.g. double/0 and lossy
      numeric folds assume non-ANSI evaluation like the reference).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")


Builder = Callable[[SparkSession, str], DataFrame]
Setup = Callable[[SparkSession, str], dict[str, Any]]
Legs = tuple[tuple[str, Callable[[dict[str, Any]], DataFrame]], ...]


def _guarded(fn: Builder) -> Builder:
    def wrapped(spark: SparkSession, sf: str) -> DataFrame:
        _ensure_session_defaults(spark)
        # Release persisted frames the PREVIOUS query tracked (its
        # actions have completed by the time the runner invokes the
        # next query) — keeps long sessions from accumulating caches.
        release_all()
        return fn(spark, sf)

    return wrapped


def as_legs(slot: Builder | tuple[Setup, Legs]) -> tuple[Setup, Legs]:
    """The ``(setup, legs)`` of a catalog builder slot; a plain builder
    is one leg named ``all`` whose setup hands on the session and sf."""
    if callable(slot):
        return (
            lambda spark, sf: {"spark": spark, "sf": sf},
            (("all", lambda ctx: slot(ctx["spark"], ctx["sf"])),),
        )
    return slot


def _run_legs(setup: Setup, legs: Legs) -> Builder:
    """The one runner of declared legs: ``ctx = setup(spark, sf)``, then
    every leg's build on its own driver thread (``overlap``: the legs'
    short driver actions back-fill each other's idle cores), then the
    union in declared order."""

    def run(spark: SparkSession, sf: str) -> DataFrame:
        ctx = setup(spark, sf)
        frames = overlap(*(functools.partial(build, ctx) for _, build in legs))
        return functools.reduce(DataFrame.unionByName, frames)

    return run

LINEITEM_NUM = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]


def _messy_sources(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """Two heterogenous sources with pre-normalization column names —
    exercises P1 (lower/underscore) + U1 (outer union by name)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("Cust Key"),
        F.col("c_name").alias("Name"),
        F.col("c_nationkey").alias("Nation Key"),
        F.col("c_acctbal").alias("Acct Bal"),
        F.col("c_mktsegment").alias("Mktsegment"),
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("Supp Key"),
        F.col("s_name").alias("Name"),
        F.col("s_nationkey").alias("Nation Key"),
        F.col("s_acctbal").alias("Acct Bal"),
    )
    return [cust, supp]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: harmonize two messy sources, run the full cleaning
    pipeline (coerce -> inf fold -> interpolate -> drop dead cols),
    profile the result. The reference's EP1 flow end-to-end."""
    _ensure_session_defaults(spark)
    union = H.harmonize(_messy_sources(spark, SF_SMOKE), add_ingest_index=True)
    processed = C.process_data(union.drop(H.INGEST_SOURCE), order_col=H.INGEST_INDEX)
    return P.describe_numeric(processed.drop(H.INGEST_INDEX))


# ---------------------------------------------------------------- queries

def q_harmonize_union(spark: SparkSession, sf: str) -> DataFrame:
    out = H.harmonize(_messy_sources(spark, sf))
    # r8 '__schema_match' leg: column-correspondence suggestions
    # between the RAW customer/supplier schemas (name similarity +
    # type family + distinct-value-overlap jaccard), mapped into the
    # harmonized schema — n_common/n_a/n_b ride the key slots, the
    # combined score rides acct_bal.
    sm = H.schema_match(
        spark.read.parquet(f"{sf}/customer.parquet"),
        spark.read.parquet(f"{sf}/supplier.parquet"),
    ).select(
        F.col("n_common").alias("cust_key"),
        F.concat_ws("->", "col_a", "col_b").alias("name"),
        F.col("n_a").cast("int").alias("nation_key"),
        F.col("score").alias("acct_bal"),
        F.lit("__schema_match").alias("mktsegment"),
        F.col("n_b").alias("supp_key"),
    )
    # r9 third wave, '__integrate' legs: the composed structured-data
    # integration funnel (PL.integration_funnel — messy heterogeneous
    # views -> harmonize -> locale coercion -> source-precedence
    # golden records); stage counts ride cust_key, the golden balance
    # checksum rides acct_bal.
    fn = PL.integration_funnel(
        spark.read.parquet(f"{sf}/customer.parquet")
    ).select(
        F.col("n_rows").alias("cust_key"),
        F.col("stage").alias("name"),
        F.lit(None).cast("int").alias("nation_key"),
        F.col("checksum").alias("acct_bal"),
        F.lit("__integrate").alias("mktsegment"),
        F.lit(None).cast("long").alias("supp_key"),
    )
    return out.unionByName(sm).unionByName(fn)


def q_clean_coerce(spark: SparkSession, sf: str) -> DataFrame:
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    # r9 third wave, 'ts' leg: messy multi-format timestamp strings —
    # the format cycles per row (US date, ISO date, ISO datetime, one
    # garbage arm) and C.coerce_timestamps recovers them through the
    # strict first-match chain; output rides as a formatted string so
    # the comparison is timezone-invariant (parse and render share the
    # session zone, DuckDB replays naively).
    mod4 = F.col("l_linenumber") % 4
    mixed = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") == 1, F.lit("not-a-number"))
        .when(F.col("l_linenumber") == 2, F.lit("Infinity"))
        .otherwise(F.col("l_quantity").cast("string"))
        .alias("qty_str"),
        F.when(mod4 == 0, F.date_format("l_shipdate", "MM/dd/yyyy"))
        .when(mod4 == 1, F.date_format("l_shipdate", "yyyy-MM-dd"))
        .when(
            mod4 == 2,
            F.concat(F.date_format("l_shipdate", "yyyy-MM-dd"), F.lit(" 12:34:56")),
        )
        .otherwise(F.lit("not-a-date"))
        .alias("ts_str"),
        _locale_price_str().alias("loc_str"),
    )
    out = C.inf_nan_to_null(C.coerce_numeric(mixed, ["qty_str"]))
    out = C.coerce_timestamps(out, ["ts_str"])
    out = C.coerce_numeric_locale(out, ["loc_str"])
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.col("qty_str").alias("qty_clean"),
        F.date_format("ts_str", "yyyy-MM-dd HH:mm:ss").alias("ts_clean"),
        F.round("loc_str", 6).alias("price_locale"),
    )


def _locale_price_str():
    """Locale-messy render of l_extendedprice, cycling per row: US
    grouped, EU grouped (separators swapped), plain, comma-decimal,
    one garbage arm. Built from exact integer cents so engine and
    oracle synthesize byte-identical strings (no float formatting
    parity to defend)."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    ip = (cents / 100).cast("long")
    fr = F.lpad((cents % 100).cast("string"), 2, "0")
    us = F.concat(F.format_number(ip, 0), F.lit("."), fr)
    mod5 = F.col("l_linenumber") % 5
    return (
        F.when(mod5 == 0, us)
        .when(mod5 == 1, F.translate(us, ",.", ".,"))
        .when(mod5 == 2, F.concat(ip.cast("string"), F.lit("."), fr))
        .when(mod5 == 3, F.concat(ip.cast("string"), F.lit(","), fr))
        .otherwise(F.lit("n/a"))
    )


# Unique composite ordering key for order-sensitive ops (verified: no
# duplicates in the test tables at any sf).
_ORDER_KEY = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"]


def _masked_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(*_ORDER_KEY)
    li = with_global_index(li, _ORDER_KEY, index_col="pos")
    return li.withColumn(
        "v",
        F.when((F.col("pos") % 7).isin(0, 3), F.lit(None).cast("double")).otherwise(
            F.col("l_extendedprice")
        ),
    )


def q_clean_repair(spark: SparkSession, sf: str) -> DataFrame:
    # C3 interpolation + C4 ffill in ONE repair pass: both derive from
    # the same prev/next anchor windows, so one query halves the bench
    # cost AND takes one slot, not two, under the correctness runner's
    # 50-query cap.
    # with_global_index output is physically range-partitioned (its
    # index comes from sortWithinPartitions + partition row counters,
    # no window reshuffle) and persisted -> the repair legally skips
    # its own range shuffle (pre_partitioned=True; pinned by
    # tests/test_plan_shape.py). Remaining data movement: the index's
    # one range shuffle + the window pass's pid-clustering exchange
    # (see operators/clean.py module doc for why that pair is the
    # floor for window-based repair).
    out = C.interpolate_and_ffill(
        _masked_lineitem(spark, sf), "pos", ["v"], pre_partitioned=True
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.round("v__interp", 6).alias("v_interp"),
        F.round("v__ffill", 6).alias("v_fill"),
    )


def q_clean_cascade(spark: SparkSession, sf: str) -> DataFrame:
    # order directly by the data key — the repair plan synthesizes rank
    # positions internally (one shuffle; no pre-built index needed)
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    return C.process_data(cust, order_col="c_custkey")


_DESCRIBE_STATS = ["mean", "std", "min", "p25", "p50", "p75", "max"]


def _null_stats() -> list[Column]:
    """NULL double slots for every describe stat after ``mean``."""
    return [F.lit(None).cast("double").alias(c) for c in _DESCRIBE_STATS[1:]]


def _describe_setup(spark: SparkSession, sf: str) -> dict[str, Any]:
    return {
        "spark": spark,
        "li": spark.read.parquet(f"{sf}/lineitem.parquet"),
        "cust": spark.read.parquet(f"{sf}/customer.parquet"),
        "orders": spark.read.parquet(f"{sf}/orders.parquet"),
    }


def _describe_numeric(ctx: dict[str, Any]) -> DataFrame:
    return P.describe_numeric(ctx["li"], LINEITEM_NUM).select(
        F.lit("numeric").alias("kind"),
        F.col("column").alias("col_name"),
        "count",
        *[F.round(c, 6).alias(c) for c in _DESCRIBE_STATS],
        F.lit(None).cast("long").alias("n_unique"),
        F.lit(None).cast("string").alias("top"),
        F.lit(None).cast("long").alias("freq"),
    )


def _describe_object(ctx: dict[str, Any]) -> DataFrame:
    return P.describe_object(ctx["cust"], ["c_name", "c_mktsegment"]).select(
        F.lit("object").alias("kind"),
        F.col("column").alias("col_name"),
        "count",
        *[F.lit(None).cast("double").alias(c) for c in _DESCRIBE_STATS],
        F.col("unique").alias("n_unique"),
        "top",
        "freq",
    )


def _describe_dq(ctx: dict[str, Any]) -> DataFrame:
    # r8 'dq' legs: Deequ-style declarative validation — four rule
    # families in ONE agg pass over orders plus the referential-
    # integrity anti-join, mapped into the describe schema
    # (count=n_checked, n_unique=n_violations, mean=violation_rate,
    # freq=ok).
    orders, cust = ctx["orders"], ctx["cust"]
    rules = P.dq_report(
        orders,
        [
            ("not_null", "o_custkey"),
            ("unique", "o_orderkey"),
            ("in_range", "o_totalprice", 0.0, 1e9),
            ("accepted", "o_orderstatus", ["O", "F", "P"]),
            # r9 third wave, 'expr' rule kind (Deequ satisfies()):
            # cross-column business rule — expensive orders must be
            # urgent/high priority; NOT TRUE (incl. NULL) violates
            (
                "expr",
                "price_priority",
                "o_totalprice < 100000.0 "
                "OR o_orderpriority IN ('1-URGENT', '2-HIGH')",
            ),
        ],
    ).unionByName(
        P.dq_ref_integrity(orders, "o_custkey", cust, "c_custkey")
    ).unionByName(
        # r9 third wave, 'fd' legs: functional-dependency discovery —
        # key-like (holds), attribute (fails), composite determinant
        # (fails) — same row shape as the rule families
        P.fd_report(
            cust,
            [
                ("c_custkey", "c_name"),
                ("c_nationkey", "c_mktsegment"),
                (["c_nationkey", "c_mktsegment"], "c_acctbal"),
            ],
        )
    )
    return rules.select(
        F.lit("dq").alias("kind"),
        F.col("rule").alias("col_name"),
        F.col("n_checked").alias("count"),
        F.col("violation_rate").alias("mean"),
        *_null_stats(),
        F.col("n_violations").alias("n_unique"),
        F.col("col_name").alias("top"),
        F.col("ok").alias("freq"),
    )


def _describe_split(ctx: dict[str, Any]) -> DataFrame:
    # r9 'dq_split' legs: row-level quarantine routing (P.dq_split,
    # the Deequ row-level-results shape) under rules that genuinely
    # fire on this data — high prices out of range, low priorities
    # rejected, duplicate-custkey rows all quarantined. The
    # passed/quarantined row counts are NOT derivable from the
    # per-rule counts (violations overlap), so the legs add real
    # checked surface; count carries rows, n_unique the number of
    # distinct violation LABEL SETS on the quarantined side (pins the
    # per-row array annotation, not just the split).
    passed, quarantined = P.dq_split(
        ctx["orders"],
        [
            ("in_range", "o_totalprice", 0.0, 150000.0),
            ("accepted", "o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"]),
            ("unique", "o_custkey"),
        ],
    )
    return (
        passed.agg(
            F.count(F.lit(1)).alias("count"),
            F.lit(None).cast("long").alias("n_unique"),
        )
        .select(F.lit("split:passed").alias("col_name"), "count", "n_unique")
        .unionByName(
            quarantined.agg(
                F.count(F.lit(1)).alias("count"),
                F.countDistinct(
                    F.array_join("__dq_violations", "|")
                ).alias("n_unique"),
            ).select(
                F.lit("split:quarantined").alias("col_name"), "count", "n_unique"
            )
        )
        .select(
            F.lit("dq").alias("kind"),
            "col_name",
            "count",
            F.lit(None).cast("double").alias("mean"),
            *_null_stats(),
            "n_unique",
            F.lit(None).cast("string").alias("top"),
            F.lit(None).cast("long").alias("freq"),
        )
    )


def _describe_privacy(ctx: dict[str, Any]) -> DataFrame:
    # r9 second wave, 'privacy' legs: k-anonymity / l-diversity release
    # audit (SCRUB.k_anonymity_report) over the customer
    # quasi-identifiers (nation, segment) with bucketized account
    # balance as the sensitive attribute — the release gate that runs
    # AFTER redact_pii. Mapped into the dq schema: count=n_classes,
    # mean=rows-at-risk rate, n_unique=n_failing_classes,
    # top=min class size (k row), freq=rule ok.
    audit = SCRUB.k_anonymity_report(
        ctx["cust"].withColumn(
            "acct_bucket", F.floor(F.col("c_acctbal") / 1000).cast("long")
        ),
        ["c_nationkey", "c_mktsegment"],
        sensitive_col="acct_bucket",
        k=5,
        l=2,
    )
    return audit.select(
        F.lit("dq").alias("kind"),
        F.concat(F.lit("k_anon:"), F.col("quasi_cols")).alias("col_name"),
        F.col("n_classes").alias("count"),
        F.round(F.col("n_rows_at_risk") / F.col("n_rows"), 6).alias("mean"),
        *_null_stats(),
        F.col("n_small_classes").alias("n_unique"),
        F.col("min_class_size").cast("string").alias("top"),
        (F.col("n_small_classes") == 0).cast("long").alias("freq"),
    ).unionByName(
        audit.select(
            F.lit("dq").alias("kind"),
            F.lit("l_div:acct_bucket").alias("col_name"),
            F.col("n_classes").alias("count"),
            F.lit(None).cast("double").alias("mean"),
            *_null_stats(),
            F.col("n_low_diversity").alias("n_unique"),
            F.lit(None).cast("string").alias("top"),
            (F.col("n_low_diversity") == 0).cast("long").alias("freq"),
        )
    )


def _describe_sketch(ctx: dict[str, Any]) -> DataFrame:
    # r10 'sketch' legs: mergeable-HLL cardinality profiling
    # (P.sketch_distinct_report) — the distinct-count a 100-TB profile
    # ships. count carries the exact twin (the oracle pin); freq
    # carries the fused verdict: global sketch AND union-of-shard
    # sketches both within 5% of exact (merge path = how 1000
    # executors would profile: per-shard sketches, register-max
    # union, one tiny merge instead of a distinct-value shuffle).
    return P.sketch_distinct_report(
        ctx["orders"],
        ["o_custkey", "o_orderdate", "o_orderpriority"],
        shard_key="o_orderkey",
    ).select(
        F.lit("sketch").alias("kind"),
        F.concat(F.lit("hll:"), F.col("col_name")).alias("col_name"),
        F.col("n_exact").alias("count"),
        F.lit(None).cast("double").alias("mean"),
        *_null_stats(),
        F.lit(None).cast("long").alias("n_unique"),
        F.col("col_name").alias("top"),
        (F.col("merge_ok") * F.col("err_ok")).cast("long").alias("freq"),
    )


def _describe_inc(ctx: dict[str, Any]) -> DataFrame:
    # r10 'sketch' INCREMENTAL legs: the store-backed profile
    # (P.profile_store_update / profile_store_estimate) — orders
    # arrives as two batches, each appends ~KB of per-column HLL
    # sketches to a store, and the corpus-wide profile is read off
    # the STORE alone (history never rescanned: O(batch) profiling).
    # count carries the store's total row count (oracle: count(*)),
    # n_unique the batch count (oracle: 2), freq the fused verdict —
    # store estimate within 5% of the whole-table exact distinct AND
    # row counts conserved across batches.
    orders = ctx["orders"]
    inc_cols = ["o_custkey", "o_orderpriority"]
    store = os.path.join(scratch_dir("profstore"), "orders_profile")
    P.profile_store_update(
        orders.where(F.col("o_orderkey") % 2 == 0), store, inc_cols
    )
    P.profile_store_update(
        orders.where(F.col("o_orderkey") % 2 == 1), store, inc_cols
    )
    exact = orders.agg(
        F.countDistinct("o_custkey").alias("x_o_custkey"),
        F.countDistinct("o_orderpriority").alias("x_o_orderpriority"),
        F.count(F.lit(1)).alias("n_all"),
    )
    x_of = F.when(
        F.col("col_name") == "o_custkey", F.col("x_o_custkey")
    ).otherwise(F.col("x_o_orderpriority"))
    return (
        P.profile_store_estimate(ctx["spark"], store)
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit("sketch").alias("kind"),
            F.concat(F.lit("inc:"), F.col("col_name")).alias("col_name"),
            F.col("n_rows").alias("count"),
            F.lit(None).cast("double").alias("mean"),
            *_null_stats(),
            F.col("n_batches").alias("n_unique"),
            F.col("col_name").alias("top"),
            (
                (F.abs(F.col("est_distinct") - x_of) <= F.lit(0.05) * x_of)
                & (F.col("n_rows") == F.col("n_all"))
            ).cast("long").alias("freq"),
        )
    )


# describe(include='all') — the reference's mixed numeric+object
# summary frame (C6), tagged by kind in one query entry, plus the
# data-quality, privacy and sketch profiles in the same row shape.
DESCRIBE_ALL_LEGS: tuple[Setup, Legs] = (
    _describe_setup,
    (
        ("numeric", _describe_numeric),
        ("object", _describe_object),
        ("dq", _describe_dq),
        ("split", _describe_split),
        ("privacy", _describe_privacy),
        ("sketch", _describe_sketch),
        ("inc", _describe_inc),
    ),
)


def q_corr_matrix(spark: SparkSession, sf: str) -> DataFrame:
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    cm = P.corr_matrix(li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
    cm = cm.select("col_x", "col_y", F.round("corr", 6).alias("pearson_r"))
    # r8 drift legs: PSI / binned-KS / TVD between the pre-1995 and
    # 1995+ order-value distributions, plus the shared-bin histogram
    # shares that feed them — the data-contract check a recurring
    # ingestion runs before accepting a new corpus version.
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cut = F.col("o_orderdate") < F.lit("1995-01-01").cast("date")
    drift = P.drift_report(
        orders.where(cut), orders.where(~cut), "o_totalprice", bins=10
    ).select(
        F.lit("__drift").alias("col_x"),
        F.concat_ws(":", "kind", F.col("bucket").cast("string")).alias("col_y"),
        F.col("value").alias("pearson_r"),
    )
    return cm.unionByName(drift)


def q_feat_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """F1 plus the scaler family: the same rows carry z-score,
    RobustScaler ((x - median)/IQR, exact interpolated percentiles)
    and MinMaxScaler parity columns — one fused fit pass broadcast
    into one narrow projection. The fit pass ALSO computes the
    percentile_approx (GK sketch) quantiles — the fit a 100-TB
    pipeline ships, since exact percentile's final merge is
    single-reducer — and the 'ra_ok' column carries the
    rank-contract verdict on the sketch. The exact fit is
    SCALE-GATED (r9 verdict): it runs only at validation scale
    (n <= FE.EXACT_FIT_MAX_ROWS, where the DuckDB oracle pins the
    exact interpolated values of r_qty/r_price); above the gate the
    r_* parity columns are NULL on BOTH sides — exact percentile's
    single-reducer value->count merge never executes at scale, the
    robust fit there is this pass's own fused percentile_approx
    sketch (the qa_* quantiles), and ra_ok carries the sketch's
    rank-contract correctness at every scale."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag",
    )
    # ONE fit pass for all three scaler families (a separate fit per
    # family scans once each; at bench that tripled the scan + paid
    # two standalone percentile sorts — 0.4 s -> 5.3 s at sf0.1,
    # fixed by fusing the aggregates into a single job)
    stats = li.agg(
        *[
            a
            for c in ("l_quantity", "l_extendedprice", "l_discount")
            for a in (
                F.avg(F.col(c).cast("double")).alias(f"m_{c}"),
                F.stddev_pop(F.col(c).cast("double")).alias(f"s_{c}"),
            )
        ],
        *[
            a
            for c in ("l_quantity", "l_extendedprice")
            for a in (
                # percentile_approx (GK sketch, O(accuracy) per
                # partial, map-side merge) is the fit this pass ships
                # — exact `percentile`'s final merge is single-reducer
                # and scales with distinct values, so it is gated out
                # of this pass entirely and runs (fused into the rank
                # pass below) only at validation scale.
                F.percentile_approx(
                    F.col(c).cast("double"), [0.25, 0.5, 0.75], 10_000
                ).alias(f"qa_{c}"),
                F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
                F.max(F.col(c).cast("double")).alias(f"mx_{c}"),
            )
        ],
        F.count(F.lit(1)).alias("n_rows"),
    ).first()
    # robust_approx verdict — the GK contract itself, not a value
    # tolerance: percentile_approx returns an ELEMENT of the data (no
    # interpolation) whose rank is within n/accuracy of the target
    # rank. A value tolerance breaks on discrete columns (l_quantity
    # is integral: the sketch may legally return the adjacent quantum,
    # a value error of 1.0 at zero rank error — observed at sf0.1).
    # So gauge by rank: the returned value occupies ranks
    # [count_lt+1, count_le]; that window widened by the guaranteed
    # slack must contain the target rank. One extra map-combinable
    # count-if aggregate, fused into one job.
    _ps = (0.25, 0.5, 0.75)
    _ra_cols = ("l_quantity", "l_extendedprice")
    n_rows_fit = stats["n_rows"]
    # scale gate (r9 verdict): the exact interpolated percentile —
    # needed ONLY so the sf<=0.01 DuckDB oracle (quantile_cont) can
    # pin exact values — rides the rank pass at validation scale and
    # never executes above it (its value->count final merge is
    # single-reducer and n-proportional: the catalog's worst 10x
    # probe growth before this gate).
    exact_fit = n_rows_fit <= FE.EXACT_FIT_MAX_ROWS
    rank_aggs = []
    for c in _ra_cols:
        qa = stats[f"qa_{c}"]
        for p, v in zip(_ps, qa):
            tag = f"{c}_{int(p * 100)}"
            rank_aggs += [
                F.sum((F.col(c) < F.lit(float(v))).cast("long")).alias(f"lt_{tag}"),
                F.sum((F.col(c) <= F.lit(float(v))).cast("long")).alias(f"le_{tag}"),
            ]
    if exact_fit:
        rank_aggs += [
            F.expr(f"percentile({c}, array(0.25, 0.5, 0.75))").alias(f"q_{c}")
            for c in _ra_cols
        ]
    rrow = li.agg(*rank_aggs).first()
    slack = n_rows_fit / 10_000 + 1
    ra_ok = 1
    for c in _ra_cols:
        for p in _ps:
            tag = f"{c}_{int(p * 100)}"
            target = p * n_rows_fit
            if not (
                rrow[f"lt_{tag}"] + 1 - slack <= target <= rrow[f"le_{tag}"] + slack
            ):
                ra_ok = 0
    zs = {
        c: (stats[f"m_{c}"], stats[f"s_{c}"])
        for c in ("l_quantity", "l_extendedprice", "l_discount")
    }
    # r_* are the EXACT-fit parity columns: present at validation
    # scale (where the oracle's quantile_cont pins them value for
    # value), NULL above the gate — the robust fit at scale is the
    # fused percentile_approx sketch above (qa_*), whose
    # correctness the ra_ok rank-contract verdict carries at every
    # scale. Emitting sketch-scaled values here instead would make
    # the column mean different things at different scales AND be
    # uncheckable (no SQL engine reproduces the GK element choice).
    rs = (
        {c: (rrow[f"q_{c}"][1], rrow[f"q_{c}"][2] - rrow[f"q_{c}"][0]) for c in _ra_cols}
        if exact_fit
        else None
    )
    ms = {
        c: (stats[f"mn_{c}"], stats[f"mx_{c}"] - stats[f"mn_{c}"])
        for c in ("l_quantity", "l_extendedprice")
    }

    def sc(stats, c, alias):
        # (x - center) / scale with each family's zero-scale guard —
        # FE.zscore_transform's arithmetic, inlined so all three
        # scalers ride ONE projection (no joins)
        center, scale = stats[c]
        denom = scale if (scale is not None and scale > 0.0) else 1.0
        return F.round(
            (F.col(c).cast("double") - F.lit(center)) / F.lit(denom), 6
        ).alias(alias)

    # r8 'te_flag' column: smoothed leave-one-out target encoding of
    # l_returnflag against l_quantity (two bounded fits broadcast into
    # the same projection — see features.target_encode)
    # 'qb_qty' column: equal-frequency decile of l_quantity — ntile
    # semantics from a distributed global rank (range exchange +
    # broadcast offsets), no single-task window anywhere. Runs on the
    # narrow scan BEFORE the encode joins so the rank/count jobs see
    # five columns, not the joined projection.
    qb = FE.quantile_bucketize(
        li, "l_quantity", 10, ["l_orderkey", "l_linenumber"], "qb_qty"
    )
    enc = FE.target_encode(
        qb, "l_returnflag", "l_quantity", smoothing=10.0, out_col="__te"
    )
    return enc.select(
        "l_orderkey",
        "l_linenumber",
        sc(zs, "l_quantity", "z_qty"),
        sc(zs, "l_extendedprice", "z_price"),
        sc(zs, "l_discount", "z_disc"),
        sc(rs, "l_quantity", "r_qty")
        if rs is not None
        else F.lit(None).cast("double").alias("r_qty"),
        sc(rs, "l_extendedprice", "r_price")
        if rs is not None
        else F.lit(None).cast("double").alias("r_price"),
        sc(ms, "l_quantity", "m_qty"),
        sc(ms, "l_extendedprice", "m_price"),
        F.round("__te", 6).alias("te_flag"),
        "qb_qty",
        F.lit(ra_ok).cast("long").alias("ra_ok"),
    )


def q_feat_label_encode(spark: SparkSession, sf: str) -> DataFrame:
    """F2 fit + transform in one tagged entry: the label map rows
    (kind='map', key=category value) and the encoded rows
    (kind='row', key=custkey)."""
    cust = spark.read.parquet(f"{sf}/customer.parquet").select("c_custkey", "c_mktsegment")
    m = FE.label_encode_fit(cust, "c_mktsegment").select(
        F.lit("map").alias("kind"), F.col("value").alias("key"), "code"
    )
    enc, _ = FE.label_encode(cust, ["c_mktsegment"])
    rows = enc.select(
        F.lit("row").alias("kind"),
        F.col("c_custkey").cast("string").alias("key"),
        F.col("c_mktsegment").alias("code"),
    )
    # one-hot legs: the derived-vocabulary indicator matrix is
    # verified by its column sums (kind='onehot': per-category
    # indicator totals == group counts) and by the row-sum invariant
    # (kind='onehot_ok': every row has exactly one hot indicator —
    # oracle-derivable as "no null categories"). The 1-row sums frame
    # is turned into rows with the melt operator.
    oh, cats = FE.one_hot(cust, "c_mktsegment")
    ind_cols = [f"c_mktsegment__{c}" for c in cats]
    rowsum = sum([F.col(c) for c in ind_cols], F.lit(0))
    sums = oh.agg(
        *[F.sum(F.col(c)).cast("long").alias(c) for c in ind_cols],
        F.min(rowsum).alias("__mn"),
        F.max(rowsum).alias("__mx"),
    )
    onehot_rows = REL.melt(sums, ["__mn", "__mx"], ind_cols, "key", "code").select(
        F.lit("onehot").alias("kind"),
        F.regexp_replace("key", "^c_mktsegment__", "").alias("key"),
        "code",
    )
    ok_row = sums.select(
        F.lit("onehot_ok").alias("kind"),
        F.lit("*").alias("key"),
        F.when((F.col("__mn") == 1) & (F.col("__mx") == 1), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("code"),
    )
    return m.unionByName(rows).unionByName(onehot_rows).unionByName(ok_row)


def q_ml_classification(spark: SparkSession, sf: str) -> DataFrame:
    """M1-M8, M10 rows-only: 3-class l_returnflag on a deterministic
    ~5% subsample (keeps tree fits bounded at bench scale).

    Two extra pinned rows ride along:
    - S8 (model sink): a small DT pipeline is fitted, saved with
      ``save_model``, reloaded with ``load_model``, and both models
      score the same frame — the row's value is 1.0 iff the loaded
      model's predictions agree row-for-row with the in-memory one.
    - P8 (target validation): ``train_models`` against a missing
      target column must raise ValueError before launching any job —
      the row's value is 1.0 iff it did.
    """
    import os

    li = spark.read.parquet(f"{sf}/lineitem.parquet").where(F.col("l_orderkey") % 20 == 0)
    labeled = li.select(
        "l_quantity",
        "l_discount",
        "l_tax",
        "l_extendedprice",
        F.when(F.col("l_returnflag") == "A", 0)
        .when(F.col("l_returnflag") == "N", 1)
        .otherwise(2)
        .alias("target"),
    )
    # r13 optimization (guide §2.6): the model-zoo fits, the S8
    # persistence roundtrip, and the corpus quality classifier are
    # three independent fit chains — each is internally seeded and
    # deterministic, and none of their individual jobs saturates the
    # cluster (tree fits have serial per-iteration barriers), so they
    # ran back-to-back leaving most cores idle. Concurrent driver
    # threads overlap them; result VALUES are unchanged and the result
    # dict is assembled in the original key order below.
    def _zoo_chain():
        return ML.train_models(labeled, "target", is_classification=True)

    # S8: persistence roundtrip on a further-thinned slice (~0.25%)
    def _s8_chain():
        from pyspark.ml import Pipeline
        from pyspark.ml.classification import DecisionTreeClassifier
        from pyspark.ml.feature import VectorAssembler

        # persisted: the fit plus both agreement-check transforms read
        # it (3 executions of the filter chain otherwise)
        small = (
            labeled.where(F.col("l_quantity") <= 10)
            .withColumn("label", F.col("target").cast("double"))
            .persist()
        )
        try:
            pipe = Pipeline(
                stages=[
                    VectorAssembler(
                        inputCols=["l_quantity", "l_discount", "l_tax"], outputCol="features"
                    ),
                    DecisionTreeClassifier(seed=42),
                ]
            ).fit(small)
            path = os.path.join(scratch_dir("model"), "dt")
            ML.save_model(pipe, path)
            loaded = ML.load_model(path)
            return (
                pipe.transform(small)
                .select("l_quantity", "l_discount", "l_tax", "prediction")
                .exceptAll(
                    loaded.transform(small).select(
                        "l_quantity", "l_discount", "l_tax", "prediction"
                    )
                )
                .count()
            )
        finally:
            small.unpersist(False)

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    res, disagree, qc_res = overlap(
        _zoo_chain, _s8_chain, lambda: ML.quality_classifier(docs)
    )
    res["Persistence"] = {"SaveLoadPredictAgree": 1.0 if disagree == 0 else 0.0}

    # P8: the missing-target guard must trip (ref:56-57)
    try:
        ML.train_models(labeled, "no_such_column", is_classification=True)
        raised = 0.0
    except ValueError:
        raised = 1.0
    res["TargetValidation"] = {"MissingTargetRaises": raised}

    # r8: model-based corpus quality filtering (FineWeb-style) — a
    # hashed-TF-IDF logistic classifier trained on weak heuristic
    # labels over the documents table; the BeatsMajority verdict pins
    # the tokenize->HashingTF->IDF->LR wiring end-to-end (rows-only:
    # an iterative LBFGS fit is not SQL-expressible). Fit ran in the
    # thread pool above; recorded here to keep the row order.
    res["QualityClassifier"] = qc_res
    return ML.train_models_df(spark, res)


def q_ml_regression(spark: SparkSession, sf: str) -> DataFrame:
    """M1-M6, M9, M10 rows-only: predict extendedprice."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").where(F.col("l_orderkey") % 20 == 0)
    labeled = li.select("l_quantity", "l_discount", "l_tax", "l_extendedprice")
    res = ML.train_models(labeled, "l_extendedprice", is_classification=False)
    return ML.train_models_df(spark, res)


# ------------------------------------------------ src_roundtrip legs
#
# S1/S2/S3/S5/S6/S7 through the hash gate (the reference's
# multi-format front door, ref:165-187): every leg writes its own
# slice or fixture under one per-call scratch base and reads it back
# through an engine reader; each emits verdict rows in one shared
# schema, (l_returnflag, n_rows, sum_qty, sum_nkey, sum_rkey), that the
# oracle replays straight off the parquet tables. The legs touch
# separate directories and lineages, so they share no mutable state
# (r13: run back to back, the build was ~16 s of short,
# low-parallelism driver actions; overlapped, the scheduler back-fills
# one leg's tail with another's tasks).

_RT_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"]


def _rt_row(
    tag: str | Column,
    n_rows: Column | None = None,
    sum_qty: Column | None = None,
    sum_nkey: Column | None = None,
    sum_rkey: Column | None = None,
) -> list[Column]:
    """One src_roundtrip verdict row's columns: ``tag`` (a literal or
    a column) and the non-null values; every other slot is a typed
    NULL."""

    def slot(v: Column | None, name: str, dtype: str) -> Column:
        return (F.lit(None).cast(dtype) if v is None else v).alias(name)

    return [
        (F.lit(tag) if isinstance(tag, str) else tag).alias("l_returnflag"),
        slot(n_rows, "n_rows", "long"),
        slot(sum_qty, "sum_qty", "double"),
        slot(sum_nkey, "sum_nkey", "long"),
        slot(sum_rkey, "sum_rkey", "long"),
    ]


def _qty_row(df: DataFrame, tag: str, sum_nkey: Column | None = None) -> DataFrame:
    """A lineitem read-back's verdict row: row count and rounded
    quantity sum, plus the leg's structural verdict in sum_nkey."""
    return df.agg(
        *_rt_row(
            tag,
            F.count(F.lit(1)),
            F.round(F.sum("l_quantity"), 6),
            sum_nkey,
        )
    )


def _rt_setup(spark: SparkSession, sf: str) -> dict[str, Any]:
    """The lineitem read, the per-call scratch base, and the two dim
    fixtures the ingest leg re-reads: the nation dims as a
    whole-document JSON file (the pandas ``read_json`` orientation)
    and the region dims as an xlsx workbook (S2 — written with the
    engine's stdlib SpreadsheetML codec, read back through the Excel
    scan path). ``region_rows`` seeds every other region fixture."""
    # per-invocation scratch dir under the process scratch root:
    # portable, race-free across concurrent invocations, and reaped at
    # interpreter exit (the files must outlive this CALL — the
    # returned frame reads them lazily — so exit is the earliest safe
    # cleanup point).
    base = os.path.join(
        scratch_dir("roundtrip"),
        f"roundtrip_{os.path.basename(sf.rstrip('/'))}",
    )
    # whole-document JSON (array of records), written driver-side —
    # nation is a 25-row dim, the one shape multiLine JSON is for
    nation = spark.read.parquet(f"{sf}/nation.parquet").select("n_nationkey", "n_name")
    json_file = base + "_nation.json"
    with open(json_file, "w") as fh:
        json.dump([r.asDict() for r in nation.collect()], fh)
    # xlsx workbook (S2): region is a 5-row dim — exactly the
    # driver-side small-file shape the Excel bridge is for
    region = spark.read.parquet(f"{sf}/region.parquet").select("r_regionkey", "r_name")
    xlsx_file = base + "_region.xlsx"
    region_rows = [[r["r_regionkey"], r["r_name"]] for r in region.collect()]
    write_xlsx(xlsx_file, ["r_regionkey", "r_name"], region_rows)
    return {
        "spark": spark,
        "li": spark.read.parquet(f"{sf}/lineitem.parquet"),
        "base": base,
        "json_file": json_file,
        "xlsx_file": xlsx_file,
        "region_rows": region_rows,
    }


def _rt_ingest(ctx: dict[str, Any]) -> DataFrame:
    """Two lineitem slices written out as csv + ndjson (distributed
    writers), re-ingested with the JSON and xlsx dims via
    ``read_sources`` (extension dispatch, empty-input guard),
    harmonized and aggregated per l_returnflag. A final '__preview'
    row pins the preview sink (S7): its n_rows is the bounded
    ``preview()`` collect's length, least(5, |union|)."""
    spark, li, base = ctx["spark"], ctx["li"], ctx["base"]
    csv_dir = base + "_li.csv"
    nd_dir = base + "_li.ndjson"
    li.where(F.col("l_orderkey") % 10 == 0).select(*_RT_COLS).write.mode(
        "overwrite"
    ).option("header", True).csv(csv_dir)
    li.where(F.col("l_orderkey") % 10 == 5).select(*_RT_COLS).write.mode(
        "overwrite"
    ).json(nd_dir)
    srcs = read_sources(spark, [csv_dir, nd_dir, ctx["json_file"], ctx["xlsx_file"]])
    u = H.harmonize(srcs)
    agg = u.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.sum(F.col("n_nationkey").cast("long")).alias("sum_nkey"),
        F.sum(F.col("r_regionkey").cast("long")).alias("sum_rkey"),
    )
    n_prev = len(preview(u))  # S7: bounded limit-5 collect
    prev_row = spark.createDataFrame([(n_prev,)], "n_rows long").select(
        *_rt_row("__preview", F.col("n_rows"))
    )
    return agg.unionByName(prev_row)


def _rt_part(ctx: dict[str, Any]) -> DataFrame:
    """'__part_R': the PARTITIONED parquet sink
    (``write_parquet(partition_by=...)``). A third lineitem slice is
    written partitioned by l_returnflag and read back with a
    partition-key predicate — Catalyst turns that into partition
    pruning (PartitionFilters on the scan; only the R directory is
    listed/read — pinned by tests/test_sources.py's plan assertion);
    the oracle replays the same filter off the raw table, so a hash
    match proves the partitioned write+pruned read lost nothing."""
    part_dir = ctx["base"] + "_li_part.parquet"
    write_parquet(
        ctx["li"].where(F.col("l_orderkey") % 10 == 3).select(*_RT_COLS),
        part_dir,
        partition_by=["l_returnflag"],
    )
    return _qty_row(
        ctx["spark"].read.parquet(part_dir).where(F.col("l_returnflag") == "R"),
        "__part_R",
    )


# the z-ordered slice and the key range its '__zorder' read-back and
# '__delete' rewrite both target
_RT_Z_LO, _RT_Z_HI = 1000, 2000


def _rt_key_range(a: int, b: int) -> Column:
    return (F.col("l_orderkey") >= a) & (F.col("l_orderkey") < b)


def _rt_zver(ctx: dict[str, Any]) -> DataFrame:
    """The z-order -> versions -> skip -> delete -> merge -> evolve
    chain over one lineitem slice; every step commits a manifest
    version on the previous one, so the chain is one leg."""
    spark, base = ctx["spark"], ctx["base"]
    lo, hi = _RT_Z_LO, _RT_Z_HI
    # '__zorder' row: Z-order-clustered parquet sink + range-predicate
    # read-back (write_zordered): a fourth lineitem slice is laid out
    # by the Morton key of (l_orderkey, l_quantity), read back with a
    # range predicate on l_orderkey, and aggregated; the oracle replays
    # the same filter off the raw table, so a hash match proves the
    # clustered rewrite lost nothing — while the layout gives every
    # file a tight min/max envelope on BOTH keyed columns (skipping
    # effectiveness is pinned by tests/test_sources.py's per-file
    # span assertion).
    z_dir = base + "_li_zorder.parquet"
    z_slice = ctx["li"].where(F.col("l_orderkey") % 10 == 7).select(*_RT_COLS)
    write_zordered(z_slice, z_dir, ["l_orderkey", "l_quantity"], num_files=8)
    z_row = _qty_row(
        spark.read.parquet(z_dir).where(_rt_key_range(lo, hi)), "__zorder"
    )
    # v1 carries per-file min/max stats for l_orderkey — the
    # data-skipping statistics a Delta/Iceberg manifest records, and
    # the z-ordered layout is exactly what makes them tight.
    tbl_root = base + "_li_versions"
    v1 = MF.commit_version_with_stats(
        spark, tbl_root, z_dir, ["l_orderkey"], note="zordered slice"
    )
    # '__skip' row: manifest-stats file pruning (read_version(prune=))
    # — the reader opens ONLY the files whose recorded [min,max] can
    # intersect the range; at 100 TB that is the difference between a
    # key range's few files and the whole table. sum_nkey carries the
    # structural verdict (1 iff the prune skipped at least one file
    # while keeping at least one); the value columns are the filtered
    # aggregate the oracle replays off the raw table — a hash match
    # proves pruning lost no row the residual filter would keep.
    skip_lo, skip_hi = 2500, 2999
    n_skip_kept = len(
        MF.prune_files(
            MF.read_manifest(spark, tbl_root, v1),
            {"l_orderkey": (skip_lo, skip_hi)},
        )
    )
    n_skip_total = len(MF.read_manifest(spark, tbl_root, v1)["files"])
    # at sf0.001 the slice's keys end below skip_lo, so pruning
    # rightly keeps ZERO files — that is data skipping working
    # perfectly, not a structural failure; require a kept file only
    # when the data actually reaches the probed range.
    z_max_key = z_slice.agg(F.max("l_orderkey")).first()[0] or 0
    skip_ok = int(
        n_skip_kept < n_skip_total
        and (n_skip_kept > 0 or z_max_key < skip_lo)
    )
    skip_row = _qty_row(
        MF.read_version(spark, tbl_root, v1, prune={"l_orderkey": (skip_lo, skip_hi)}),
        "__skip",
        F.lit(skip_ok).cast("long"),
    )
    # '__delete' row: targeted row deletion (MF.delete_rows_versioned,
    # the GDPR rewrite): DELETE the same l_orderkey range from the
    # z-ordered copy — the clustered layout confines matches to a
    # subset of the 8 files, so the rewrite touches only those;
    # untouched files are referenced in place. The read-back aggregate is
    # oracle-replayed with the inverted predicate (a hash match proves
    # exactly the targeted rows vanished); sum_nkey carries the
    # structural verdict (1 iff affected file count < total, i.e. the
    # delete did NOT rewrite the whole table).
    # The delete goes through MANIFEST VERSIONS (sources/manifest.py):
    # v1 pins the z-ordered files; delete_rows_versioned rewrites ONLY
    # the files holding matches into a side dir and commits v2
    # referencing every untouched z file IN PLACE (zero-copy
    # maintenance). The verdict additionally proves:
    # - TIME TRAVEL: v1 still serves every pre-delete row after v2;
    # - REFERENCE-IN-PLACE: v1 and v2 share exactly the untouched
    #   files (the delete moved only the affected files' bytes);
    # - CHANGE DATA FEED: version_diff(v1, v2) — which reads only the
    #   files the manifests disagree on — reports exactly the deleted
    #   rows as 'removed' and nothing 'added'.
    # del_row itself reads through read_version(v2), so the hash match
    # also covers the pinned-file-list scan path.
    dstats = MF.delete_rows_versioned(
        spark, tbl_root, base + "_li_deleted.parquet", _rt_key_range(lo, hi)
    )
    v2 = dstats["version"]
    n_v1 = MF.read_version(spark, tbl_root, v1).count()
    n_v2 = MF.read_version(spark, tbl_root, v2).count()
    m1 = {f["path"] for f in MF.read_manifest(spark, tbl_root, v1)["files"]}
    m2 = {f["path"] for f in MF.read_manifest(spark, tbl_root, v2)["files"]}
    cdf = {
        r["change"]: r["n"]
        for r in MF.version_diff(
            spark, tbl_root, v1, v2, ["l_orderkey", "l_linenumber"]
        )
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    del_ok = int(
        dstats["files_affected"] < dstats["files_total"]
        and v2 == v1 + 1
        and n_v1 == n_v2 + dstats["rows_deleted"]
        and len(m1 & m2) == dstats["files_total"] - dstats["files_affected"]
        and cdf.get("removed", 0) == dstats["rows_deleted"]
        and cdf.get("added", 0) == 0
    )
    del_row = _qty_row(
        MF.read_version(spark, tbl_root, v2), "__delete", F.lit(del_ok).cast("long")
    )
    merge_row, evolve_row = _rt_merge_evolve(ctx, tbl_root, v2)
    return (
        z_row.unionByName(skip_row)
        .unionByName(del_row)
        .unionByName(merge_row)
        .unionByName(evolve_row)
    )


def _rt_dedup_arm(df: DataFrame, op: str) -> DataFrame:
    """A merge change batch, deduped per key (max over dup
    (okey, lineno) keys — the synthetic lineitem has them; merge
    enforces unique change keys) and tagged with its ``op``."""
    return (
        df.groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.max("l_quantity").alias("l_quantity"),
            F.max("l_returnflag").alias("l_returnflag"),
        )
        .select(*_RT_COLS)
        .withColumn("op", F.lit(op))
    )


def _rt_merge_evolve(
    ctx: dict[str, Any], tbl_root: str, v2: int
) -> tuple[DataFrame, DataFrame]:
    """The '__merge' and '__evolve' rows of the zver leg, committed on
    top of its post-delete version ``v2``."""
    spark, base = ctx["spark"], ctx["base"]
    rng = _rt_key_range
    # '__merge' row: three-arm MERGE (manifest.merge_upsert_versioned)
    # on top of the post-delete version — Delta's WHEN MATCHED UPDATE /
    # WHEN NOT MATCHED INSERT / WHEN MATCHED DELETE in ONE commit:
    # keys in [500,1000) are MATCHED (whole row replaced, quantity
    # +100), the earlier-deleted [1000,1100) keys come back as INSERTS
    # (quantity +100), and keys in [2000,2500) are merge-DELETED. Only
    # files holding matched keys are rewritten; untouched files
    # referenced in place. The oracle replays all three arms off the
    # raw table, so the hash match proves MERGE semantics end to end;
    # sum_nkey carries the structural verdict (targeted subset +
    # matched/inserted/deleted counts exactly as composed).
    z_all = ctx["li"].where(F.col("l_orderkey") % 10 == 7).select(*_RT_COLS)
    upd_match = _rt_dedup_arm(z_all.where(rng(500, 1000)), "U").withColumn(
        "l_quantity", F.col("l_quantity") + 100
    )
    upd_ins = _rt_dedup_arm(z_all.where(rng(_RT_Z_LO, 1100)), "I").withColumn(
        "l_quantity", F.col("l_quantity") + 100
    )
    upd_del = _rt_dedup_arm(z_all.where(rng(2000, 2500)), "D")
    upd = upd_match.unionByName(upd_ins).unionByName(upd_del)
    # r13: the four merge-gate probes (matched rows, deduped insert
    # keys, deleted rows, slice size) were four separate jobs over the
    # same slice; ONE aggregate computes all four (countDistinct over
    # a when()-guarded struct == the dedup arm's distinct key count;
    # count/sum semantics unchanged value for value).
    _gate = z_all.agg(
        F.count(F.lit(1)).alias("n_slice"),
        F.sum((rng(500, 1000) | rng(2000, 2500)).cast("long")).alias("n_match"),
        F.sum(rng(2000, 2500).cast("long")).alias("n_del"),
        F.countDistinct(
            F.when(rng(_RT_Z_LO, 1100), F.struct("l_orderkey", "l_linenumber"))
        ).alias("n_ins"),
    ).first()
    n_match = _gate["n_match"] or 0
    n_ins = _gate["n_ins"]
    n_del = _gate["n_del"] or 0
    # locality clause only above a row floor: below ~1000 slice rows
    # the 8-file z-layout has so few rows per file that every file
    # legitimately spans the whole key range and the merge rightly
    # rewrites all of them (observed at sf0.001); the semantics checks
    # below stay unconditional.
    n_slice = _gate["n_slice"]
    mstats = MF.merge_upsert_versioned(
        spark, tbl_root, base + "_li_merged.parquet", upd,
        ["l_orderkey", "l_linenumber"], op_col="op",
    )
    merge_ok = int(
        (mstats["files_affected"] < mstats["files_total"] or n_slice < 1000)
        and mstats["version"] == v2 + 1
        and mstats["rows_matched"] == n_match
        and mstats["rows_inserted"] == n_ins
        and mstats["rows_deleted"] == n_del
    )
    merge_row = _qty_row(
        MF.read_version(spark, tbl_root, mstats["version"]),
        "__merge",
        F.lit(merge_ok).cast("long"),
    )
    # '__evolve' row: MERGE schema evolution — a second merge whose
    # change batch carries a NEW column (priority). Default must
    # REFUSE (never silently drop a CDC feed's column); with
    # evolve_schema=True the column is adopted: rewritten files carry
    # it, untouched files stay old-schema referenced in place, and
    # read_version(merge_schema=True) unions the schemas. The change
    # rows replace [500,600) with their own current values + priority,
    # so row count and quantity sum are UNCHANGED from the __merge
    # version (the oracle replays that equality for free) and
    # sum_rkey carries the non-null priority count = the deduped key
    # count of the replaced slice.
    ev_upd = (
        _rt_dedup_arm(z_all.where(rng(500, 600)), "U")
        .drop("op")
        .withColumn("l_quantity", F.col("l_quantity") + 100)
        .withColumn("priority", F.lit(1.0))
    )
    try:
        MF.merge_upsert_versioned(
            spark, tbl_root, base + "_li_evolve_refused.parquet", ev_upd,
            ["l_orderkey", "l_linenumber"],
        )
        refused = 0
    except ValueError:
        refused = 1
    estats = MF.merge_upsert_versioned(
        spark, tbl_root, base + "_li_evolved.parquet", ev_upd,
        ["l_orderkey", "l_linenumber"], evolve_schema=True,
    )
    evolve_ok = int(
        refused == 1
        and estats["rows_inserted"] == 0
        and "schema evolved +priority"
        in MF.read_manifest(spark, tbl_root, estats["version"])["note"]
    )
    evolve_row = MF.read_version(
        spark, tbl_root, estats["version"], merge_schema=True
    ).agg(
        *_rt_row(
            "__evolve",
            F.count(F.lit(1)),
            F.round(F.sum("l_quantity"), 6),
            F.lit(evolve_ok).cast("long"),
            F.sum(F.col("priority").isNotNull().cast("long")),
        )
    )
    return merge_row, evolve_row


def _rt_compact(ctx: dict[str, Any]) -> DataFrame:
    """'__compact': small-file compaction (writers.compact_files, the
    lakehouse OPTIMIZE primitive). A fifth lineitem slice is
    deliberately shattered into 48 tiny files, compacted into
    byte-sized-from-listing output files (shuffle-free coalesce),
    read back and aggregated — the oracle replays the same filter off
    the raw table, so a hash match proves the rewrite moved every row
    exactly once. sum_nkey carries the structural verdict (1 iff the
    file count actually shrank to the byte-budget plan and the vacuum
    below held); the oracle expects literal 1."""
    spark, base = ctx["spark"], ctx["base"]
    small_dir = base + "_li_small.parquet"
    comp_dir = base + "_li_compact.parquet"
    ctx["li"].where(F.col("l_orderkey") % 10 == 9).select(*_RT_COLS).repartition(
        48
    ).write.mode("overwrite").parquet(small_dir)
    stats = compact_files(spark, small_dir, comp_dir, target_bytes=64 << 20)
    # VACUUM retention rides the compaction leg: v1 pins the 48
    # shattered files, v2 the compacted ones; vacuum keeping only v2
    # must physically delete exactly v1's unshared files and drop its
    # manifest — all driver-side FS metadata, no data scan. (The
    # zver leg can't host this: its v1 files back the lazily-read
    # '__zorder' row.)
    tbl2 = base + "_li_compact_versions"
    c1 = MF.commit_version(spark, tbl2, small_dir, note="48 small files")
    c2 = MF.commit_version(spark, tbl2, comp_dir, note="compacted")
    m_small = {f["path"] for f in MF.read_manifest(spark, tbl2, c1)["files"]}
    m_comp = {f["path"] for f in MF.read_manifest(spark, tbl2, c2)["files"]}
    vac = MF.vacuum(spark, tbl2, keep_versions=[c2])
    vac_ok = (
        set(vac["deleted"]) == m_small - m_comp
        and MF.list_versions(spark, tbl2) == [c2]
    )
    comp_ok = int(
        stats["files_after"] < stats["files_before"]
        and stats["files_after"] <= stats["planned_files"]
        and vac_ok
    )
    return _qty_row(
        spark.read.parquet(comp_dir), "__compact", F.lit(comp_ok).cast("long")
    )


def _rt_xlsx_ds(ctx: dict[str, Any]) -> DataFrame:
    """'__xlsx_ds': the DISTRIBUTED xlsx path (sources/pyds.py, a
    Spark-4 Python DataSource: one executor partition per workbook,
    stdlib ECMA-376 decode on the executors) — the corpus-scale
    sibling of the driver-side S2 bridge. Region is split into TWO
    workbooks with different header orders; the scan must align by
    name across both files. sum_nkey carries the number of distinct
    source files seen (pins the per-file partitioning and the
    _src_file provenance column); sum_rkey the key checksum through
    the all-string schema-on-read cast back to long."""
    region_rows = ctx["region_rows"]
    ds_dir = ctx["base"] + "_region_corpus"
    os.makedirs(ds_dir, exist_ok=True)
    write_xlsx(
        os.path.join(ds_dir, "part1.xlsx"),
        ["r_regionkey", "r_name"],
        region_rows[:2],
    )
    write_xlsx(
        os.path.join(ds_dir, "part2.xlsx"),
        ["r_name", "r_regionkey"],
        [[n, k] for k, n in region_rows[2:]],
    )
    return read_xlsx_corpus(ctx["spark"], ds_dir).agg(
        *_rt_row(
            "__xlsx_ds",
            F.count(F.lit(1)),
            sum_nkey=F.countDistinct("_src_file"),
            sum_rkey=F.sum(F.col("r_regionkey").cast("long")),
        )
    )


def _rt_csv_dlq(ctx: dict[str, Any]) -> DataFrame:
    """'__csv_dlq': PERMISSIVE csv ingestion with corrupt-record
    ROUTING (read_csv_audited — the batch dead-letter queue). The
    region rows are written as csv text with two deliberately corrupt
    lines (a type failure and an extra-column row); good rows
    aggregate as usual, n_rows carries the good count, sum_nkey the
    quarantined line count — the oracle derives both from region +
    the two synthetic bad lines."""
    dlq_file = ctx["base"] + "_region_dlq.csv"
    with open(dlq_file, "w") as fh:
        fh.write("r_regionkey,r_name\n")
        for k, n in ctx["region_rows"]:
            fh.write(f"{k},{n}\n")
        fh.write("not_a_key,GARBAGE\n")
        fh.write("9,EXTRA,trailing_field\n")
    good_csv, bad_csv = read_csv_audited(
        ctx["spark"], dlq_file, "r_regionkey long, r_name string"
    )
    # quarantine count joins in lazily (a 1-row broadcast) — an eager
    # bad_csv.count() here would cost one extra job per invocation,
    # including every warmup pass
    return (
        good_csv.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("r_regionkey").cast("long")).alias("sum_rkey"),
        )
        .crossJoin(F.broadcast(bad_csv.agg(F.count(F.lit(1)).alias("sum_nkey"))))
        .select(
            *_rt_row(
                "__csv_dlq",
                F.col("n_rows"),
                sum_nkey=F.col("sum_nkey"),
                sum_rkey=F.col("sum_rkey"),
            )
        )
    )


def _rt_text_rows(texts: DataFrame, tag: str, key_re: str) -> list[DataFrame]:
    """The two verdict rows of an extracted-text fixture over
    ``(id, text)``: '__<tag>' carries the text count, the total text
    length and the key checksum REPARSED FROM THE TEXT by ``key_re``;
    '__<tag>md5_<md5>' embeds the md5 of every text in id order, so
    one byte of drift anywhere in encode -> extract misses the hash."""
    count_row = texts.agg(
        *_rt_row(
            f"__{tag}",
            F.count("text"),
            sum_nkey=F.sum(F.length("text")),
            sum_rkey=F.sum(F.regexp_extract("text", key_re, 1).cast("long")),
        )
    )
    return [count_row, _rt_md5_row(texts, tag, "id")]


def _rt_md5_row(texts: DataFrame, tag: str, key: str) -> DataFrame:
    return texts.agg(
        *_rt_row(
            F.concat(
                F.lit(f"__{tag}md5_"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct(key, "text"))),
                            lambda s: s["text"],
                        ),
                        "\x1f",
                    )
                ),
            ),
            F.count(F.lit(1)),
        )
    )


def _rt_fixtures(ctx: dict[str, Any]) -> DataFrame:
    """Driver-encoded document, transcript and web fixtures (pure
    Python byte builders) read back by the engine's readers; every
    value is reconstructed by the oracle from the region table alone."""
    spark, base, region_rows = ctx["spark"], ctx["base"], ctx["region_rows"]
    rows = (
        _rt_documents(spark, base, region_rows)
        + _rt_captions(spark, base, region_rows)
        + _rt_web(spark, base, region_rows)
    )
    return functools.reduce(DataFrame.unionByName, rows)


def _rt_documents(spark: SparkSession, base: str, region_rows: list) -> list[DataFrame]:
    """The document rows: one fused Arrow extraction stage over every
    engine-encoded document (``document_text_table`` dispatches by
    magic bytes) — ids 0+k PDF, 100+k DOCX, 200+k PDF-1.5, 300+k CID
    PDF, 400+k two-column PDF, 500+k zip members, 600+k EPUB."""
    # '__pdf' + '__pdfmd5_*' rows (r11): baseline PDF text extraction
    # (functions/pdf.py — Flate content streams + Tj/TJ show
    # operators, ISO 32000-1). One two-page PDF per region row is
    # ENGINE-ENCODED with text derived purely from the region table
    # (page 1: 'Region (<name>)', page 2: 'key \\ <k>' — parens and a
    # backslash in every document, so the string-escape grammar is on
    # the oracle path), extracted back by the distributed Arrow stage.
    # '__docx' + '__docxmd5_*' rows (r12): DOCX text extraction
    # (sources/docx.py — stdlib ECMA-376 zip + word/document.xml run
    # walk). One two-paragraph document per region row with a w:tab
    # in paragraph 2 ('key\t<k>' — the tab element is on the oracle
    # path), riding in the SAME fused Arrow stage as the PDFs: a mixed
    # document corpus pays ONE Python worker round-trip.
    # '__pdf15' + '__pdfcid' rows (r12): the modern-PDF document tier.
    # ids 200+k: PDF-1.5 fixtures with every non-stream object in a
    # compressed /ObjStm and a /Type /XRef cross-reference STREAM
    # behind the PNG Up predictor (the layout real writers emit) —
    # ASCII text, so the leg isolates the xref/ObjStm machinery.
    # ids 300+k: Identity-H CID fixtures whose 2-byte codes only
    # decode through the /ToUnicode CMap, with non-latin text (é/ö/—)
    # a simple-font tier cannot even represent.

    # JVM LocalTableScan, not defaultParallelism pickled slices —
    # each slice of a plain-list local frame costs the downstream
    # Arrow stage a Python-worker round-trip per task (r14)
    doc_df = MM.local_media_frame(
        spark,
        [
            (k, bytearray(encode_pdf([f"Region ({n})", f"key \\ {k}"])))
            for k, n in region_rows
        ]
        + [
            (100 + k, bytearray(encode_docx([f"Region ({n})", f"key\t{k}"])))
            for k, n in region_rows
        ]
        + [
            (
                200 + k,
                bytearray(
                    encode_pdf_cid([f"Region ({n})", f"key {k}"], predictor=True)
                ),
            )
            for k, n in region_rows
        ]
        + [
            (300 + k, bytearray(encode_pdf_cid([f"Régiön ({n}) — clé {k}"])))
            for k, n in region_rows
        ]
        # ids 400+k ('__pdf2col', r13): absolutely-positioned pages
        # whose STREAM order is scrambled (right column first,
        # bottom row first) — the extractor's y-then-x reading-order
        # pass must reassemble top row first / left first, which the
        # oracle pins byte-exactly. Linear documents keep stream
        # order (the md5 rows above stay byte-identical).
        + [
            (
                400 + k,
                bytearray(
                    encode_pdf_positioned(
                        [
                            (306, 706, f"tail {k}"),
                            (72, 706, f"key2 {k}"),
                            (306, 720, f"R col2 {n}"),
                            (72, 720, f"Region ({n})"),
                        ]
                    )
                ),
            )
            for k, n in region_rows
        ]
        # ids 600+k ('__epub', r13): EPUB books — OCF mimetype +
        # container.xml -> OPF spine -> XHTML chapters, extracted in
        # spine order by the same fused stage (sources/epub.py).
        + [
            (600 + k, bytearray(encode_epub([f"EPUB ({n})", f"chap key3 {k}"])))
            for k, n in region_rows
        ],
        "doc_id long, payload binary",
    ).unionByName(_rt_zip_docs(spark, base, region_rows))
    # persisted: every document row consumes the extraction, and a
    # 10-row Arrow stage still costs a full Python worker round-trip
    # (~1 s at sf0.1 — the r4 fixed-overhead lesson); one stage
    doc_texts = track(TX.document_text_table(doc_df).persist())

    def texts(lo: int, hi: int, *cols: str) -> DataFrame:
        return doc_texts.where(F.col("id").between(lo, hi)).select(
            (F.col("id") - lo).alias("id"), *cols, "text"
        )

    # '__zip' row: n_rows counts members whose magic-byte fmt matches
    # the format implied by their id (pins the dispatch, not just the
    # text); the readme member's id parses NULL and quarantines out of
    # every range filter
    zip_row = texts(500, 599, "fmt").agg(
        *_rt_row(
            "__zip",
            F.sum(
                (
                    F.col("fmt")
                    == F.element_at(
                        F.array(F.lit("pdf"), F.lit("docx"), F.lit("pptx")),
                        (F.col("id") % 3 + 1).cast("int"),
                    )
                ).cast("long")
            ),
            sum_nkey=F.sum(F.length("text")),
            sum_rkey=F.sum(F.regexp_extract("text", r"zkey (\d+)", 1).cast("long")),
        )
    )
    return (
        _rt_text_rows(texts(0, 99), "pdf", r"key \\ (\d+)")
        + _rt_text_rows(texts(100, 199), "docx", r"key\t(\d+)")
        + _rt_text_rows(texts(200, 299), "pdf15", r"key (\d+)")
        + _rt_text_rows(texts(300, 399), "pdfcid", r"clé (\d+)")
        + _rt_text_rows(texts(400, 499), "pdf2col", r"key2 (\d+)")
        + _rt_text_rows(
            doc_texts.where(F.col("id") >= 600).select(
                (F.col("id") - 600).alias("id"), "text"
            ),
            "epub",
            r"key3 (\d+)",
        )
        + [zip_row]
    )


def _rt_zip_docs(spark: SparkSession, base: str, region_rows: list) -> DataFrame:
    """'__zip' members (r13): zip-archive corpus ingestion — an
    engine-written zip of mixed pdf/docx/pptx members (one per region
    row, format by key mod 3) plus a non-document member, read by the
    distributed read_zip_corpus stage (one binaryFile task per
    archive, one Arrow member walk). The members join the loose
    documents as ids 500+k, so the whole mixed corpus extracts in ONE
    fused Arrow stage."""
    zip_file = base + "_region.zip"
    enc = {
        0: ("pdf", lambda t: encode_pdf([t])),
        1: ("docx", lambda t: encode_docx([t])),
        2: ("pptx", lambda t: encode_pptx([t])),
    }
    with zipfile.ZipFile(zip_file, "w") as zf:
        for k, n in region_rows:
            m_ext, encode = enc[k % 3]
            zf.writestr(f"docs/r{k}.{m_ext}", encode(f"zip {n} doc zkey {k}"))
        zf.writestr("docs/readme.txt", b"not a document")
    return read_zip_corpus(spark, zip_file).select(
        (
            F.lit(500) + F.regexp_extract("member", r"r(\d+)\.", 1).cast("long")
        ).alias("doc_id"),
        "payload",
    )


def _rt_captions(spark: SparkSession, base: str, region_rows: list) -> list[DataFrame]:
    """The transcript rows: one cue per region row in each of SubRip,
    WebVTT and ASS, written driver-side and parsed back by the
    all-JVM readers; n_rows = cue count, sum_nkey = sum(start_ms +
    end_ms), sum_rkey = the key REPARSED from the cue text — the
    oracle rebuilds all three from region arithmetic."""
    def cue_row(df: DataFrame, tag: str, rkey: Column) -> DataFrame:
        return df.agg(
            *_rt_row(
                tag,
                F.count(F.lit(1)),
                sum_nkey=F.sum(F.col("start_ms") + F.col("end_ms")),
                sum_rkey=F.sum(rkey),
            )
        )

    # '__srt' row (r11): start = 60000*k + 1500, 2500 ms long, two
    # text lines.
    srt_file = base + "_region.srt"
    with open(srt_file, "w") as fh:
        for k, n in region_rows:
            s_ms = 60000 * k + 1500
            fh.write(f"{k + 1}\n")
            fh.write(
                f"00:{s_ms // 60000:02d}:01,500 --> 00:{s_ms // 60000:02d}:04,000\n"
            )
            fh.write(f"Region {n}\nkey {k}\n\n")
    # '__vtt' row (r12): an identifier line and an HOURS-LESS timecode
    # (MM:SS.mmm), start = 60000*k + 2500 for 3000 ms; sum_rkey
    # reparses the key from both the cue id AND the text (they must
    # agree).
    vtt_file = base + "_region.vtt"
    with open(vtt_file, "w") as fh:
        fh.write("WEBVTT - engine fixture\n\n")
        fh.write("NOTE\nno timing line here, dropped by the reader\n\n")
        for k, n in region_rows:
            fh.write(f"c{k}\n")
            fh.write(f"{k:02d}:02.500 --> {k:02d}:05.500 align:start\n")
            fh.write(f"Region {n}\nkey {k}\n\n")
    # '__ass' row (r13): ASS/SSA subtitles — one Dialogue event per
    # region row (layer k%2, centisecond timecodes: start = 60000*k +
    # 3500 for 2800 ms, override tags stripped, a \\N midline) plus a
    # Comment event and section headers the reader must drop.
    # sum_rkey reparses the key from the CLEANED text and adds the
    # layer.
    ass_file = base + "_region.ass"
    with open(ass_file, "w") as fh:
        fh.write("[Script Info]\nTitle: engine fixture\n\n[Events]\n")
        fh.write(
            "Format: Layer, Start, End, Style, Name, MarginL, MarginR, "
            "MarginV, Effect, Text\n"
        )
        fh.write("Comment: 0,0:00:00.10,0:00:00.20,Default,,0,0,0,,not a cue\n")
        for k, n in region_rows:
            fh.write(
                f"Dialogue: {k % 2},0:{k:02d}:03.50,0:{k:02d}:06.30,"
                f"Default,,0,0,0,,"
                f"Region {n}\\N{{\\i1}}key6 {k}{{\\i0}}, tail\n"
            )
    return [
        cue_row(
            read_srt(spark, srt_file),
            "__srt",
            F.regexp_extract("text", r"key (\d+)", 1).cast("long"),
        ),
        cue_row(
            read_vtt(spark, vtt_file),
            "__vtt",
            F.regexp_extract("text", r"key (\d+)", 1).cast("long")
            + F.regexp_extract("cue_id", r"c(\d+)", 1).cast("long"),
        ),
        cue_row(
            read_ass(spark, ass_file),
            "__ass",
            F.regexp_extract("text", r"key6 (\d+)", 1).cast("long") + F.col("layer"),
        ),
    ]


def _rt_web(spark: SparkSession, base: str, region_rows: list) -> list[DataFrame]:
    """The web rows: a crawl archive, a wiki dump and wikitext markup,
    one page per region row."""
    def text_row(df: DataFrame, tag: str, key_re: str) -> DataFrame:
        return df.agg(
            *_rt_row(
                tag,
                F.count(F.lit(1)),
                sum_nkey=F.sum(F.length("text")),
                sum_rkey=F.sum(F.regexp_extract("text", key_re, 1).cast("long")),
            )
        )

    # '__warc' + '__warcmd5_*' rows (r12, hardened r13): web-crawl
    # ingestion — an engine-written .warc.gz (one gzip member per
    # record, the Common Crawl layout) holding one HTML response per
    # region row, parsed by the distributed read_warc stage and
    # text-extracted by the all-JVM html_to_text pipeline. Odd-key
    # responses are captured the way real wire responses look:
    # Transfer-Encoding chunked framing (read_warc must reassemble
    # the entity or hex chunk sizes leak into the text) and a
    # windows-1252 charset with non-ASCII typography (the reader's
    # charset-aware `text` column must honor the DECLARED charset —
    # a latin-1 fallback would decode U+201C as the C1 control
    # U+0093; same length, so the md5 row is what catches it). The
    # expected plain text is the html pipeline's CONTRACT (title/p
    # closers -> newlines, script blocks dropped, &amp; decoded).
    warc_file = base + "_region.warc.gz"
    with open(warc_file, "wb") as fh:
        fh.write(
            encode_warc(
                [
                    (
                        f"http://crawl.example/r/{k}",
                        f"2026-01-01T00:00:{k:02d}Z",
                        (
                            f"<html><head><title>Región ({n})</title>"
                            f"</head><body><p>key &amp; {k} “q”</p>"
                            f"<script>var x = 1 < 2;</script></body></html>"
                        ),
                        {"chunked": True, "charset": "windows-1252"},
                    )
                    if k % 2 == 1
                    else (
                        f"http://crawl.example/r/{k}",
                        f"2026-01-01T00:00:{k:02d}Z",
                        f"<html><head><title>Region ({n})</title></head>"
                        f"<body><p>key &amp; {k}</p>"
                        f"<script>var x = 1 < 2;</script></body></html>",
                    )
                    for k, n in region_rows
                ],
                gzip_members=True,
            )
        )
    warc_texts = (
        read_warc(spark, warc_file)
        .where(F.col("warc_type") == "response")
        .select("url", TX.html_to_text(F.col("text")).alias("text"))
    )
    # '__wiki' row (r13): MediaWiki dump ingestion — an engine-written
    # bz2 export (the dump wire format) holding one ns-0 article per
    # region row PLUS a redirect and a Category page that the article
    # filter (ns = 0 AND redirect IS NULL) must exclude; parsed by
    # the streaming iterparse stage of read_mediawiki.
    wiki_file = base + "_region.xml.bz2"
    with open(wiki_file, "wb") as fh:
        fh.write(
            encode_mediawiki(
                [
                    (k + 1, 0, f"Region ({n})", f"wiki {n} key4 {k}")
                    for k, n in region_rows
                ]
                + [
                    (900, 0, "Old name", "#REDIRECT [[Region]]", "Region"),
                    (901, 14, "Category:Regions", "not an article"),
                ],
                compress="bz2",
            )
        )
    # '__wikitxt' row (r13): the wikitext -> plain-text cleaner (the
    # stage between read_mediawiki and quality/dedup) over per-region
    # markup exercising templates, piped links, refs and bold runs —
    # all-JVM column expressions; the oracle reconstructs the CLEANED
    # strings from region alone (fixture in, expected out — no
    # cross-engine regex replay needed).
    wikitxt = spark.createDataFrame(region_rows, "k long, n string").select(
        "k",
        TX.wikitext_to_text(
            F.format_string(
                "'''wiki''' [[X|%s place]] {{infobox|k=%d}} "
                "<ref>cite</ref>clean key5 %d",
                F.col("n"),
                F.col("k"),
                F.col("k"),
            )
        ).alias("text"),
    )
    return [
        text_row(warc_texts, "__warc", r"key & (\d+)"),
        _rt_md5_row(warc_texts, "warc", "url"),
        text_row(
            read_mediawiki(spark, wiki_file).where(
                (F.col("ns") == 0) & F.col("redirect").isNull()
            ),
            "__wiki",
            r"key4 (\d+)",
        ),
        text_row(wikitxt, "__wikitxt", r"key5 (\d+)"),
    ]


# The legs run concurrently and union in this order; the oracle is
# SRC_ROUNDTRIP_SQL.
SRC_ROUNDTRIP_LEGS: tuple[Setup, Legs] = (
    _rt_setup,
    (
        ("ingest", _rt_ingest),
        ("part", _rt_part),
        ("zver", _rt_zver),
        ("compact", _rt_compact),
        ("fixtures", _rt_fixtures),
        ("xlsx_ds", _rt_xlsx_ds),
        ("csv_dlq", _rt_csv_dlq),
    ),
)


def q_ml_exact_split(spark: SparkSession, sf: str) -> DataFrame:
    """M1 exact-count split parity (ref:62) plus the leakage-safe
    group split:

    - kind='split': every 5th row by global rank over the unique
      composite key is held out — oracle-checkable, unlike Bernoulli
      randomSplit; key = is_test as 0/1.
    - kind='fold': ML.group_split by l_orderkey — all lineitems of an
      order share a fold (the GroupKFold / dedup-cluster-aware split
      that prevents near-duplicates straddling train/eval); per-fold
      count + checksum, fold = md5 arithmetic the oracle replays.
    - kind='fold_ok': key carries the number of groups spanning >1
      fold (must be 0 — the leakage guarantee), n_rows the distinct
      group count (SQL-derivable).

    Checksums on l_quantity: integral-valued doubles sum exactly, so
    the hash is immune to cross-engine summation order."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(*_ORDER_KEY, "l_quantity")
    s = ML.exact_split(li, _ORDER_KEY, k=5)
    split_rows = s.groupBy(F.col("is_test")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
    ).select(
        F.lit("split").alias("kind"),
        F.col("is_test").cast("long").alias("key"),
        "n_rows",
        "sum_qty",
    )
    g = ML.group_split(li, ["l_orderkey"], k=5)
    fold_rows = g.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
    ).select(
        F.lit("fold").alias("kind"),
        F.col("fold").cast("long").alias("key"),
        "n_rows",
        "sum_qty",
    )
    span = (
        g.groupBy("l_orderkey")
        .agg(F.countDistinct("fold").alias("nf"))
        .agg(
            F.sum((F.col("nf") > 1).cast("long")).alias("spanning"),
            F.count(F.lit(1)).alias("n_groups"),
        )
        .first()
    )
    ok_row = spark.range(1).select(
        F.lit("fold_ok").alias("kind"),
        F.lit(int(span["spanning"])).cast("long").alias("key"),
        F.lit(int(span["n_groups"])).cast("long").alias("n_rows"),
        F.lit(None).cast("double").alias("sum_qty"),
    )
    return split_rows.unionByName(fold_rows).unionByName(ok_row)


def q_ml_tuned(spark: SparkSession, sf: str) -> DataFrame:
    """M7 (ref:71-93) rows-only: the CrossValidator tuning path with a
    reduced RF grid (2 points, 3 folds) on a deterministic ~1%
    subsample so bench cost stays bounded; the full ref:72-81 grid is
    the library default (``tuning_grid``)."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").where(F.col("l_orderkey") % 100 == 0)
    labeled = li.select(
        "l_quantity",
        "l_discount",
        "l_tax",
        (F.col("l_returnflag") == "A").cast("int").alias("target"),
    )
    res = ML.train_models(
        labeled,
        "target",
        is_classification=True,
        hyperparameter_tuning=True,
        param_grids={"Random Forest": {"numTrees": [5, 10]}},
    )
    return ML.train_models_df(spark, res)


# ------------------------------------------------ stream_batch_twin legs
#
# Streaming/batch agreement as a driver-visible query: one leg per
# streaming path, each draining its Structured Streaming query through
# the production parquet sink (``foreachBatch`` writes distributed,
# nothing funnels through the driver) and comparing the drained output
# against its batch twin in one verdict row (kind, n_windows, n_agree,
# all_agree). The memory-sink drain stays covered by
# tests/test_streaming.py. The drains are independent streaming
# queries, so their fixed per-query costs (checkpoint setup,
# micro-batch planning: ~2.5 s each alone) overlap across the legs;
# results are deterministic per drain, so concurrency cannot change
# values.

_TWIN_DD_KEYS = ["user_id", "event_type"]
# row-local rules only, so the union of per-batch routings must equal
# the batch dq_split exactly, label-group for label-group
_TWIN_DQ_RULES = [
    ("in_range", "value", 0.0, 250.0),
    ("accepted", "event_type", ["click", "view", "purchase", "signup"]),
    ("not_null", "user_id"),
]


def _twin_row(
    kind: str, n_windows: Column, n_agree: Column, all_agree: Column
) -> list[Column]:
    """One stream_batch_twin verdict row's columns."""
    return [
        F.lit(kind).alias("kind"),
        n_windows.alias("n_windows"),
        n_agree.alias("n_agree"),
        all_agree.alias("all_agree"),
    ]


def _agree_row(df: DataFrame, kind: str, agree: Column) -> DataFrame:
    """The verdict over a twin comparison frame: rows compared, rows
    where ``agree`` holds, and whether all do."""
    return df.agg(
        *_twin_row(
            kind, F.count(F.lit(1)), F.sum(agree.cast("long")), F.min(agree)
        )
    )


def _twin_setup(spark: SparkSession, sf: str) -> dict[str, Any]:
    """The batch events and the cloned session every drain runs on."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # All drains run on a CLONED session (shared SparkContext,
    # isolated SQLConf): stateful streaming cost scales with
    # STATE-STORE COUNT = shuffle partitions at query start (each
    # micro-batch opens/commits one store per partition per stateful
    # operator; the stream-stream join keeps 4+ per partition). 32
    # partitions for this bounded twin corpus measured 7.1 s for the
    # join drain alone vs 3.0 s at 8 — so the drains' session runs at
    # 8 while the HOST session is never mutated (queries planned
    # concurrently on it keep their parallelism). Production streams
    # size this to real key cardinality/throughput, not to a session
    # default. Cross-session frames mix freely downstream — the twin
    # comparisons execute on the host session against the drains'
    # parquet outputs. cloneSession (not newSession): the clone COPIES
    # the host's runtime SQL conf — newSession starts from defaults,
    # which silently dropped a harness-set session timezone and made
    # the drains window in a different zone than the batch twins
    # (caught by the hostile-session gate under Australia/Eucla).
    s2 = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return {
        "spark": spark,
        "s2": s2,
        "src": f"{sf}/events.parquet",
        "run_id": uuid.uuid4().hex[:8],
        # normalize BOTH twin sides' event time to TimestampType
        # (watermarks reject TIMESTAMP_NTZ; cast is value-preserving
        # under the pinned UTC session tz)
        "events": SP.ensure_event_time(EV.load_events(spark, sf)),
    }


def _twin_stream(ctx: dict[str, Any], **kw: Any) -> DataFrame:
    return SP.stream_events(ctx["s2"], ctx["src"], **kw)


def _twin_drain(ctx: dict[str, Any], stream: DataFrame, tag: str, *mode: Any) -> DataFrame:
    return SP.run_availablenow(stream, f"twin{tag}_{ctx['run_id']}", "parquet", *mode)


def _twin_tumbling(ctx: dict[str, Any]) -> DataFrame:
    """'tumbling': the windowed agg (complete mode) full-outer joined
    against its batch twin — n_windows windows, all must agree."""
    drained = _twin_drain(
        ctx, SP.tumbling_stream(SP.ensure_event_time(_twin_stream(ctx))), ""
    )
    s = drained.select(
        "window_start", "event_type", F.col("n_events").alias("s_n"), F.col("sum_value").alias("s_sum")
    )
    b = EV.tumbling_agg(ctx["events"]).select(
        "window_start", "event_type", F.col("n_events").alias("b_n"), F.col("sum_value").alias("b_sum")
    )
    j = s.join(b, ["window_start", "event_type"], "full_outer")
    # sum tolerance 1.5e-6: both sides round to 6 decimals but sum
    # their doubles in different partition orders, so a window whose
    # true sum sits on a 6th-decimal rounding boundary can legally
    # differ by exactly 1e-6 — exact equality would flake there.
    sums_agree = F.when(
        F.col("s_sum").isNull() | F.col("b_sum").isNull(),
        F.col("s_sum").eqNullSafe(F.col("b_sum")),
    ).otherwise(F.abs(F.col("s_sum") - F.col("b_sum")) < 1.5e-6)
    return _agree_row(j, "tumbling", F.col("s_n").eqNullSafe(F.col("b_n")) & sums_agree)


def _twin_dedup(ctx: dict[str, Any]) -> DataFrame:
    """'dedup': ``dedup_stream`` (``dropDuplicatesWithinWatermark``,
    append mode) with a horizon wider than the data's time range, so
    no id is ever evicted and its emitted key set must EQUAL the batch
    distinct set. Rows themselves are arrival-order-dependent (first
    occurrence wins), the KEY SET is not — compared as a full-outer
    join on the key, not just by count."""
    dd = _twin_drain(
        ctx,
        ST.dedup_stream(_twin_stream(ctx), _TWIN_DD_KEYS, "ts", delay="3650 days"),
        "_dd",
        None,
        "append",
    )
    dj = dd.select(*_TWIN_DD_KEYS, F.lit(1).alias("s_seen")).join(
        ctx["events"].select(*_TWIN_DD_KEYS).distinct().withColumn("b_seen", F.lit(1)),
        _TWIN_DD_KEYS,
        "full_outer",
    )
    return _agree_row(
        dj, "dedup", F.col("s_seen").isNotNull() & F.col("b_seen").isNotNull()
    )


def _twin_stateful(ctx: dict[str, Any]) -> DataFrame:
    """'stateful': ``user_running_stats`` (``applyInPandasWithState``,
    update mode): each user's final carried state (count, sum) after
    all micro-batches must equal the batch groupBy. Last-writer-wins
    via the drain's __batch_id; sum tolerance as in 'tumbling' (state
    accumulates in micro-batch arrival order)."""
    st = _twin_drain(
        ctx, ST.user_running_stats(_twin_stream(ctx)), "_st", None, "update"
    )
    st_final = SP.latest_by_key(st, ["user_id"]).select(
        "user_id", F.col("n_events").alias("s_n"), F.col("sum_value").alias("s_sum")
    )
    st_batch = ctx["events"].groupBy("user_id").agg(
        F.count(F.lit(1)).alias("b_n"), F.sum("value").alias("b_sum")
    )
    sj = st_final.join(st_batch, "user_id", "full_outer")
    return _agree_row(
        sj,
        "stateful",
        F.col("s_n").eqNullSafe(F.col("b_n"))
        & F.col("s_sum").isNotNull()
        & F.col("b_sum").isNotNull()
        & (F.abs(F.col("s_sum") - F.col("b_sum")) < 1.5e-6),
    )


def _twin_join(ctx: dict[str, Any]) -> DataFrame:
    """'join': ``interval_join_stream`` — a watermarked STREAM-STREAM
    interval join (views attributed to same-user purchases within 30
    minutes, both sides streams with bounded join state). Inner-join
    emission is eager (not watermark-gated), so with a
    horizon-spanning watermark the emitted (l_id, r_id) pair set must
    EQUAL the batch interval join's — compared pair-for-pair."""
    sj_pairs = _twin_drain(
        ctx,
        SP.interval_join_stream(_twin_stream(ctx), _twin_stream(ctx)),
        "_j",
        None,
        "append",
    )
    events = ctx["events"]
    v = events.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("l_id"), F.col("ts").alias("l_ts")
    )
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("__r_key"),
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_ts"),
    )
    batch_pairs = v.join(
        p,
        (F.col("user_id") == F.col("__r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes")),
        "inner",
    ).select("l_id", "r_id")
    jj = sj_pairs.select("l_id", "r_id", F.lit(1).alias("s_seen")).join(
        batch_pairs.withColumn("b_seen", F.lit(1)),
        ["l_id", "r_id"],
        "full_outer",
    )
    return _agree_row(
        jj, "join", F.col("s_seen").isNotNull() & F.col("b_seen").isNotNull()
    )


def _twin_session(ctx: dict[str, Any]) -> DataFrame:
    """'session': ``session_stream`` (``F.session_window``, the
    stateful MERGING window — state is per-session intervals that
    coalesce as late events bridge gaps, unlike tumbling's fixed
    buckets) — every (user_id, session_start, n_events) session
    full-outer compared against the batch ``session_agg`` twin.
    session_start is the merged window's start, so a mis-merged
    session shifts the key and shows up as two unmatched rows, not a
    near-miss; the oracle independently replays the session set as
    gaps-and-islands SQL."""
    sess = _twin_drain(ctx, SP.session_stream(_twin_stream(ctx)), "_sess")
    s_sess = sess.select(
        "user_id", "session_start", F.col("n_events").alias("s_n")
    )
    b_sess = EV.session_agg(ctx["events"]).select(
        "user_id", "session_start", F.col("n_events").alias("b_n")
    )
    sessj = s_sess.join(b_sess, ["user_id", "session_start"], "full_outer")
    return _agree_row(sessj, "session", F.col("s_n").eqNullSafe(F.col("b_n")))


def _twin_versioned(ctx: dict[str, Any]) -> DataFrame:
    """'versioned': ``stream_to_versioned_table`` — transactional
    append ingestion, one manifest version per micro-batch, so a
    pinned reader never sees a half-visible batch; the final pinned
    version holds exactly the batch count and per-version counts
    strictly increase. Then 'cdf_feed' (r11): the streaming CHANGE
    DATA FEED source (sources/cdf_stream.py, a Spark-4 Python
    streaming DataSource whose offsets ARE the manifest version
    numbers) drains this table's own commit sequence with
    availableNow, so it runs in this leg, after the versioned drain."""
    spark, events, run_id = ctx["spark"], ctx["events"], ctx["run_id"]
    b = scratch_dir(f"twin_ver_{run_id}")
    root = os.path.join(b, "tbl")
    ver_versions = SP.stream_to_versioned_table(
        _twin_stream(ctx), root, os.path.join(b, "data")
    )
    fb = scratch_dir(f"twin_cdf_feed_{run_id}")
    cdf_out = os.path.join(fb, "out")
    (
        read_manifest_cdf(spark, root, ["event_id"])
        .writeStream.format("parquet")
        .option("path", cdf_out)
        .option("checkpointLocation", os.path.join(fb, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # Counts are bounded scans of the committed files: each commit =
    # previous files + one batch, no batch half-visible, no batch lost.
    ver_counts = [MF.read_version(spark, root, v).count() for v in ver_versions]
    n_events = events.count()
    ver_ok = (
        bool(ver_counts)
        and ver_counts[-1] == n_events
        and all(a < b for a, b in zip(ver_counts, ver_counts[1:]))
    )
    versioned_row = spark.range(1).select(
        *_twin_row(
            "versioned",
            F.lit(ver_counts[-1] if ver_counts else 0).cast("long"),
            F.lit(n_events if ver_ok else 0).cast("long"),
            F.lit(ver_ok),
        )
    )
    # The table is append-only here, so the cumulative feed must be
    # exactly one 'added' row per event — compared key-for-key against
    # the raw events (an INDEPENDENT twin: the feed computes its diffs
    # executor-side with pyarrow, never through Spark's exceptAll). The
    # dirs the feed reads are the versioned drain's committed
    # manifests — so this row also re-checks that chain.
    s_feed = (
        spark.read.schema("version int, change string, event_id long")
        .parquet(cdf_out)
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("s_n"),
            F.min(F.col("change") == F.lit("added")).alias("s_added"),
        )
    )
    fj = s_feed.join(
        events.select("event_id").withColumn("b_seen", F.lit(1)),
        "event_id",
        "full_outer",
    )
    feed_agree = (
        F.col("s_n").eqNullSafe(F.lit(1))
        & F.coalesce(F.col("s_added"), F.lit(False))
        & F.col("b_seen").isNotNull()
    )
    return versioned_row.unionByName(_agree_row(fj, "cdf_feed", feed_agree))


def _twin_cdc(ctx: dict[str, Any]) -> DataFrame:
    """'cdc': ``stream_cdc_to_versioned_table`` — streaming CDC MERGE
    with newer-wins resolution; the merged table's final row per
    (user_id, event_type) must equal the batch per-key argmax by
    (ts, event_id), key-for-key (batching-independent because
    event_id totalizes the order)."""
    b = scratch_dir(f"twin_cdc_{ctx['run_id']}")
    root = os.path.join(b, "tbl")
    SP.stream_cdc_to_versioned_table(
        _twin_stream(ctx, max_files_per_trigger=2).where(F.col("user_id") % 25 == 0),
        root,
        os.path.join(b, "data"),
        ["user_id", "event_type"],
        ["ts", "event_id"],
    )
    cdc_final = MF.read_version(ctx["spark"], root).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("s_eid"),
        F.col("value").alias("s_val"),
    )
    cdc_twin = (
        ctx["events"].where(F.col("user_id") % 25 == 0)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id", "event_type").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("b_eid"),
            F.col("value").alias("b_val"),
        )
    )
    cdcj = cdc_final.join(cdc_twin, ["user_id", "event_type"], "full_outer")
    return _agree_row(
        cdcj,
        "cdc",
        F.col("s_eid").eqNullSafe(F.col("b_eid"))
        & F.col("s_val").eqNullSafe(F.col("b_val")),
    )


def _twin_dq(ctx: dict[str, Any]) -> DataFrame:
    """'dq': ``stream_dq_split`` — dead-letter-queue quarantine routing
    on row-local rules; the streamed passed/quarantined label-group
    counts must equal the batch ``dq_split`` of the same rules over
    the full slice, group-for-group (passed rows ride as the ''
    label group, quarantined groups by their '|'-joined labels;
    row-local routing is micro-batch-boundary-invariant by
    construction)."""
    spark, events = ctx["spark"], ctx["events"]
    b = scratch_dir(f"twin_dq_{ctx['run_id']}")
    p_dir = os.path.join(b, "passed")
    q_dir = os.path.join(b, "quarantined")
    SP.stream_dq_split(_twin_stream(ctx), _TWIN_DQ_RULES, p_dir, q_dir)
    # explicit schemas on both sink reads (r9 advice): a fixture where
    # every row routes one way leaves the other sink with ZERO part
    # files, and schema inference on an empty dir throws — the
    # stream_dq_split docstring's own caveat, defended here
    q_schema = T.StructType(
        list(events.schema.fields) + [T.StructField("__dq_labels", T.StringType())]
    )
    s_dq = (
        spark.read.schema(events.schema).parquet(p_dir)
        .select(F.lit("").alias("labels"))
        .unionByName(
            spark.read.schema(q_schema).parquet(q_dir).select(
                F.col("__dq_labels").alias("labels")
            )
        )
        .groupBy("labels")
        .agg(F.count(F.lit(1)).alias("s_n"))
    )
    b_passed, b_quar = P.dq_split(events, _TWIN_DQ_RULES)
    b_dq = (
        b_passed.select(F.lit("").alias("labels"))
        .unionByName(
            b_quar.select(F.array_join("__dq_violations", "|").alias("labels"))
        )
        .groupBy("labels")
        .agg(F.count(F.lit(1)).alias("b_n"))
    )
    dqj = s_dq.join(b_dq, "labels", "full_outer")
    return _agree_row(dqj, "dq", F.col("s_n").eqNullSafe(F.col("b_n")))


STREAM_BATCH_TWIN_LEGS: tuple[Setup, Legs] = (
    _twin_setup,
    (
        ("tumbling", _twin_tumbling),
        ("dedup", _twin_dedup),
        ("stateful", _twin_stateful),
        ("join", _twin_join),
        ("session", _twin_session),
        ("versioned", _twin_versioned),
        ("cdc", _twin_cdc),
        ("dq", _twin_dq),
    ),
)


# ---------------------------------------------------------------- oracles

_MASKED_CTE = """
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         row_number() OVER (
           ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
         ) - 1 AS pos,
         l_extendedprice
  FROM lineitem
), m AS (
  SELECT *, CASE WHEN pos % 7 IN (0, 3) THEN NULL ELSE l_extendedprice END AS v FROM base
), w AS (
  SELECT *,
    last_value(v IGNORE NULLS) OVER fwd AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN CAST(pos AS DOUBLE) END IGNORE NULLS) OVER fwd AS pp,
    first_value(v IGNORE NULLS) OVER bwd AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN CAST(pos AS DOUBLE) END IGNORE NULLS) OVER bwd AS np
  FROM m
  WINDOW
    fwd AS (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    bwd AS (ORDER BY pos ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
"""


def _describe_numeric_sql() -> list[str]:
    """The 'numeric' leg's oracle arms:
    describe_numeric over the numeric lineitem columns."""
    parts = []
    for c in LINEITEM_NUM:
        parts.append(
            f"""SELECT 'numeric' AS kind, '{c}' AS col_name,
  count({c})::BIGINT AS count,
  round(avg({c}), 6) AS mean,
  round(stddev_samp({c}), 6) AS std,
  round(min({c})::DOUBLE, 6) AS min,
  round(quantile_cont({c}::DOUBLE, 0.25), 6) AS p25,
  round(quantile_cont({c}::DOUBLE, 0.5), 6) AS p50,
  round(quantile_cont({c}::DOUBLE, 0.75), 6) AS p75,
  round(max({c})::DOUBLE, 6) AS max,
  CAST(NULL AS BIGINT) AS n_unique, CAST(NULL AS VARCHAR) AS top,
  CAST(NULL AS BIGINT) AS freq
FROM lineitem"""
        )
    return parts


def _describe_object_sql() -> list[str]:
    """The 'object' leg's oracle arms:
    describe_object over two customer string columns."""
    parts = []
    for c in ["c_name", "c_mktsegment"]:
        parts.append(
            f"""SELECT 'object' AS kind, '{c}' AS col_name, count,
  CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS std,
  CAST(NULL AS DOUBLE) AS min, CAST(NULL AS DOUBLE) AS p25,
  CAST(NULL AS DOUBLE) AS p50, CAST(NULL AS DOUBLE) AS p75,
  CAST(NULL AS DOUBLE) AS max, n_unique, top, freq
FROM (
  SELECT sum(n)::BIGINT AS count, count(*)::BIGINT AS n_unique,
         max(CASE WHEN rn = 1 THEN value END) AS top,
         max(CASE WHEN rn = 1 THEN n END)::BIGINT AS freq
  FROM (
    SELECT value, n, row_number() OVER (ORDER BY n DESC, value) AS rn
    FROM (SELECT {c} AS value, count(*) AS n FROM customer WHERE {c} IS NOT NULL GROUP BY 1)
  )
)"""
        )
    return parts


def _describe_dq_sql() -> list[str]:
    """The 'dq' leg's oracle arms:
    dq_report rules, the referential-integrity check and fd_report."""
    parts = []
    # 'dq' legs — same rule arithmetic as profile.dq_report /
    # dq_ref_integrity, one scalar subquery block per rule
    dq_rules = [
        ("not_null:o_custkey", "o_custkey",
         "count(*)", "count(CASE WHEN o_custkey IS NULL THEN 1 END)"),
        ("unique:o_orderkey", "o_orderkey",
         "count(o_orderkey)", "count(o_orderkey) - count(DISTINCT o_orderkey)"),
        ("in_range:o_totalprice", "o_totalprice",
         "count(o_totalprice)",
         "count(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1e9 THEN 1 END)"),
        ("accepted:o_orderstatus", "o_orderstatus",
         "count(o_orderstatus)",
         "count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END)"),
        ("expr:price_priority", "price_priority",
         "count(*)",
         "count(CASE WHEN NOT coalesce(o_totalprice < 100000.0 "
         "OR o_orderpriority IN ('1-URGENT', '2-HIGH'), false) THEN 1 END)"),
    ]
    for rule, col, checked, viol in dq_rules:
        parts.append(
            f"""SELECT 'dq' AS kind, '{rule}' AS col_name,
  c AS count, round(v / (CASE WHEN c > 0 THEN c ELSE 1 END), 6) AS mean,
  CAST(NULL AS DOUBLE) AS std, CAST(NULL AS DOUBLE) AS min,
  CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50,
  CAST(NULL AS DOUBLE) AS p75, CAST(NULL AS DOUBLE) AS max,
  v AS n_unique, '{col}' AS top,
  (CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS freq
FROM (SELECT {checked}::BIGINT AS c, {viol}::BIGINT AS v FROM orders)"""
        )
    parts.append(
        """SELECT 'dq' AS kind, 'ref_integrity:o_custkey' AS col_name,
  c AS count, round(v / (CASE WHEN c > 0 THEN c ELSE 1 END), 6) AS mean,
  CAST(NULL AS DOUBLE) AS std, CAST(NULL AS DOUBLE) AS min,
  CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50,
  CAST(NULL AS DOUBLE) AS p75, CAST(NULL AS DOUBLE) AS max,
  v AS n_unique, 'o_custkey' AS top,
  (CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS freq
FROM (
  SELECT count(*)::BIGINT AS c,
         count(CASE WHEN c_custkey IS NULL THEN 1 END)::BIGINT AS v
  FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o
  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) cc
    ON o.o_custkey = cc.c_custkey
)"""
    )
    # 'fd' legs — group-level functional-dependency violation rates,
    # same arithmetic as profile.fd_report
    fd_specs = [
        ("fd:c_custkey->c_name", "c_name", "c_custkey"),
        ("fd:c_nationkey->c_mktsegment", "c_mktsegment", "c_nationkey"),
        (
            "fd:c_nationkey,c_mktsegment->c_acctbal",
            "c_acctbal",
            "c_nationkey, c_mktsegment",
        ),
    ]
    for rule, dep, det_sql in fd_specs:
        parts.append(
            f"""SELECT 'dq' AS kind, '{rule}' AS col_name,
  c AS count, round(v / (CASE WHEN c > 0 THEN c ELSE 1 END), 6) AS mean,
  CAST(NULL AS DOUBLE) AS std, CAST(NULL AS DOUBLE) AS min,
  CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50,
  CAST(NULL AS DOUBLE) AS p75, CAST(NULL AS DOUBLE) AS max,
  v AS n_unique, '{dep}' AS top,
  (CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS freq
FROM (
  SELECT count(*)::BIGINT AS c,
         sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS v
  FROM (SELECT {det_sql}, count(DISTINCT {dep}) AS nd
        FROM customer GROUP BY ALL)
)"""
        )
    return parts


def _describe_split_sql() -> list[str]:
    """The 'split' leg's oracle arms: dq_split passed/quarantined counts."""
    parts = []
    # dq_split twin: per-row violation labels in the engine's rule
    # order, joined by '|' — passed/quarantined row counts + distinct
    # label-set count on the quarantined side
    # coalesce: DuckDB's array_to_string([]) is NULL, not '' — a
    # fully-passing row would otherwise vanish from BOTH branches
    # (caught by the sf0.1 gate: sf0.01 has zero passing rows)
    split_labels = """
  SELECT coalesce(array_to_string(list_filter([
    CASE WHEN o.o_totalprice IS NOT NULL
              AND (o.o_totalprice < 0.0 OR o.o_totalprice > 150000.0)
         THEN 'in_range:o_totalprice' END,
    CASE WHEN o.o_orderpriority IS NOT NULL
              AND o.o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM')
         THEN 'accepted:o_orderpriority' END,
    CASE WHEN d.k IS NOT NULL THEN 'unique:o_custkey' END
  ], x -> x IS NOT NULL), '|'), '') AS labels
  FROM orders o LEFT JOIN (
    SELECT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL
    GROUP BY 1 HAVING count(*) > 1
  ) d ON o.o_custkey = d.k
"""
    parts.append(
        f"""SELECT 'dq' AS kind, 'split:passed' AS col_name,
  count(*)::BIGINT AS count,
  CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS std,
  CAST(NULL AS DOUBLE) AS min, CAST(NULL AS DOUBLE) AS p25,
  CAST(NULL AS DOUBLE) AS p50, CAST(NULL AS DOUBLE) AS p75,
  CAST(NULL AS DOUBLE) AS max, CAST(NULL AS BIGINT) AS n_unique,
  CAST(NULL AS VARCHAR) AS top, CAST(NULL AS BIGINT) AS freq
FROM ({split_labels}) WHERE labels = ''"""
    )
    parts.append(
        f"""SELECT 'dq' AS kind, 'split:quarantined' AS col_name,
  count(*)::BIGINT AS count,
  CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS std,
  CAST(NULL AS DOUBLE) AS min, CAST(NULL AS DOUBLE) AS p25,
  CAST(NULL AS DOUBLE) AS p50, CAST(NULL AS DOUBLE) AS p75,
  CAST(NULL AS DOUBLE) AS max,
  count(DISTINCT labels)::BIGINT AS n_unique,
  CAST(NULL AS VARCHAR) AS top, CAST(NULL AS BIGINT) AS freq
FROM ({split_labels}) WHERE labels <> ''"""
    )
    return parts


def _describe_privacy_sql() -> list[str]:
    """The 'privacy' leg's oracle arms: the k-anonymity / l-diversity release audit."""
    parts = []
    # privacy legs — k-anonymity / l-diversity rollup over the
    # (c_nationkey, c_mktsegment) equivalence classes, sensitive
    # attribute = floor(c_acctbal / 1000)
    k_anon_agg = """
  SELECT count(*)::BIGINT AS n_classes, sum(cs)::BIGINT AS n_rows,
         min(cs)::BIGINT AS min_class_size,
         sum(CASE WHEN cs < 5 THEN 1 ELSE 0 END)::BIGINT AS n_small_classes,
         sum(CASE WHEN cs < 5 THEN cs ELSE 0 END)::BIGINT AS n_rows_at_risk,
         sum(CASE WHEN ld < 2 THEN 1 ELSE 0 END)::BIGINT AS n_low_diversity
  FROM (SELECT c_nationkey, c_mktsegment, count(*) AS cs,
               count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS ld
        FROM customer GROUP BY 1, 2)
"""
    parts.append(
        f"""SELECT 'dq' AS kind, 'k_anon:c_nationkey,c_mktsegment' AS col_name,
  n_classes AS count,
  round(n_rows_at_risk::DOUBLE / n_rows, 6) AS mean,
  CAST(NULL AS DOUBLE) AS std, CAST(NULL AS DOUBLE) AS min,
  CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50,
  CAST(NULL AS DOUBLE) AS p75, CAST(NULL AS DOUBLE) AS max,
  n_small_classes AS n_unique, min_class_size::VARCHAR AS top,
  (CASE WHEN n_small_classes = 0 THEN 1 ELSE 0 END)::BIGINT AS freq
FROM ({k_anon_agg})"""
    )
    parts.append(
        f"""SELECT 'dq' AS kind, 'l_div:acct_bucket' AS col_name,
  n_classes AS count, CAST(NULL AS DOUBLE) AS mean,
  CAST(NULL AS DOUBLE) AS std, CAST(NULL AS DOUBLE) AS min,
  CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50,
  CAST(NULL AS DOUBLE) AS p75, CAST(NULL AS DOUBLE) AS max,
  n_low_diversity AS n_unique, CAST(NULL AS VARCHAR) AS top,
  (CASE WHEN n_low_diversity = 0 THEN 1 ELSE 0 END)::BIGINT AS freq
FROM ({k_anon_agg})"""
    )
    return parts


def _describe_sketch_sql() -> list[str]:
    """The 'sketch' leg's oracle arms:
    HLL distinct sketches, pinned by the exact distinct count."""
    parts = []
    # 'sketch' legs — the exact-distinct twin pins count; freq = 1
    # expects BOTH the global HLL estimate and the union-of-shard
    # estimate within 5% of exact (engine-side fused verdict, the
    # ra_ok convention)
    for c in ("o_custkey", "o_orderdate", "o_orderpriority"):
        parts.append(
            f"""SELECT 'sketch' AS kind, 'hll:{c}' AS col_name,
  count(DISTINCT {c})::BIGINT AS count, CAST(NULL AS DOUBLE) AS mean,
  CAST(NULL AS DOUBLE) AS std, CAST(NULL AS DOUBLE) AS min,
  CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50,
  CAST(NULL AS DOUBLE) AS p75, CAST(NULL AS DOUBLE) AS max,
  CAST(NULL AS BIGINT) AS n_unique, '{c}' AS top, 1::BIGINT AS freq
FROM orders"""
        )
    return parts


def _describe_inc_sql() -> list[str]:
    """The 'inc' leg's oracle arms: the incremental sketch store."""
    parts = []
    # incremental sketch-store legs: count = total rows conserved
    # across the two store batches, n_unique = the batch count, freq =
    # the engine-side estimate-vs-exact + row-conservation verdict
    for c in ("o_custkey", "o_orderpriority"):
        parts.append(
            f"""SELECT 'sketch' AS kind, 'inc:{c}' AS col_name,
  count(*)::BIGINT AS count, CAST(NULL AS DOUBLE) AS mean,
  CAST(NULL AS DOUBLE) AS std, CAST(NULL AS DOUBLE) AS min,
  CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50,
  CAST(NULL AS DOUBLE) AS p75, CAST(NULL AS DOUBLE) AS max,
  2::BIGINT AS n_unique, '{c}' AS top, 1::BIGINT AS freq
FROM orders"""
        )
    return parts


def _describe_all_oracle() -> str:
    legs = (
        _describe_numeric_sql,
        _describe_object_sql,
        _describe_dq_sql,
        _describe_split_sql,
        _describe_privacy_sql,
        _describe_sketch_sql,
        _describe_inc_sql,
    )
    return "\nUNION ALL\n".join(part for leg in legs for part in leg())

def _corr_matrix_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    parts = []
    for i, ci in enumerate(cols):
        for cj in cols[i:]:
            parts.append(
                f"SELECT '{ci}' AS col_x, '{cj}' AS col_y, "
                f"round(corr({ci}, {cj}), 6) AS pearson_r FROM lineitem"
            )
    cte = """
WITH u AS (
  SELECT CASE WHEN o_orderdate < DATE '1995-01-01' THEN 0 ELSE 1 END AS side,
         CAST(o_totalprice AS DOUBLE) AS x
  FROM orders WHERE o_totalprice IS NOT NULL
), s AS (SELECT min(x) AS mn, max(x) AS mx FROM u),
b AS (
  SELECT side,
         (CASE WHEN mx = mn THEN 0
          ELSE LEAST(floor((x - mn) / ((mx - mn) / 10.0)), 9) END)::BIGINT AS bucket,
         count(*)::BIGINT AS n
  FROM u CROSS JOIN s GROUP BY 1, 2
), bb AS (
  SELECT bucket,
         CAST(sum(CASE WHEN side = 0 THEN n ELSE 0 END) AS DOUBLE) AS n0,
         CAST(sum(CASE WHEN side = 1 THEN n ELSE 0 END) AS DOUBLE) AS n1
  FROM b GROUP BY 1
), pq AS (
  SELECT bucket,
         n0 / (SELECT sum(n0) FROM bb) AS p,
         n1 / (SELECT sum(n1) FROM bb) AS q,
         sum(n0 / (SELECT sum(n0) FROM bb)) OVER (ORDER BY bucket) AS cp,
         sum(n1 / (SELECT sum(n1) FROM bb)) OVER (ORDER BY bucket) AS cq
  FROM bb
)
"""
    drift = """
SELECT '__drift' AS col_x, 'p:' || bucket::VARCHAR AS col_y,
       round(p, 6) AS pearson_r FROM pq
UNION ALL
SELECT '__drift', 'q:' || bucket::VARCHAR, round(q, 6) FROM pq
UNION ALL
SELECT '__drift', 'psi:-1',
       round(sum((greatest(p, 1e-6) - greatest(q, 1e-6))
                 * ln(greatest(p, 1e-6) / greatest(q, 1e-6))), 6)
FROM pq
UNION ALL
SELECT '__drift', 'ks:-1', round(max(abs(cp - cq)), 6) FROM pq
UNION ALL
SELECT '__drift', 'tvd:-1', round(sum(abs(p - q)) / 2.0, 6) FROM pq
"""
    return cte + "\nUNION ALL\n".join(parts) + "\nUNION ALL\n" + drift


def _sql_locale_parse(e: str) -> str:
    """DuckDB replay of C.coerce_numeric_locale's disambiguation
    contract over the SQL string expression ``e``."""
    return f"""CASE
    WHEN strpos({e}, ',') > 0 AND strpos({e}, '.') > 0 THEN
      CASE WHEN strpos(reverse({e}), ',') < strpos(reverse({e}), '.')
           THEN TRY_CAST(replace(translate({e}, '.', ''), ',', '.') AS DOUBLE)
           ELSE TRY_CAST(translate({e}, ',', '') AS DOUBLE) END
    WHEN strpos({e}, ',') > 0 THEN
      CASE WHEN regexp_matches({e}, '^-?[0-9]+,[0-9]{{1,2}}$')
           THEN TRY_CAST(replace({e}, ',', '.') AS DOUBLE)
           ELSE TRY_CAST(translate({e}, ',', '') AS DOUBLE) END
    WHEN regexp_matches({e}, '^-?[0-9]{{1,3}}(\\.[0-9]{{3}}){{2,}}$')
         THEN TRY_CAST(translate({e}, '.', '') AS DOUBLE)
    ELSE TRY_CAST({e} AS DOUBLE)
  END"""


def _integration_funnel_oracle() -> str:
    """Replay of PL.integration_funnel's five stages, mapped into the
    harmonize_union schema (counts ride cust_key, the golden balance
    checksum rides acct_bal)."""

    def messy(filter_sql: str, bal_sql: str, eu: bool) -> str:
        grouped = "format('{:,}', ip) || '.' || fr"
        rendered = (
            f"translate({grouped}, ',.', '.,')" if eu else "ip::VARCHAR || '.' || fr"
        )
        return f"""
  SELECT k, sgn || {rendered} AS bal_str
  FROM (
    SELECT c_custkey AS k,
           CASE WHEN cents < 0 THEN '-' ELSE '' END AS sgn,
           abs(cents) // 100 AS ip,
           lpad((abs(cents) % 100)::VARCHAR, 2, '0') AS fr
    FROM (SELECT c_custkey, CAST(round(({bal_sql}) * 100) AS BIGINT) AS cents
          FROM customer WHERE {filter_sql})
  )"""

    row = (
        "SELECT {n}::BIGINT AS cust_key, '{stage}' AS name, "
        "CAST(NULL AS INTEGER) AS nation_key, {checksum} AS acct_bal, "
        "'__integrate' AS mktsegment, CAST(NULL AS BIGINT) AS supp_key FROM {src}"
    )
    return f"""
SELECT * FROM (
WITH fa AS ({messy("c_custkey % 2 = 0", "c_acctbal", eu=True)}),
fb AS ({messy("c_custkey % 3 = 0", "c_acctbal + 1000.0", eu=False)}),
pa AS (SELECT k, {_sql_locale_parse("bal_str")} AS bal FROM fa),
pb AS (SELECT k, {_sql_locale_parse("bal_str")} AS bal FROM fb),
fg AS (
  SELECT coalesce(pa.k, pb.k) AS k, coalesce(pa.bal, pb.bal) AS bal
  FROM pa FULL OUTER JOIN pb ON pa.k = pb.k
)
{row.format(n="count(*)", stage="src_a", checksum="CAST(NULL AS DOUBLE)", src="fa")}
UNION ALL
{row.format(n="count(*)", stage="src_b", checksum="CAST(NULL AS DOUBLE)", src="fb")}
UNION ALL
{row.format(n="(SELECT count(*) FROM fa) + (SELECT count(*) FROM fb)",
            stage="harmonized", checksum="CAST(NULL AS DOUBLE)", src="(SELECT 1)")}
UNION ALL
{row.format(n="(SELECT count(CASE WHEN bal IS NOT NULL THEN 1 END) FROM pa)"
              " + (SELECT count(CASE WHEN bal IS NOT NULL THEN 1 END) FROM pb)",
            stage="parsed_ok", checksum="CAST(NULL AS DOUBLE)", src="(SELECT 1)")}
UNION ALL
{row.format(n="count(*)", stage="golden", checksum="round(sum(bal), 2)", src="fg")}
UNION ALL
{row.format(n="count(*)", stage="golden_from_b", checksum="CAST(NULL AS DOUBLE)",
            src="pb LEFT JOIN pa ON pa.k = pb.k WHERE pa.k IS NULL")}
)
"""


def _schema_match_oracle() -> str:
    """The '__schema_match' legs: VALUES literals for the
    (pair, name_sim) metadata come from the SAME python helper the
    engine uses (full-precision repr round-trips identically), the
    value-overlap counts from the same unpivot+join the engine runs."""
    from data_integration_and_harmonization_spark.operators.harmonize import (
        name_similarity,
    )

    cust = [
        ("c_custkey", "num", "CAST(c_custkey AS VARCHAR)"),
        ("c_nationkey", "num", "CAST(c_nationkey AS VARCHAR)"),
        ("c_acctbal", "num", None),
        ("c_name", "str", "c_name"),
        ("c_mktsegment", "str", "c_mktsegment"),
    ]
    supp = [
        ("s_suppkey", "num", "CAST(s_suppkey AS VARCHAR)"),
        ("s_nationkey", "num", "CAST(s_nationkey AS VARCHAR)"),
        ("s_acctbal", "num", None),
        ("s_name", "str", "s_name"),
    ]
    va = " UNION ALL ".join(
        f"SELECT '{c}' AS col_a, {e} AS v FROM customer"
        for c, _, e in cust
        if e
    )
    vb = " UNION ALL ".join(
        f"SELECT '{c}' AS col_b, {e} AS v FROM supplier"
        for c, _, e in supp
        if e
    )
    vals = ", ".join(
        f"('{ca}', '{cb}', CAST({name_similarity(ca, cb)!r} AS DOUBLE))"
        for ca, fa, _ in cust
        for cb, fb, _ in supp
        if fa == fb
    )
    return f"""
SELECT p.n_common AS cust_key, p.col_a || '->' || p.col_b AS name,
       CAST(p.n_a AS INTEGER) AS nation_key,
       round(0.6 * coalesce(p.jac, 0.0) + 0.4 * p.name_sim, 6) AS acct_bal,
       '__schema_match' AS mktsegment, p.n_b AS supp_key
FROM (
  SELECT pr.col_a, pr.col_b, pr.name_sim, na.n_a, nb.n_b,
         coalesce(i.n_common, 0)::BIGINT AS n_common,
         CASE WHEN na.n_a IS NOT NULL AND nb.n_b IS NOT NULL
              THEN CAST(coalesce(i.n_common, 0) AS DOUBLE)
                   / (na.n_a + nb.n_b - coalesce(i.n_common, 0))
         END AS jac
  FROM (VALUES {vals}) pr(col_a, col_b, name_sim)
  LEFT JOIN (SELECT col_a, count(*)::BIGINT AS n_a
             FROM (SELECT DISTINCT col_a, v FROM ({va}) WHERE v IS NOT NULL)
             GROUP BY 1) na USING (col_a)
  LEFT JOIN (SELECT col_b, count(*)::BIGINT AS n_b
             FROM (SELECT DISTINCT col_b, v FROM ({vb}) WHERE v IS NOT NULL)
             GROUP BY 1) nb USING (col_b)
  LEFT JOIN (SELECT col_a, col_b, count(*)::BIGINT AS n_common
             FROM (SELECT DISTINCT col_a, v FROM ({va}) WHERE v IS NOT NULL) x
             JOIN (SELECT DISTINCT col_b, v FROM ({vb}) WHERE v IS NOT NULL) y
               USING (v)
             GROUP BY 1, 2) i USING (col_a, col_b)
) p
"""


HARMONIZE_UNION_SQL = (
    """
SELECT c_custkey AS cust_key, c_name AS name, c_nationkey AS nation_key,
       c_acctbal AS acct_bal, c_mktsegment AS mktsegment,
       CAST(NULL AS BIGINT) AS supp_key
FROM customer
UNION ALL
SELECT CAST(NULL AS BIGINT), s_name, s_nationkey, s_acctbal,
       CAST(NULL AS VARCHAR), s_suppkey
FROM supplier
UNION ALL
"""
    + _schema_match_oracle()
    + "\nUNION ALL\n"
    + _integration_funnel_oracle()
)

CLEAN_COERCE_SQL = f"""
SELECT l_orderkey, l_linenumber,
  CASE WHEN l_linenumber = 1 THEN NULL
       WHEN l_linenumber = 2 THEN NULL
       ELSE TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE)
  END AS qty_clean,
  strftime(coalesce(
    try_strptime(ts_str, '%Y-%m-%d %H:%M:%S'),
    try_strptime(ts_str, '%m/%d/%Y'),
    try_strptime(ts_str, '%Y-%m-%d')), '%Y-%m-%d %H:%M:%S') AS ts_clean,
  round({_sql_locale_parse("loc_str")}, 6) AS price_locale
FROM (
  SELECT *,
    CASE WHEN l_linenumber % 4 = 0 THEN strftime(l_shipdate, '%m/%d/%Y')
         WHEN l_linenumber % 4 = 1 THEN strftime(l_shipdate, '%Y-%m-%d')
         WHEN l_linenumber % 4 = 2 THEN strftime(l_shipdate, '%Y-%m-%d') || ' 12:34:56'
         ELSE 'not-a-date' END AS ts_str,
    CASE WHEN l_linenumber % 5 = 0 THEN us_str
         WHEN l_linenumber % 5 = 1 THEN translate(us_str, ',.', '.,')
         WHEN l_linenumber % 5 = 2 THEN ip::VARCHAR || '.' || fr
         WHEN l_linenumber % 5 = 3 THEN ip::VARCHAR || ',' || fr
         ELSE 'n/a' END AS loc_str
  FROM (
    SELECT *, format('{{:,}}', ip) || '.' || fr AS us_str
    FROM (
      SELECT *, cents // 100 AS ip,
             lpad((cents % 100)::VARCHAR, 2, '0') AS fr
      FROM (
        SELECT *, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
      )
    )
  )
)
"""

CLEAN_REPAIR_SQL = (
    _MASKED_CTE
    + """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
  round(CASE WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN pv + (nv - pv) * (CAST(pos AS DOUBLE) - pp) / (np - pp)
             ELSE coalesce(pv, nv) END, 6) AS v_interp,
  round(CASE WHEN v IS NOT NULL THEN v ELSE pv END, 6) AS v_fill
FROM w
"""
)

SRC_ROUNDTRIP_SQL = r"""
WITH src AS (
  SELECT l_returnflag, l_quantity, CAST(NULL AS BIGINT) AS n_nationkey,
         CAST(NULL AS BIGINT) AS r_regionkey
  FROM lineitem WHERE l_orderkey % 10 = 0
  UNION ALL
  SELECT l_returnflag, l_quantity, NULL, NULL FROM lineitem WHERE l_orderkey % 10 = 5
  UNION ALL
  SELECT NULL, NULL, n_nationkey, NULL FROM nation
  UNION ALL
  SELECT NULL, NULL, NULL, r_regionkey FROM region
)
SELECT l_returnflag, count(*)::BIGINT AS n_rows,
       round(sum(l_quantity), 6) AS sum_qty,
       sum(n_nationkey)::BIGINT AS sum_nkey,
       sum(r_regionkey)::BIGINT AS sum_rkey
FROM src GROUP BY 1
UNION ALL
SELECT '__preview', least(5, (SELECT count(*) FROM src))::BIGINT,
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
UNION ALL
-- partitioned-sink leg: the engine wrote this slice partitioned by
-- l_returnflag and read it back partition-pruned to flag R
SELECT '__part_R', count(*)::BIGINT, round(sum(l_quantity), 6),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM lineitem WHERE l_orderkey % 10 = 3 AND l_returnflag = 'R'
UNION ALL
-- z-order leg: the engine rewrote this slice clustered by the Morton
-- key of (l_orderkey, l_quantity) and read it back with a range
-- predicate on l_orderkey (file/row-group skipping on parquet stats)
SELECT '__zorder', count(*)::BIGINT, round(sum(l_quantity), 6),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM lineitem
WHERE l_orderkey % 10 = 7 AND l_orderkey >= 1000 AND l_orderkey < 2000
UNION ALL
-- compaction leg: the engine shattered this slice into 48 tiny files,
-- compacted it (shuffle-free coalesce sized by the on-disk byte
-- listing), and read the compacted copy back; sum_nkey carries the
-- engine's structural verdict (1 iff the file count shrank to plan)
SELECT '__compact', count(*)::BIGINT, round(sum(l_quantity), 6),
       1::BIGINT, CAST(NULL AS BIGINT)
FROM lineitem WHERE l_orderkey % 10 = 9
UNION ALL
-- targeted-deletion leg: the engine deleted the zorder leg's key range
-- from the clustered copy, rewriting only the files that held matches;
-- sum_nkey carries the engine's structural verdict (1 iff affected
-- file count < total file count)
SELECT '__delete', count(*)::BIGINT, round(sum(l_quantity), 6),
       1::BIGINT, CAST(NULL AS BIGINT)
FROM lineitem
WHERE l_orderkey % 10 = 7
  AND NOT (l_orderkey >= 1000 AND l_orderkey < 2000)
UNION ALL
-- MERGE leg (three arms, one commit): on top of the post-delete
-- version, keys in [500,1000) were replaced by ONE deduped change row
-- each (max over dup keys, quantity+100), the deleted [1000,1100)
-- keys re-inserted deduped (quantity+100), and keys in [2000,2500)
-- merge-DELETED; only the files holding matched keys were rewritten
-- (sum_nkey = the engine's structural verdict)
SELECT '__merge', count(*)::BIGINT, round(sum(q), 6),
       1::BIGINT, CAST(NULL AS BIGINT)
FROM (
  SELECT l_quantity AS q
  FROM lineitem
  WHERE l_orderkey % 10 = 7
    AND NOT (l_orderkey >= 1000 AND l_orderkey < 2000)
    AND NOT (l_orderkey >= 500 AND l_orderkey < 1000)
    AND NOT (l_orderkey >= 2000 AND l_orderkey < 2500)
  UNION ALL
  SELECT max(l_quantity) + 100 AS q
  FROM lineitem
  WHERE l_orderkey % 10 = 7 AND l_orderkey >= 500 AND l_orderkey < 1000
  GROUP BY l_orderkey, l_linenumber
  UNION ALL
  SELECT max(l_quantity) + 100 AS q
  FROM lineitem
  WHERE l_orderkey % 10 = 7 AND l_orderkey >= 1000 AND l_orderkey < 1100
  GROUP BY l_orderkey, l_linenumber
) t
UNION ALL
-- schema-evolution MERGE leg: the [500,600) slice re-replaced with
-- identical rows + a NEW priority column (evolve_schema=True; the
-- default refused — sum_nkey is the engine's structural verdict), so
-- row count and quantity sum EQUAL the __merge version; sum_rkey =
-- non-null priority rows = the slice's deduped key count
SELECT '__evolve', count(*)::BIGINT, round(sum(q), 6), 1::BIGINT,
       (SELECT count(*) FROM (
          SELECT 1 FROM lineitem
          WHERE l_orderkey % 10 = 7 AND l_orderkey >= 500 AND l_orderkey < 600
          GROUP BY l_orderkey, l_linenumber))::BIGINT
FROM (
  SELECT l_quantity AS q
  FROM lineitem
  WHERE l_orderkey % 10 = 7
    AND NOT (l_orderkey >= 1000 AND l_orderkey < 2000)
    AND NOT (l_orderkey >= 500 AND l_orderkey < 1000)
    AND NOT (l_orderkey >= 2000 AND l_orderkey < 2500)
  UNION ALL
  SELECT max(l_quantity) + 100 AS q
  FROM lineitem
  WHERE l_orderkey % 10 = 7 AND l_orderkey >= 500 AND l_orderkey < 1000
  GROUP BY l_orderkey, l_linenumber
  UNION ALL
  SELECT max(l_quantity) + 100 AS q
  FROM lineitem
  WHERE l_orderkey % 10 = 7 AND l_orderkey >= 1000 AND l_orderkey < 1100
  GROUP BY l_orderkey, l_linenumber
) t
UNION ALL
-- data-skipping leg: the engine read v1 (pre-delete, z-ordered) with
-- manifest-stats file pruning on this key range; a hash match proves
-- pruning lost nothing (sum_nkey = structural verdict: >=1 file
-- skipped, >=1 kept)
SELECT '__skip', count(*)::BIGINT, round(sum(l_quantity), 6),
       1::BIGINT, CAST(NULL AS BIGINT)
FROM lineitem
WHERE l_orderkey % 10 = 7 AND l_orderkey >= 2500 AND l_orderkey <= 2999
UNION ALL
-- distributed xlsx corpus scan (Python DataSource): region split
-- across two workbooks with different header orders, aligned by
-- name; sum_nkey = distinct source files (2), sum_rkey = key
-- checksum through the all-string schema-on-read
SELECT '__xlsx_ds', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       2::BIGINT, sum(r_regionkey)::BIGINT
FROM region
UNION ALL
-- csv dead-letter-queue leg: region written as csv plus a type-failure
-- line and an extra-column line; both quarantine (sum_nkey = 2), the
-- good half aggregates exactly region
SELECT '__csv_dlq', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       2::BIGINT, sum(r_regionkey)::BIGINT
FROM region
UNION ALL
-- PDF extraction legs: one engine-encoded two-page PDF per region row
-- (page 1 'Region (<name>)', page 2 'key \\ <k>' — parens + backslash
-- exercise the literal-string escape grammar), extracted back by the
-- distributed baseline extractor. The reconstruction below is the
-- extractor's CONTRACT (pages newline-joined); sum_rkey reparses the
-- key from the text, and the md5 row pins every extracted byte.
SELECT '__pdf', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum(length(txt))::BIGINT,
       sum(CAST(regexp_extract(txt, 'key \\ ([0-9]+)', 1) AS BIGINT))::BIGINT
FROM (SELECT 'Region (' || r_name || ')' || chr(10) ||
             'key \ ' || r_regionkey AS txt
      FROM region)
UNION ALL
SELECT '__pdfmd5_' || md5(string_agg(txt, chr(31) ORDER BY r_regionkey)),
       count(*)::BIGINT, CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (SELECT r_regionkey,
             'Region (' || r_name || ')' || chr(10) ||
             'key \ ' || r_regionkey AS txt
      FROM region)
UNION ALL
-- DOCX extraction legs (r12): one engine-encoded two-paragraph
-- document per region row (para 1 'Region (<name>)', para 2
-- 'key<TAB><k>' — the w:tab run element is on the oracle path),
-- extracted by the fused document stage. The reconstruction below is
-- the extractor's CONTRACT (paragraphs newline-joined, w:tab = tab);
-- sum_rkey reparses the key from after the tab, the md5 row pins
-- every extracted byte.
SELECT '__docx', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum(length(txt))::BIGINT,
       sum(CAST(regexp_extract(txt, 'key\t([0-9]+)', 1) AS BIGINT))::BIGINT
FROM (SELECT 'Region (' || r_name || ')' || chr(10) ||
             'key' || chr(9) || r_regionkey AS txt
      FROM region)
UNION ALL
SELECT '__docxmd5_' || md5(string_agg(txt, chr(31) ORDER BY r_regionkey)),
       count(*)::BIGINT, CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (SELECT r_regionkey,
             'Region (' || r_name || ')' || chr(10) ||
             'key' || chr(9) || r_regionkey AS txt
      FROM region)
UNION ALL
-- modern-PDF legs (r12): __pdf15 fixtures store all non-stream
-- objects in a compressed /ObjStm behind a predictor-coded /XRef
-- stream; __pdfcid fixtures show non-latin text through an
-- Identity-H Type0 font whose 2-byte codes only decode through the
-- /ToUnicode CMap. The reconstructions below are the extractor's
-- CONTRACT; the md5 rows pin every extracted byte.
SELECT '__pdf15', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum(length(txt))::BIGINT,
       sum(CAST(regexp_extract(txt, 'key ([0-9]+)', 1) AS BIGINT))::BIGINT
FROM (SELECT 'Region (' || r_name || ')' || chr(10) ||
             'key ' || r_regionkey AS txt
      FROM region)
UNION ALL
SELECT '__pdf15md5_' || md5(string_agg(txt, chr(31) ORDER BY r_regionkey)),
       count(*)::BIGINT, CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (SELECT r_regionkey,
             'Region (' || r_name || ')' || chr(10) ||
             'key ' || r_regionkey AS txt
      FROM region)
UNION ALL
SELECT '__pdfcid', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum(length(txt))::BIGINT,
       sum(CAST(regexp_extract(txt, 'clé ([0-9]+)', 1) AS BIGINT))::BIGINT
FROM (SELECT 'Régiön (' || r_name || ') — clé ' || r_regionkey AS txt
      FROM region)
UNION ALL
SELECT '__pdfcidmd5_' || md5(string_agg(txt, chr(31) ORDER BY r_regionkey)),
       count(*)::BIGINT, CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (SELECT r_regionkey,
             'Régiön (' || r_name || ') — clé ' || r_regionkey AS txt
      FROM region)
UNION ALL
-- EPUB legs (r13): one two-chapter book per region row, chapters
-- joined by newline in spine order (OCF -> OPF -> XHTML walk)
SELECT '__epub', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum(length(txt))::BIGINT,
       sum(CAST(regexp_extract(txt, 'key3 ([0-9]+)', 1) AS BIGINT))::BIGINT
FROM (SELECT 'EPUB (' || r_name || ')' || chr(10) ||
             'chap key3 ' || r_regionkey AS txt
      FROM region)
UNION ALL
SELECT '__epubmd5_' || md5(string_agg(txt, chr(31) ORDER BY r_regionkey)),
       count(*)::BIGINT, CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (SELECT r_regionkey,
             'EPUB (' || r_name || ')' || chr(10) ||
             'chap key3 ' || r_regionkey AS txt
      FROM region)
UNION ALL
-- reading-order legs (r13): absolutely-positioned pages whose stream
-- order is scrambled (right column / bottom row first); the
-- reconstruction below is the y-then-x reading order (top row first,
-- left first) the extractor must reassemble
SELECT '__pdf2col', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum(length(txt))::BIGINT,
       sum(CAST(regexp_extract(txt, 'key2 ([0-9]+)', 1) AS BIGINT))::BIGINT
FROM (SELECT 'Region (' || r_name || ')' || chr(10) ||
             'R col2 ' || r_name || chr(10) ||
             'key2 ' || r_regionkey || chr(10) ||
             'tail ' || r_regionkey AS txt
      FROM region)
UNION ALL
SELECT '__pdf2colmd5_' || md5(string_agg(txt, chr(31) ORDER BY r_regionkey)),
       count(*)::BIGINT, CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (SELECT r_regionkey,
             'Region (' || r_name || ')' || chr(10) ||
             'R col2 ' || r_name || chr(10) ||
             'key2 ' || r_regionkey || chr(10) ||
             'tail ' || r_regionkey AS txt
      FROM region)
UNION ALL
-- SubRip transcript leg: one cue per region row, start = 60000*k+1500
-- for 2500 ms, key reparsed from the two-line cue text — the all-JVM
-- read_srt pipeline must reproduce the generator's arithmetic
SELECT '__srt', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum((60000 * r_regionkey + 1500) + (60000 * r_regionkey + 4000))::BIGINT,
       sum(r_regionkey)::BIGINT
FROM region
UNION ALL
-- WebVTT leg (r12): one identified cue per region row, hours-less
-- MM:SS.mmm timecodes, start = 60000*k+2500 for 3000 ms; the key is
-- reparsed from the text AND the cue id (both must agree)
SELECT '__vtt', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum((60000 * r_regionkey + 2500) + (60000 * r_regionkey + 5500))::BIGINT,
       sum(2 * r_regionkey)::BIGINT
FROM region
UNION ALL
-- WARC legs (r12, hardened r13): one HTML response record per region
-- row in a member-gzipped archive; odd keys arrive chunked +
-- windows-1252 (the reader dechunks and honors the declared charset).
-- The reconstruction below is the html_to_text contract over the
-- fixture markup (title/p closers -> newlines, the script block
-- dropped whole, &amp; decoded); the md5 row pins every decoded byte
-- (a wrong-charset decode keeps lengths but moves the md5)
SELECT '__warc', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum(length(txt))::BIGINT,
       sum(CAST(regexp_extract(txt, 'key & ([0-9]+)', 1) AS BIGINT))::BIGINT
FROM (SELECT CASE WHEN r_regionkey % 2 = 1
             THEN 'Región (' || r_name || ')' || chr(10) ||
                  'key & ' || r_regionkey || ' “q”'
             ELSE 'Region (' || r_name || ')' || chr(10) ||
                  'key & ' || r_regionkey END AS txt
      FROM region)
UNION ALL
-- ZIP corpus leg (r13): one mixed-format document member per region
-- row (pdf/docx/pptx by key mod 3), uniform text contract; n_rows
-- counts fmt-dispatch matches (all 5 when the magic-byte routing is
-- right), the readme member quarantines outside the count
SELECT '__zip', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum(length('zip ' || r_name || ' doc zkey ' || r_regionkey))::BIGINT,
       sum(r_regionkey)::BIGINT
FROM region
UNION ALL
-- ASS subtitle leg (r13): one Dialogue per region row, centisecond
-- timecodes (start = 60000*k+3500 for 2800 ms), key reparsed from
-- the override-stripped text plus the layer (k mod 2); the Comment
-- event and section lines drop
SELECT '__ass', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum((60000 * r_regionkey + 3500) + (60000 * r_regionkey + 6300))::BIGINT,
       sum(r_regionkey + r_regionkey % 2)::BIGINT
FROM region
UNION ALL
-- MediaWiki dump leg (r13): one ns-0 article per region row in a bz2
-- export part; the redirect and Category pages fall to the article
-- filter, so the totals are region arithmetic alone
SELECT '__wiki', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum(length('wiki ' || r_name || ' key4 ' || r_regionkey))::BIGINT,
       sum(r_regionkey)::BIGINT
FROM region
UNION ALL
-- wikitext cleaner leg (r13): markup in -> expected cleaned string
-- out, reconstructed from region (templates/links/refs/quotes gone)
SELECT '__wikitxt', count(*)::BIGINT, CAST(NULL AS DOUBLE),
       sum(length('wiki ' || r_name || ' place clean key5 ' || r_regionkey))::BIGINT,
       sum(r_regionkey)::BIGINT
FROM region
UNION ALL
SELECT '__warcmd5_' || md5(string_agg(txt, chr(31) ORDER BY r_regionkey)),
       count(*)::BIGINT, CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (SELECT r_regionkey,
             CASE WHEN r_regionkey % 2 = 1
             THEN 'Región (' || r_name || ')' || chr(10) ||
                  'key & ' || r_regionkey || ' “q”'
             ELSE 'Region (' || r_name || ')' || chr(10) ||
                  'key & ' || r_regionkey END AS txt
      FROM region)
"""

ML_EXACT_SPLIT_SQL = """
WITH ranked AS (
  SELECT l_quantity,
         (row_number() OVER (
            ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
          ) - 1) % 5 = 0 AS is_test
  FROM lineitem
), folds AS (
  -- group_split twin: fold = md5(netstring(l_orderkey):42) mod 5 —
  -- the same netstring+md5 arithmetic the sampling family pins
  SELECT l_quantity,
         (CAST(concat('0x', substr(md5(concat(
             CAST(length(CAST(l_orderkey AS VARCHAR)) AS VARCHAR), ':',
             CAST(l_orderkey AS VARCHAR), ':42')), 1, 15)) AS BIGINT) % 5
         ) AS fold
  FROM lineitem
)
SELECT 'split' AS kind,
       (CASE WHEN is_test THEN 1 ELSE 0 END)::BIGINT AS key,
       count(*)::BIGINT AS n_rows,
       round(sum(l_quantity), 6) AS sum_qty
FROM ranked GROUP BY 1, 2
UNION ALL
SELECT 'fold', fold::BIGINT, count(*)::BIGINT, round(sum(l_quantity), 6)
FROM folds GROUP BY 1, 2
UNION ALL
-- leakage guarantee: zero groups straddle folds (engine-verified);
-- n_rows = distinct group count
SELECT 'fold_ok', 0::BIGINT,
       (SELECT count(DISTINCT l_orderkey) FROM lineitem)::BIGINT,
       CAST(NULL AS DOUBLE)
"""

CLEAN_CASCADE_SQL = """
SELECT c_custkey,
       CAST(c_nationkey AS DOUBLE) AS c_nationkey,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal
FROM customer
"""

DESCRIBE_ALL_SQL = _describe_all_oracle()

CORR_MATRIX_SQL = _corr_matrix_oracle()

FEAT_ZSCORE_SQL = f"""
-- scaler family: z-score (pop std), RobustScaler (median/IQR with
-- quantile_cont == Spark's exact interpolated percentile) and
-- MinMaxScaler, all as window-free global stats
WITH s AS (
  SELECT avg(l_quantity) AS mq, stddev_pop(l_quantity) AS sq,
         avg(l_extendedprice) AS mp, stddev_pop(l_extendedprice) AS sp,
         avg(l_discount) AS md, stddev_pop(l_discount) AS sd,
         quantile_cont(l_quantity, 0.5) AS medq,
         quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25) AS iqrq,
         quantile_cont(l_extendedprice, 0.5) AS medp,
         quantile_cont(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.25) AS iqrp,
         min(l_quantity) AS mnq, max(l_quantity) - min(l_quantity) AS rngq,
         min(l_extendedprice) AS mnp, max(l_extendedprice) - min(l_extendedprice) AS rngp,
         sum(l_quantity) / count(l_quantity) AS prior
  FROM lineitem
), c AS (
  SELECT l_returnflag AS f, sum(l_quantity) AS sc_, count(l_quantity) AS nc
  FROM lineitem GROUP BY 1
)
SELECT l_orderkey, l_linenumber,
  round((l_quantity - mq) / (CASE WHEN sq > 0 THEN sq ELSE 1 END), 6) AS z_qty,
  round((l_extendedprice - mp) / (CASE WHEN sp > 0 THEN sp ELSE 1 END), 6) AS z_price,
  round((l_discount - md) / (CASE WHEN sd > 0 THEN sd ELSE 1 END), 6) AS z_disc,
  -- r_* are the EXACT-fit parity columns and exist only at validation
  -- scale (mirroring the engine's FE.EXACT_FIT_MAX_ROWS gate, whose
  -- value is injected below so the two sides cannot drift — exact
  -- percentile's single-reducer merge must never run at scale);
  -- above the gate both sides emit NULL and the sketch fit's
  -- correctness is carried by the ra_ok rank-contract verdict
  CASE WHEN (SELECT count(*) FROM lineitem) <= {FE.EXACT_FIT_MAX_ROWS}
       THEN round((l_quantity - medq) / (CASE WHEN iqrq > 0 THEN iqrq ELSE 1 END), 6)
  END AS r_qty,
  CASE WHEN (SELECT count(*) FROM lineitem) <= {FE.EXACT_FIT_MAX_ROWS}
       THEN round((l_extendedprice - medp) / (CASE WHEN iqrp > 0 THEN iqrp ELSE 1 END), 6)
  END AS r_price,
  round((l_quantity - mnq) / (CASE WHEN rngq > 0 THEN rngq ELSE 1 END), 6) AS m_qty,
  round((l_extendedprice - mnp) / (CASE WHEN rngp > 0 THEN rngp ELSE 1 END), 6) AS m_price,
  round(CASE WHEN l_quantity IS NULL
             THEN (sc_ + 10.0 * prior) / (nc + 10.0)
             ELSE (sc_ - l_quantity + 10.0 * prior) / (nc - 1 + 10.0)
        END, 6) AS te_flag,
  ntile(10) OVER (ORDER BY l_quantity, l_orderkey, l_linenumber)::INTEGER AS qb_qty,
  -- engine-side verdict: every percentile_approx (GK sketch) quantile
  -- honors the sketch's rank contract (returned element's rank window
  -- within n/accuracy of the target rank) on both columns
  1::BIGINT AS ra_ok
FROM lineitem JOIN c ON lineitem.l_returnflag = c.f, s
"""

FEAT_LABEL_ENCODE_SQL = """
SELECT 'map' AS kind, value AS key, (row_number() OVER (ORDER BY value) - 1)::BIGINT AS code
FROM (SELECT DISTINCT coalesce(CAST(c_mktsegment AS VARCHAR), 'nan') AS value FROM customer)
UNION ALL
SELECT 'row' AS kind, CAST(c_custkey AS VARCHAR) AS key,
       (dense_rank() OVER (ORDER BY coalesce(CAST(c_mktsegment AS VARCHAR), 'nan')) - 1)::BIGINT AS code
FROM customer
UNION ALL
-- one-hot indicator column sums == per-category group counts
SELECT 'onehot' AS kind, CAST(c_mktsegment AS VARCHAR) AS key, count(*)::BIGINT AS code
FROM customer WHERE c_mktsegment IS NOT NULL GROUP BY 2
UNION ALL
-- exactly-one-hot row invariant holds iff no category is NULL
-- (the derived vocabulary covers every non-null value by construction)
SELECT 'onehot_ok', '*',
       (CASE WHEN (SELECT count(*) FROM customer WHERE c_mktsegment IS NULL) = 0
             THEN 1 ELSE 0 END)::BIGINT
"""

# Each streaming path must reproduce its batch twin exactly,
# so every agreement summary is itself SQL-derivable:
# n_windows = n_agree = the batch-side group count per leg,
# and every group agrees. A dropped/duplicated/mis-aggregated
# window, a missed/phantom dedup key, or a wrong carried state
# in the streaming path breaks the hash match.
STREAM_BATCH_TWIN_SQL = """
SELECT 'tumbling' AS kind, count(*)::BIGINT AS n_windows,
       count(*)::BIGINT AS n_agree, true AS all_agree
FROM (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS w, event_type
  FROM events GROUP BY 1, 2
)
UNION ALL
SELECT 'dedup', count(*)::BIGINT, count(*)::BIGINT, true
FROM (SELECT DISTINCT user_id, event_type FROM events)
UNION ALL
SELECT 'stateful', count(*)::BIGINT, count(*)::BIGINT, true
FROM (SELECT DISTINCT user_id FROM events)
UNION ALL
SELECT 'join', count(*)::BIGINT, count(*)::BIGINT, true
FROM (
  SELECT v.event_id, p.event_id
  FROM events v JOIN events p
    ON v.user_id = p.user_id
   AND v.event_type = 'view' AND p.event_type = 'purchase'
   AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
)
UNION ALL
-- session: the streamed merging-window session set, replayed as
-- gaps-and-islands (new session when the gap EXCEEDS 10 minutes —
-- session_window treats an exactly-10-minute gap as one session)
SELECT 'session', count(*)::BIGINT, count(*)::BIGINT, true
FROM (
  SELECT user_id, sid
  FROM (
    SELECT user_id,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS sid
    FROM (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '10 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
  )
  GROUP BY user_id, sid
)
UNION ALL
-- versioned sink: the final manifest-pinned version holds exactly the
-- batch row count (per-version monotonicity is the engine's verdict)
SELECT 'versioned', count(*)::BIGINT, count(*)::BIGINT, true FROM events
UNION ALL
-- streaming CDC MERGE: one final row per key in the slice, every row
-- the per-key argmax by (ts, event_id) — agreement is the engine's
-- key-for-key comparison
SELECT 'cdc', count(*)::BIGINT, count(*)::BIGINT, true
FROM (SELECT DISTINCT user_id, event_type FROM events WHERE user_id % 25 = 0)
UNION ALL
-- streaming DQ quarantine routing: label groups of the batch rule
-- replay (passed rows are the '' group); the engine compares the
-- streamed routing's group counts against its batch dq_split
SELECT 'dq', count(DISTINCT labels)::BIGINT, count(DISTINCT labels)::BIGINT, true
FROM (
  SELECT coalesce(array_to_string(list_filter([
    CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 250.0)
         THEN 'in_range:value' END,
    CASE WHEN event_type IS NOT NULL
              AND event_type NOT IN ('click','view','purchase','signup')
         THEN 'accepted:event_type' END,
    CASE WHEN user_id IS NULL THEN 'not_null:user_id' END
  ], x -> x IS NOT NULL), '|'), '') AS labels
  FROM events
)
UNION ALL
-- streaming CDF source: the manifest_cdf reader drains the versioned
-- table's commit sequence (offsets = version numbers, diffs computed
-- executor-side in pyarrow) — append-only table, so the cumulative
-- feed is exactly one 'added' row per event, compared key-for-key
SELECT 'cdf_feed', count(*)::BIGINT, count(*)::BIGINT, true FROM events
"""


# ---------------------------------------------------------------- catalog

# One row per query: (name, builder, DuckDB oracle SQL). The oracle is
# None only for the three ML fits, which get the weaker rows-only check.
# Row order is registration order, and it is deliberate: the correctness
# runner records at most 50 queries in registration order (r1 registered
# 55 and the last 5 were silently untested), so the previously-unchecked
# and newly-added queries come FIRST and the expensive ML fits come last.
CATALOG: tuple[tuple[str, Builder | tuple[Setup, Legs], str | None], ...] = (
    # unchecked in r1 (registered past the cap); session+props and
    # meta+features pairs each merged to one tagged query in r2
    ("events_sessions_props", EV.q_events_sessions_props, EV.EVENTS_SESSIONS_PROPS_SQL),
    # r5: mm_frames folded into mm_meta_features as its 'frame' leg;
    # the freed slot carries the golden-record linkage pipeline
    ("mm_meta_features", MM.MM_META_FEATURES_LEGS, MM.MM_META_FEATURES_SQL),
    ("link_golden", LK.q_link_golden, LK.LINK_GOLDEN_SQL),
    # r5: rel_set_ops folded into rel_semi_anti_join (both membership
    # predicates); the freed slot carries the composed curation funnel
    ("curate_pipeline", CUR.q_curate_pipeline, CUR.CURATE_PIPELINE_SQL),
    # new in r2
    ("text_decontaminate", SCRUB.q_text_decontaminate, SCRUB.TEXT_DECONTAMINATE_SQL),
    ("text_scrub", SCRUB.q_text_scrub, SCRUB.TEXT_SCRUB_SQL),
    ("samp_deterministic", SAMP.q_samp_deterministic, SAMP.SAMP_DETERMINISTIC_SQL),
    ("dedup_clusters", DD.DEDUP_CLUSTERS_LEGS, DD.DEDUP_CLUSTERS_SQL),
    ("seq_pack", PK.q_seq_pack, PK.SEQ_PACK_SQL),
    ("src_roundtrip", SRC_ROUNDTRIP_LEGS, SRC_ROUNDTRIP_SQL),
    ("ml_exact_split", q_ml_exact_split, ML_EXACT_SPLIT_SQL),
    ("dedup_lsh_pipeline", DD.q_dedup_lsh_pipeline, DD.DEDUP_LSH_PIPELINE_SQL),
    ("stream_batch_twin", STREAM_BATCH_TWIN_LEGS, STREAM_BATCH_TWIN_SQL),
    # new in r3: corpus-statistics scoring + embedding transforms
    ("text_bm25_topk", SC.q_text_bm25_topk, SC.TEXT_BM25_TOPK_SQL),
    ("text_lm_quality", SC.q_text_lm_quality, SC.TEXT_LM_QUALITY_SQL),
    ("emb_pool_quantize", EMB.q_emb_pool_quantize, EMB.EMB_POOL_QUANTIZE_SQL),
    # reference core surface
    ("harmonize_union", q_harmonize_union, HARMONIZE_UNION_SQL),
    ("clean_coerce", q_clean_coerce, CLEAN_COERCE_SQL),
    ("clean_repair", q_clean_repair, CLEAN_REPAIR_SQL),
    ("clean_cascade", q_clean_cascade, CLEAN_CASCADE_SQL),
    ("describe_all", DESCRIBE_ALL_LEGS, DESCRIBE_ALL_SQL),
    ("corr_matrix", q_corr_matrix, CORR_MATRIX_SQL),
    ("feat_zscore", q_feat_zscore, FEAT_ZSCORE_SQL),
    ("feat_label_encode", q_feat_label_encode, FEAT_LABEL_ENCODE_SQL),
    # ONE ANSI text, two engines: the oracle executes the exact
    # string Catalyst parses (plans/sql.py CORRELATED_SQL) — Q3
    # plus the correlated-subquery decorrelation family
    # (Q17 scalar-correlated, Q4 EXISTS, Q22 NOT EXISTS + scalar).
    ("sql_shipping_priority", _SQL.correlated_analytics, _SQL.CORRELATED_SQL),
    # EDA aggregations
    ("eda_binned", E.q_eda_binned, E.EDA_BINNED_SQL),
    ("eda_box_stats", E.q_eda_box_stats, E.EDA_BOX_STATS_SQL),
    ("eda_pair_projection", E.q_eda_pair_projection, E.EDA_PAIR_PROJECTION_SQL),
    # relational surface
    ("rel_pricing_summary", REL.q_rel_pricing_summary, REL.REL_PRICING_SUMMARY_SQL),
    ("rel_revenue_by_nation", REL.q_rel_revenue_by_nation, REL.REL_REVENUE_BY_NATION_SQL),
    ("rel_topk_per_segment", REL.q_rel_topk_per_segment, REL.REL_TOPK_PER_SEGMENT_SQL),
    ("rel_grouping_sets", REL.q_rel_grouping_sets, REL.REL_GROUPING_SETS_SQL),
    ("rel_pivot", REL.q_rel_pivot, REL.REL_PIVOT_SQL),
    ("rel_semi_anti_join", REL.q_rel_semi_anti_join, REL.REL_SEMI_ANTI_JOIN_SQL),
    ("rel_distinct_agg", REL.q_rel_distinct_agg, REL.REL_DISTINCT_AGG_SQL),
    ("rel_asof_join", REL.q_rel_asof_join, REL.REL_ASOF_JOIN_SQL),
    ("rel_range_join", REL.q_rel_range_join, REL.REL_RANGE_JOIN_SQL),
    ("rel_date_breakdown", REL.q_rel_date_breakdown, REL.REL_DATE_BREAKDOWN_SQL),
    ("rel_running_window", REL.q_rel_running_window, REL.REL_RUNNING_WINDOW_SQL),
    # text / dedup / similarity / events
    ("text_profile", TX.q_text_profile, TX.TEXT_PROFILE_SQL),
    ("dedup_exact_fp", DD.DEDUP_EXACT_FP_LEGS, DD.DEDUP_EXACT_FP_SQL),
    ("dedup_ngram_jaccard", DD.q_dedup_ngram_jaccard, DD.DEDUP_NGRAM_JACCARD_SQL),
    ("dedup_simhash", DD.DEDUP_SIMHASH_LEGS, DD.DEDUP_SIMHASH_SQL),
    ("dedup_embedding_cosine", DD.q_dedup_embedding_cosine, DD.DEDUP_EMBEDDING_COSINE_SQL),
    ("sim_topk_recall", SIM.q_sim_topk_recall, SIM.SIM_TOPK_RECALL_SQL),
    ("sim_ivf_recall", SIM.q_sim_ivf_recall, SIM.SIM_IVF_RECALL_SQL),
    ("events_windows", EV.q_events_windows, EV.EVENTS_WINDOWS_SQL),
    # ML orchestration (expensive distributed fits) last
    ("ml_classification", q_ml_classification, None),
    ("ml_regression", q_ml_regression, None),
    ("ml_tuned", q_ml_tuned, None),
)


def queries() -> dict[str, Builder]:
    # RuntimeError, not assert: this guard protects against the exact
    # silent-truncation failure r1 hit (the correctness runner records
    # only the first 50 queries), and asserts vanish under ``python -O``.
    if len(CATALOG) > 50:
        raise RuntimeError("driver correctness pass caps at 50 queries")
    return {n: _guarded(b if callable(b) else _run_legs(*b)) for n, b, _ in CATALOG}


def oracle_sql() -> dict[str, str]:
    return {n: o for n, _, o in CATALOG if o is not None}
