"""Sequence packing for training-data pipelines (engine extension;
SURVEY §7 north-star ops — no reference counterpart).

GPT-style concat-then-chunk packing: lay every document's tokens on
one global token stream (deterministic document order), then cut the
stream into fixed-``budget`` context windows ("packs"). A document
whose token span crosses a pack boundary belongs to every pack it
overlaps — the output is the exploded (doc, pack) span table with the
per-pack token contribution, which is exactly what a loader needs to
assemble batches.

Scale shape: the only hard part is the global running token total,
and it reuses the distributed scan-fix pattern from
``functions/indexing.py`` — one range shuffle on the order key,
per-partition prefix sums, then a one-row-per-partition totals job
whose cumulative offsets broadcast back. No single-task stage, so the
pattern holds at 1000 executors; the pack explosion afterwards is a
narrow per-row ``sequence``/``explode``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.functions.caching import track
from data_integration_and_harmonization_spark.functions.indexing import PID
from data_integration_and_harmonization_spark.operators.text import TOKEN_RE


def with_global_cumsum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    cumsum_col: str = "__dih_cum",
) -> DataFrame:
    """Inclusive running sum of ``value_col`` over the global order
    defined by ``order_cols`` (a unique composite key).

    Shuffle shape: one range shuffle on the order key, PLUS one hash
    exchange on the partition id — the in-partition prefix sum is a
    ``Window.partitionBy(pid)`` and Catalyst cannot know rows with one
    pid are already co-located (unlike ``with_global_index``, whose
    monotonic-id trick needs no window, a prefix SUM has no window-free
    DataFrame form). Cross-partition offsets are a
    one-row-per-partition totals job broadcast back; no single-task
    stage. Callers should pass a frame pre-projected to
    (order_cols, value_col) so both shuffles move slim rows — that is
    what :func:`pack_sequences` does, and why the double exchange is
    cheap even when the underlying documents are 100 TB.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    part = df.repartitionByRange(n, *cols).withColumn(PID, F.spark_partition_id())
    w = (
        Window.partitionBy(PID)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    part = part.withColumn("__dih_local", F.sum(value_col).over(w))
    # persist pins one physical partitioning (repartitionByRange
    # re-samples boundaries per job); tracked for release at the
    # query boundary.
    part = track(part.persist())
    totals = {
        r[PID]: r["tot"]
        for r in part.groupBy(PID).agg(F.sum(value_col).alias("tot")).collect()
    }
    rows, acc = [], 0
    for pid in sorted(totals):
        rows.append((int(pid), int(acc)))
        acc += int(totals[pid] or 0)
    off = df.sparkSession.createDataFrame(rows, f"{PID} int, __dih_off long")
    return (
        part.join(F.broadcast(off), PID)
        .withColumn(cumsum_col, (F.col("__dih_off") + F.col("__dih_local")).cast("long"))
        .drop("__dih_local", "__dih_off", PID)
    )


def pack_sequences(
    df: DataFrame,
    order_cols: Sequence[str],
    token_col: str,
    budget: int,
    id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Assign documents to fixed-``budget`` context windows by global
    token offset. Output: one row per (document, pack) the document's
    token span overlaps — (``id_cols``..., pack_id, tok_in_pack).
    Zero-token documents occupy no stream space and emit no rows.
    """
    ids = list(id_cols if id_cols is not None else order_cols)
    c = with_global_cumsum(df, order_cols, token_col, "__cum")
    start = F.col("__cum") - F.col(token_col)
    end = F.col("__cum") - 1
    p0 = F.floor(start / budget)
    p1 = F.floor(end / budget)
    spans = c.where(F.col(token_col) > 0).select(
        *ids,
        start.alias("__s"),
        end.alias("__e"),
        F.explode(F.sequence(p0, p1)).alias("pack_id"),
    )
    tok_in_pack = (
        F.least(F.col("__e"), (F.col("pack_id") + 1) * budget - 1)
        - F.greatest(F.col("__s"), F.col("pack_id") * budget)
        + 1
    )
    return spans.select(*ids, "pack_id", tok_in_pack.cast("long").alias("tok_in_pack"))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 128,
    stride: int = 96,
    with_text: bool = True,
) -> DataFrame:
    """Split each document into fixed-``chunk_size`` token windows that
    advance by ``stride`` tokens (``stride < chunk_size`` = overlapping
    windows, the context-preservation pattern) — the step before
    sequence packing when documents exceed the model context.

    Pure per-row expressions (tokenize once, ``slice`` per window) —
    one narrow projection + explode, no shuffle, no UDF. A document
    with T tokens yields ``ceil(max(T - chunk_size, 0) / stride) + 1``
    chunks; empty documents yield none.

    Output: (id, chunk_idx, chunk_start, n_chunk_tokens[, chunk_text]).
    ``with_text=False`` skips materializing chunk text for count-only
    consumers (keeps exploded rows slim — at 100 TB the downstream
    shuffle moves (id, idx, count) only).
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    from data_integration_and_harmonization_spark.operators.text import tokens

    t = tokens(text_col)
    n = F.size(t)
    base = df.select(F.col(id_col).alias("id"), t.alias("__toks"), n.alias("__n")).where(
        F.col("__n") > 0
    )
    # last start = stride * ceil(max(T - chunk_size, 0) / stride): the
    # first start at which the window reaches the end of the doc. A
    # naive sequence(0, T-1, stride) would emit tail windows fully
    # contained in their predecessor — duplicated training content.
    last = F.lit(stride) * F.ceil(
        F.greatest(F.col("__n") - chunk_size, F.lit(0)) / stride
    ).cast("long")
    starts = F.sequence(F.lit(0).cast("long"), last, F.lit(stride).cast("long"))
    ex = base.select(
        "id",
        "__toks",
        "__n",
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    out_cols = [
        "id",
        "chunk_idx",
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.least(F.lit(chunk_size), F.col("__n") - F.col("chunk_start"))
        .cast("long")
        .alias("n_chunk_tokens"),
    ]
    if with_text:
        out_cols.append(
            F.concat_ws(" ", F.slice("__toks", F.col("chunk_start") + 1, chunk_size)).alias(
                "chunk_text"
            )
        )
    return ex.select(*out_cols)


# ------------------------------------------------------- queries and oracles

_BUDGET = 512
_CHUNK, _STRIDE = 128, 96


def q_seq_pack(spark: SparkSession, sf: str) -> DataFrame:
    # the REAL pre-training layout pipeline, both stages in one
    # oracle-checked query: long docs -> overlapping token chunks
    # -> chunks packed into fixed-budget context windows on one
    # global token stream
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    chunks = chunk_documents(
        docs, chunk_size=_CHUNK, stride=_STRIDE, with_text=False
    ).select("id", "chunk_idx", "n_chunk_tokens")
    return pack_sequences(
        chunks,
        ["id", "chunk_idx"],
        "n_chunk_tokens",
        budget=_BUDGET,
    ).select(F.col("id").alias("doc_id"), "chunk_idx", "pack_id", "tok_in_pack")


SEQ_PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{TOKEN_RE}'))::BIGINT AS n_tok
  FROM documents
  WHERE len(regexp_extract_all(lower(text), '{TOKEN_RE}')) > 0
), chunks AS (
  SELECT doc_id, (s / {_STRIDE})::BIGINT AS chunk_idx,
         least({_CHUNK}, n_tok - s)::BIGINT AS n_tok
  FROM toks, unnest(generate_series(
         0,
         CAST({_STRIDE} * ceil(greatest(n_tok - {_CHUNK}, 0) / {_STRIDE}.0) AS BIGINT),
         {_STRIDE})) AS u(s)
), c AS (
  SELECT doc_id, chunk_idx, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id, chunk_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM chunks
)
SELECT doc_id, chunk_idx::INTEGER AS chunk_idx, p AS pack_id,
       (least(cum - 1, (p + 1) * {_BUDGET} - 1)
        - greatest(cum - n_tok, p * {_BUDGET}) + 1)::BIGINT AS tok_in_pack
FROM c, unnest(generate_series(CAST((cum - n_tok) // {_BUDGET} AS BIGINT),
                               CAST((cum - 1) // {_BUDGET} AS BIGINT))) AS u(p)
"""
