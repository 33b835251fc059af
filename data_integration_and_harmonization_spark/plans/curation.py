"""End-to-end CORPUS curation — the composed pipeline a training-data
team runs before pre-training (engine extension; no reference
counterpart — the reference's pipeline surface is tabular EP1/EP2,
see :mod:`.pipeline`):

    profile -> quality filter -> language filter -> exact dedup ->
    benchmark decontamination -> deterministic subsample ->
    chunk + sequence-pack

Every stage is an existing operator-family primitive (:mod:`..operators.text`,
:mod:`..operators.dedup` semantics, :mod:`..operators.scrub`,
:mod:`..operators.sampling`, :mod:`..operators.packing`), composed as
ONE lazy annotate pass plus the packing tail. The annotate frame
carries a monotone chain of survival flags (each stage's predicate
ANDs its predecessor — stage ordering is part of the contract, e.g.
dedup keeps the minimum id among QUALITY survivors, not the raw
corpus), so one scan answers both "what survives" and the per-stage
funnel report every curation run is judged by.

Scale shape: the annotate pass is one projection over the corpus plus
two narrow joins — the fingerprint keep-set (groupBy on a 16-byte
md5, shuffles digests, never text) and the contamination join
(n-gram digests against the tiny eval side, see
:func:`..operators.scrub.decontaminate`); the sampling stage is the
shuffle-free hash filter. Nothing corpus-sized is broadcast or
collected anywhere; the packing tail reuses the distributed
prefix-sum (no single-task stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators.dedup import _SHINGLES, _md5_minhash_cte
from data_integration_and_harmonization_spark.operators.packing import (
    chunk_documents,
    pack_sequences,
)
from data_integration_and_harmonization_spark.operators.sampling import sample_hash
from data_integration_and_harmonization_spark.operators.scrub import decontaminate
from data_integration_and_harmonization_spark.operators.text import (
    _LANGID_CASE,
    TOKEN_RE,
    fingerprint,
    language_id_column,
)

# the funnel, in order; each flag implies the previous one
STAGES = (
    "quality",
    "language",
    "exact_dedup",
    "near_dedup",
    "decontaminate",
    "sample",
)
_FLAG = {s: f"{s}_pass" for s in STAGES}


def curate_annotate(
    docs: DataFrame,
    eval_df: DataFrame,
    *,
    min_tokens: int = 20,
    max_tokens: int = 10_000,
    min_alpha: float = 0.5,
    lang: str = "en",
    near_threshold: float = 0.5,
    decon_gram: int = 5,
    decon_threshold: float = 0.2,
    sample_rate: float = 0.5,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Annotate every document with the curation funnel's survival
    flags (monotone: ``sample_pass -> decontaminate_pass -> ... ->
    quality_pass``). Returns the input id/text plus ``n_tokens``,
    ``lang_pred``, and one boolean per stage — slim enough that the
    report aggregate and the final filter both run off one frame.

    Stage semantics (each deterministic and oracle-replayable):

    - quality:       ``min_tokens <= n_tokens <= max_tokens`` and
                     alpha-character ratio >= ``min_alpha``;
    - language:      stopword-overlap language id == ``lang``;
    - exact_dedup:   keep the minimum id per normalized-text
                     fingerprint AMONG language survivors;
    - near_dedup:    MinHash-LSH verified pairs (md5 family, Jaccard
                     >= ``near_threshold``) over exact survivors ->
                     connected components -> keep each cluster's
                     minimum id (the fuzzy-dedup stage every
                     production pipeline runs after the cheap exact
                     pass; cost tracks true duplicate density);
    - decontaminate: n-gram overlap vs ``eval_df`` below
                     ``decon_threshold`` (computed over dedup
                     survivors only — the expensive stage runs on the
                     smallest candidate set);
    - sample:        deterministic md5 hash filter at ``sample_rate``.
    """
    t = F.col(text_col)
    # Tokenize ONCE in a staged projection (r13): token count + the
    # 4-language ID previously re-ran regexp_extract_all 5x per row —
    # Catalyst doesn't CSE regexp trees, and CollapseProject keeps a
    # non-cheap multiply-referenced alias staged. Same tokens, same
    # values.
    from data_integration_and_harmonization_spark.operators.text import tokens

    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        t.alias("text"),
        tokens(t).alias("__toks"),
        sample_hash([id_col], seed).alias("__hu"),
    )
    tk = F.col("__toks")
    t = F.col("text")
    n_chars = F.length(t)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    alpha_ratio = F.when(n_chars > 0, alpha.cast("double") / n_chars).otherwise(
        F.lit(0.0)
    )
    base = staged.select(
        "doc_id",
        "text",
        # null text = 0 tokens on BOTH sides (size() of a null array is
        # engine/config-dependent — NULL, or -1 under legacy sizeOfNull,
        # and the oracle's len(toks) is NULL; pin the semantics with an
        # explicit null guard instead)
        F.when(t.isNull(), F.lit(0)).otherwise(F.size(tk)).alias("n_tokens"),
        language_id_column("text", toks=tk).alias("lang_pred"),
        fingerprint("text").alias("__fp"),
        "__hu",
        alpha_ratio.alias("__alpha"),
    )
    ann = base.withColumn(
        _FLAG["quality"],
        F.col("n_tokens").between(min_tokens, max_tokens)
        & (F.col("__alpha") >= min_alpha),
    ).withColumn(
        _FLAG["language"], F.col(_FLAG["quality"]) & (F.col("lang_pred") == lang)
    )
    # Conditional aggregate, NOT where(flag)+groupBy (r14): this
    # subtree runs BELOW the ann persist, and PushDownPredicates
    # substitutes alias definitions into a pushed filter regardless of
    # cost — the flag predicate landed as a Filter directly over the
    # scan with the staged tokenizer re-inlined ~20x per row (the
    # pushdown undoes the tokenize-once staging; Filter conditions
    # don't get CollapseProject's multi-reference protection). The
    # when() lives in a projection, so the staged __toks alias
    # survives and the tokenizer runs once per row. Semantics are
    # identical: min() ignores the NULLs non-survivors map to, and a
    # group with no survivors yields __keep NULL — exactly what the
    # left join produced for a group absent from the filtered build
    # (the exact_dedup flag is already gated on the language flag, so
    # NULL == no-match either way).
    keep = (
        ann.select(
            "__fp",
            F.when(F.col(_FLAG["language"]), F.col("doc_id")).alias("__cand"),
        )
        .groupBy("__fp")
        .agg(F.min("__cand").alias("__keep"))
    )
    ann = ann.join(keep, "__fp", "left").withColumn(
        _FLAG["exact_dedup"],
        F.col(_FLAG["language"]) & (F.col("doc_id") == F.col("__keep")),
    )
    # Materialize the profile+exact-dedup frame HERE: the near-dedup
    # stage below ends in a driver-side connected-components collect,
    # and downstream consumers (decon join, funnel report, the packing
    # tail's offsets job, the caller's final action) each trigger
    # their own jobs — without this cache the whole
    # tokenize/langid/fingerprint subtree re-executes per consumer
    # (measured 3-4 executions = ~3.5 s of pure recompute at sf0.1).
    # Tracked persist: released at the driver's next query boundary;
    # library callers can release via functions.caching.release_all.
    from data_integration_and_harmonization_spark.functions.caching import track

    ann = track(ann.persist())
    ann.count()
    # near_dedup: LSH-verified clusters over exact survivors (md5
    # family so the oracle replays the candidate graph); a doc not in
    # any cluster keeps itself, a clustered doc survives iff it is the
    # cluster minimum
    from data_integration_and_harmonization_spark.operators.dedup import (
        duplicate_clusters,
        lsh_verified_pairs,
    )

    pairs = lsh_verified_pairs(
        ann.where(F.col(_FLAG["exact_dedup"])).select("doc_id", "text"),
        threshold=near_threshold,
        hash_family="md5",
    )
    clusters = duplicate_clusters(pairs).select(
        F.col("id").alias("doc_id"), F.col("cluster_id").alias("__cl")
    )
    ann = ann.join(clusters, "doc_id", "left").withColumn(
        _FLAG["near_dedup"],
        F.col(_FLAG["exact_dedup"])
        & (F.col("__cl").isNull() | (F.col("__cl") == F.col("doc_id"))),
    )
    cont = decontaminate(
        ann.where(F.col(_FLAG["near_dedup"])).select("doc_id", "text"),
        eval_df,
        gram=decon_gram,
        threshold=decon_threshold,
    ).select(F.col("id").alias("doc_id"), F.col("contaminated").alias("__cont"))
    ann = ann.join(cont, "doc_id", "left").withColumn(
        _FLAG["decontaminate"],
        F.col(_FLAG["near_dedup"]) & (F.coalesce(F.col("__cont"), F.lit(0)) == 0),
    )
    ann = ann.withColumn(
        _FLAG["sample"],
        F.col(_FLAG["decontaminate"])
        & (F.col("__hu") < int(sample_rate * 1_000_000)),
    )
    return ann.drop("__fp", "__keep", "__cl", "__cont", "__hu", "__alpha")


def curation_report(ann: DataFrame) -> DataFrame:
    """The funnel report: one row per stage (plus 'input') with the
    surviving document and token counts — the number every curation
    run is judged by. ONE aggregate over the annotate frame (a single
    global agg; its final merge sees one partial row per task)."""
    aggs = [
        F.count(F.lit(1)).alias("n__input"),
        F.sum("n_tokens").alias("t__input"),
    ]
    for s in STAGES:
        flag = F.col(_FLAG[s])
        aggs.append(F.sum(flag.cast("long")).alias(f"n__{s}"))
        aggs.append(F.sum(F.when(flag, F.col("n_tokens"))).alias(f"t__{s}"))
    row = ann.agg(*aggs)
    names = ["input", *STAGES]
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("stage"),
                        F.coalesce(F.col(f"n__{name}"), F.lit(0))
                        .cast("long")
                        .alias("n_docs"),
                        F.coalesce(F.col(f"t__{name}"), F.lit(0))
                        .cast("long")
                        .alias("n_tokens"),
                    )
                    for name in names
                ]
            )
        ).alias("s")
    ).select("s.stage", "s.n_docs", "s.n_tokens")


def curate_and_pack(
    ann: DataFrame,
    *,
    chunk_size: int = 128,
    stride: int = 96,
    budget: int = 512,
) -> DataFrame:
    """The packing tail over the funnel's survivors: overlapping token
    chunks -> fixed-budget context windows on one global token stream
    (see :mod:`..operators.packing` for the distributed prefix-sum
    shape). Output: the (doc, chunk, pack) span table."""
    final = ann.where(F.col(_FLAG["sample"])).select("doc_id", "text")
    chunks = chunk_documents(
        final, chunk_size=chunk_size, stride=stride, with_text=False
    ).select("id", "chunk_idx", "n_chunk_tokens")
    return pack_sequences(chunks, ["id", "chunk_idx"], "n_chunk_tokens", budget=budget)


# ------------------------------------------------------- queries and oracles


def q_curate_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The whole funnel as one driver-visible query: per-stage
    (n_docs, n_tokens) rows plus a final 'packed' row
    (n_docs = number of context windows, n_tokens = tokens
    packed). Eval set for decontamination = 200-char passages of
    every 50th doc (the same shape text_decontaminate pins)."""
    from data_integration_and_harmonization_spark.functions.caching import track

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    ev = docs.where(F.col("doc_id") % 50 == 0).select(
        F.substring("text", 1, 200).alias("text")
    )
    ann = track(curate_annotate(docs, ev).persist())
    rows = curation_report(ann)
    packs = curate_and_pack(ann)
    packed_row = packs.agg(
        F.lit("packed").alias("stage"),
        F.countDistinct("pack_id").alias("n_docs"),
        F.coalesce(F.sum("tok_in_pack"), F.lit(0)).cast("long").alias("n_tokens"),
    )
    return rows.unionByName(packed_row)


_GRAM5 = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 4, 0) + 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))"
)

# MinHash-LSH candidate graph over the exact-dedup survivors —
# the shared md5-family CTE chain from operators.dedup, spliced
# bare into this WITH block with the survivor set as its source
_MINHASH = _md5_minhash_cte(
    _SHINGLES,
    source="(SELECT doc_id, text FROM f3 WHERE dedup_pass)",
    bare=True,
)

_NET = "concat(length(CAST(doc_id AS VARCHAR)), ':', CAST(doc_id AS VARCHAR))"

_HU = f"CAST(concat('0x', substr(md5(concat({_NET}, ':42')), 1, 15)) AS BIGINT) % 1000000"

_CHUNK, _STRIDE, _BUDGET = 128, 96, 512

_STAGE_ROWS = "\nUNION ALL\n".join(
    f"SELECT '{name}', sum(CASE WHEN {flag} THEN 1 ELSE 0 END)::BIGINT, "
    f"coalesce(sum(CASE WHEN {flag} THEN n_tok END), 0)::BIGINT FROM f5"
    for name, flag in [
        ("quality", "q_pass"),
        ("language", "lang_pass"),
        ("exact_dedup", "dedup_pass"),
        ("near_dedup", "near_pass"),
        ("decontaminate", "decon_pass"),
        ("sample", "sample_pass"),
    ]
)

CURATE_PIPELINE_SQL = f"""
WITH RECURSIVE t AS MATERIALIZED (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         {_LANGID_CASE} AS lang_pred
  FROM documents
), f AS (
  SELECT doc_id, text, toks, coalesce(len(toks), 0) AS n_tok, lang_pred,
         (len(toks) BETWEEN 20 AND 10000)
         AND (CASE WHEN n_chars > 0 THEN CAST(alpha AS DOUBLE) / n_chars ELSE 0.0 END >= 0.5)
           AS q_pass,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM t
), f2 AS MATERIALIZED (
  SELECT *, q_pass AND lang_pred = 'en' AS lang_pass FROM f
), keep AS (
  SELECT fp, min(doc_id) AS keep_id FROM f2 WHERE lang_pass GROUP BY 1
), f3 AS MATERIALIZED (
  SELECT f2.*, coalesce(f2.lang_pass AND f2.doc_id = k.keep_id, FALSE) AS dedup_pass
  FROM f2 LEFT JOIN keep k ON k.fp = f2.fp
), {_MINHASH}, verified AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
  WHERE round(CASE WHEN len(list_distinct(a.shl || b.shl)) > 0
        THEN CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE)
             / len(list_distinct(a.shl || b.shl))
        ELSE 0.0 END, 6) >= 0.5
), nd_edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION
  SELECT id_b, id_a FROM verified
), nd_reach(id, lbl) AS (
  SELECT src, src FROM nd_edges
  UNION
  SELECT e.dst, r.lbl FROM nd_reach r JOIN nd_edges e ON e.src = r.id
), nd_comp AS (
  SELECT id, min(lbl) AS ent FROM nd_reach GROUP BY 1
), f3b AS MATERIALIZED (
  SELECT f3.*, f3.dedup_pass AND (c.ent IS NULL OR c.ent = f3.doc_id) AS near_pass
  FROM f3 LEFT JOIN nd_comp c ON c.id = f3.doc_id
), ev AS (
  SELECT regexp_extract_all(lower(substr(text, 1, 200)), '{TOKEN_RE}') AS toks
  FROM documents WHERE doc_id % 50 = 0
), evg AS (
  SELECT DISTINCT md5(unnest({_GRAM5})) AS h FROM ev
), cx AS (
  SELECT doc_id, md5(unnest({_GRAM5})) AS g FROM f3b WHERE near_pass
), pd AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams,
         sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
  FROM cx LEFT JOIN evg ev ON ev.h = cx.g GROUP BY 1
), f4 AS (
  SELECT f3b.*,
         f3b.near_pass AND NOT coalesce(
           round(CASE WHEN pd.n_grams > 0 THEN pd.n_hit::DOUBLE / pd.n_grams ELSE 0.0 END, 6) >= 0.2,
           FALSE) AS decon_pass
  FROM f3b LEFT JOIN pd ON pd.doc_id = f3b.doc_id
), f5 AS MATERIALIZED (
  SELECT *, decon_pass AND ({_HU} < 500000) AS sample_pass FROM f4
), chunks AS (
  SELECT doc_id, (s / {_STRIDE})::BIGINT AS chunk_idx,
         least({_CHUNK}, n_tok - s)::BIGINT AS ctok
  FROM (SELECT doc_id, n_tok FROM f5 WHERE sample_pass AND n_tok > 0),
       unnest(generate_series(
         0,
         CAST({_STRIDE} * ceil(greatest(n_tok - {_CHUNK}, 0) / {_STRIDE}.0) AS BIGINT),
         {_STRIDE})) AS u(s)
), c AS (
  SELECT doc_id, chunk_idx, ctok,
         sum(ctok) OVER (ORDER BY doc_id, chunk_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM chunks
), spans AS (
  SELECT doc_id, p,
         (least(cum - 1, (p + 1) * {_BUDGET} - 1)
          - greatest(cum - ctok, p * {_BUDGET}) + 1)::BIGINT AS tok_in_pack
  FROM c, unnest(generate_series(CAST((cum - ctok) // {_BUDGET} AS BIGINT),
                                 CAST((cum - 1) // {_BUDGET} AS BIGINT))) AS u(p)
)
SELECT stage, n_docs, n_tokens FROM (
  SELECT 'input' AS stage, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens FROM f5
  UNION ALL
  {_STAGE_ROWS}
  UNION ALL
  SELECT 'packed', count(DISTINCT p)::BIGINT, coalesce(sum(tok_in_pack), 0)::BIGINT FROM spans
)
"""
