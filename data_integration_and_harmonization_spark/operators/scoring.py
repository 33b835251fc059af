"""Corpus-statistics document scoring (engine extension; SURVEY §7
north-star text ops — no reference counterpart).

Two operators that *fit* a tiny statistical model over the whole
corpus and then *apply* it per document — the same fit/transform split
as the reference's scaler/encoder (ref:41-51), lifted to text:

- BM25 keyword ranking: classic Okapi BM25 (Robertson/Sparck Jones;
  public formula) — retrieval over the documents table for a bag of
  query terms.
- Bigram language-model quality: add-one-smoothed conditional bigram
  log-likelihood; low average log-probability = unnatural token
  sequences (boilerplate, garbled extraction) — the cheap corpus-level
  quality score used by training-data pipelines before an expensive
  model-based filter.

Scale shape (both): the regex tokenizer — the dominant per-row CPU —
is materialized ONCE into an array column per scan subtree (the
non-cheap alias is referenced more than once, so Catalyst's
CollapseProject keeps the producing projection instead of inlining
the regexp into every consumer); counts are hash-shuffled on the
term (or bigram) key with map-side partial aggregation; corpus-level
scalars (N, avgdl, vocabulary size) are 1-row frames broadcast into
the plan — never a driver-side collect in the data path. Per-doc
scoring joins stream the (doc, term) rows against the count tables on
their natural keys; nothing corpus-sized is broadcast. The corpus
scalars live on a second scan branch, so the corpus is read (and
tokenized) exactly twice end-to-end — down from three in the first
cut of BM25, which re-ran the tokenizer for dl, the explode, AND the
stats aggregate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators.text import TOKEN_RE, tokens


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 score of every matching document for a bag of query
    terms: ``sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    with ``idf = ln(1 + (N-df+0.5)/(df+0.5))``.

    Document length is computed as ``size(toks)`` off the one
    materialized token array; the explode is PRE-FILTERED to query-term
    hits (``F.filter`` with an ``array_contains`` predicate — NOT
    ``array_intersect``, which would collapse duplicate hits and break
    tf), so only matching tokens ever become rows; df/N/avgdl are tiny
    aggregates broadcast back.

    Output: (doc_id, n_terms_hit, bm25) for docs hitting >= 1 term.
    """
    terms = sorted(set(query_terms))
    terms_arr = F.array(*[F.lit(t) for t in terms])
    # tokenize once per doc per scan: `toks` is a named projection the
    # consumers reference — dl + the filtered explode share it
    tokd = docs.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
    base = tokd.select(
        "id",
        F.size("toks").alias("dl"),
        F.explode(
            F.filter("toks", lambda t: F.array_contains(terms_arr, t))
        ).alias("term"),
    )
    # corpus scalars: one row, broadcast — N over ALL docs (incl. ones
    # matching no query term), avgdl over all docs likewise
    stats = tokd.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    tf = base.groupBy("id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    # document frequency as a window over tf, NOT a groupBy+join back:
    # a dfreq frame derived from tf is a second full corpus scan
    # (column pruning makes the two tf subtrees non-identical, so
    # exchange reuse never fires — measured). The window re-shuffles
    # only the tiny (docs-hit x terms) tf stream on `term`.
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).crossJoin(F.broadcast(stats))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    w = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.round(F.sum(idf * w), 6).alias("bm25"),
        )
        .select(F.col("id").alias(id_col), "n_terms_hit", "bm25")
    )


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Add-one-smoothed bigram LM quality score.

    Fit: corpus bigram counts c2(w1,w2), unigram-context counts c1(w1),
    vocabulary size V. Apply: per document, the mean of
    ``ln((c2+1)/(c1+V))`` over its token bigrams. Natural text re-uses
    frequent continuations (score high); garbled text hits unseen
    transitions (score low).

    Bigrams come from the same zip-of-slices shape as
    :func:`..dedup.word_shingles` (lambda captures nothing, so the
    tokenizer runs once per row, not once per bigram); the token array
    is materialized once per scan (`toks` column) and the pairs +
    vocab branches both derive from it.

    Output: (doc_id, n_bigrams, avg_logp), docs with >= 1 bigram.
    """
    tokd = docs.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
    t = F.col("toks")
    n = F.greatest(F.size(t) - 1, F.lit(0))
    z = F.arrays_zip(F.slice(t, 1, n), F.slice(t, 2, n))
    pairs = tokd.select("id", F.explode(z).alias("bg")).select(
        "id", F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2")
    )
    # Fit: the context counts c1(w1) = sum of c2 over w1, so they
    # attach to the (much smaller) distinct-bigram table instead of
    # joining the corpus-scale pair stream a second time — the apply
    # step below is then ONE corpus-scale shuffle join, not two. The
    # attach is a WINDOW over c2, not a groupBy+join back: a c1 frame
    # derived from c2 re-executes the whole corpus subtree under it
    # (pruning defeats exchange reuse — measured), while the window
    # re-shuffles only the distinct-bigram table on `w1`.
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    model = c2.withColumn("c1", F.sum("c2").over(Window.partitionBy("w1")))
    vocab = tokd.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    logp = F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v")))
    return (
        pairs.join(model, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_logp"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "avg_logp")
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    postings_cap: int = 8,
) -> DataFrame:
    """Search-index construction: ``term -> (df, cf, postings_head)``
    — document frequency, collection frequency, and the first
    ``postings_cap`` doc ids of the term's posting list (ascending).

    Scale shape: the (term, doc) occurrence stream is hash-aggregated
    on the composite key with map-side combine (the ``tf`` table — the
    index's only corpus-sized shuffle), then PERSISTED and consumed by
    two bounded follow-ups: per-term df/cf (second grouped agg) and the
    posting head. The head is capped *before* aggregation by a
    ``row_number`` window over ``(term ORDER BY id)`` — the window sort
    is spillable executor-side work, and the ``collect_list`` that
    follows only ever sees ``postings_cap`` rows per term, so a
    stop-word's corpus-sized posting list never materializes as
    aggregation state (the classic skew hazard of naive
    ``collect_list`` indexing).
    """
    from data_integration_and_harmonization_spark.functions.caching import track

    pairs = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    td = track(
        pairs.groupBy("term", "id").agg(F.count(F.lit(1)).alias("tf")).persist()
    )
    stats = td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    w = Window.partitionBy("term").orderBy("id")
    heads = (
        td.select("term", "id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= postings_cap)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("postings_head")
        )
    )
    return stats.join(heads, "term")


# ------------------------------------------------------- queries and oracles

QUERY_TERMS = ["spark", "window", "hash", "table", "fast"]


def zipf_stats(
    docs: DataFrame, text_col: str = "text", top_n: int = 1000
) -> DataFrame:
    """Corpus rank-frequency diagnostics — the Zipf-law fit every
    corpus-health dashboard carries: natural language shows
    log(freq) ~ -s * log(rank) with s near 1; a slope far from 1 (or
    a huge top-token mass share) flags templated/boilerplate corpora
    before any per-document score would.

    Scale shape: one explode + map-combinable term groupBy (the
    vocabulary is Zipf-bounded, far below corpus size), then a CAPPED
    top-``top_n`` merge (``orderBy().limit()`` plans as
    TakeOrderedAndProject — no global-window single-partition rank
    over the full vocabulary); the OLS slope (``regr_slope`` of
    ln f on ln rank) and mass shares aggregate the bounded top table.
    Ties rank deterministically by (freq desc, term asc).

    Output rows (leg-style): ('slope', n_ranked, slope),
    ('mass', n_total_tokens, top-100 mass share),
    ('vocab', vocab_size, type-token ratio).
    """
    tf = (
        docs.select(F.explode(tokens(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = (
        tf.orderBy(F.desc("f"), "t")
        .limit(top_n)
        .withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("f"), F.col("t")))
        )
    )
    slope_row = ranked.agg(
        F.lit("slope").alias("key"),
        F.count(F.lit(1)).cast("double").alias("m1"),
        F.round(F.expr("regr_slope(ln(f), ln(r))"), 6).alias("m2"),
    )
    totals = tf.agg(
        F.sum("f").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    top_mass = ranked.where(F.col("r") <= 100).agg(
        F.sum("f").cast("double").alias("top_f")
    )
    mass_row = totals.crossJoin(top_mass).select(
        F.lit("mass").alias("key"),
        F.col("n_total").alias("m1"),
        F.round(F.col("top_f") / F.col("n_total"), 6).alias("m2"),
    )
    vocab_row = totals.select(
        F.lit("vocab").alias("key"),
        F.col("v").alias("m1"),
        F.round(F.col("v") / F.col("n_total"), 6).alias("m2"),
    )
    return slope_row.unionByName(mass_row).unionByName(vocab_row)


def q_text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    # two tagged legs in one frame: 'score' = the BM25 top-50
    # (deterministic: ordered by the ROUNDED score with doc_id as
    # the tiebreak), 'postings' = the 25 highest-df entries of the
    # inverted index with capped posting heads. Uniform schema
    # (leg, key, m1, m2, aux).
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    s = bm25_scores(docs, QUERY_TERMS).orderBy(F.desc("bm25"), "doc_id").limit(50)
    score_rows = s.select(
        F.lit("score").alias("leg"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_terms_hit").cast("double").alias("m1"),
        F.col("bm25").alias("m2"),
        F.lit(None).cast("string").alias("aux"),
    )
    idx = inverted_index(docs).orderBy(F.desc("df"), "term").limit(25)
    post_rows = idx.select(
        F.lit("postings").alias("leg"),
        F.col("term").alias("key"),
        F.col("df").cast("double").alias("m1"),
        F.col("cf").cast("double").alias("m2"),
        F.col("postings_head").alias("aux"),
    )
    # r9 third wave, 'zipf' leg: corpus rank-frequency diagnostics
    # (slope / top-mass / type-token ratio) — see zipf_stats
    zipf_rows = zipf_stats(docs).select(
        F.lit("zipf").alias("leg"),
        F.col("key"),
        "m1",
        "m2",
        F.lit(None).cast("string").alias("aux"),
    )
    return score_rows.unionByName(post_rows).unionByName(zipf_rows)


def q_text_lm_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return bigram_lm_scores(docs)


_TOKS = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"

_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

TEXT_BM25_TOPK_SQL = f"""
WITH tok AS (
  SELECT doc_id AS id, len({_TOKS}) AS dl, unnest({_TOKS}) AS term
  FROM documents
), stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(len({_TOKS})) AS avgdl FROM documents
), tf AS (
  SELECT id, term, count(*)::DOUBLE AS tf, any_value(dl)::DOUBLE AS dl
  FROM tok WHERE term IN ({_TERMS_SQL}) GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), scores AS (
  SELECT id AS doc_id, count(*)::BIGINT AS n_terms_hit,
    round(sum(
      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
      * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    ), 6) AS bm25
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY id
  ORDER BY bm25 DESC, doc_id
  LIMIT 50
), td AS (
  SELECT term, id, count(*)::BIGINT AS itf FROM tok GROUP BY 1, 2
), istats AS (
  SELECT term, count(*)::BIGINT AS df, sum(itf)::BIGINT AS cf FROM td GROUP BY 1
), heads AS (
  SELECT term, array_to_string(list_sort(list(id)), ',') AS postings_head
  FROM (SELECT term, id, row_number() OVER (PARTITION BY term ORDER BY id) AS rn
        FROM td)
  WHERE rn <= 8 GROUP BY 1
), idx AS (
  SELECT s.term, s.df, s.cf, h.postings_head
  FROM istats s JOIN heads h USING (term)
  ORDER BY s.df DESC, s.term
  LIMIT 25
)
SELECT 'score' AS leg, CAST(doc_id AS VARCHAR) AS key,
       CAST(n_terms_hit AS DOUBLE) AS m1, bm25 AS m2,
       CAST(NULL AS VARCHAR) AS aux
FROM scores
UNION ALL
SELECT 'postings', term, CAST(df AS DOUBLE), CAST(cf AS DOUBLE), postings_head
FROM idx
UNION ALL
SELECT 'zipf', z.key, z.m1, z.m2, CAST(NULL AS VARCHAR)
FROM (
  WITH zf AS (
    SELECT term, count(*)::BIGINT AS f FROM tok GROUP BY 1
  ), zr AS (
    SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r FROM zf
    QUALIFY r <= 1000
  ), zt AS (
    SELECT sum(f)::DOUBLE AS n_total, count(*)::DOUBLE AS v FROM zf
  )
  SELECT 'slope' AS key, count(*)::DOUBLE AS m1,
         round(regr_slope(ln(f), ln(r)), 6) AS m2
  FROM zr
  UNION ALL
  SELECT 'mass', n_total,
         round((SELECT sum(f)::DOUBLE FROM zr WHERE r <= 100) / n_total, 6)
  FROM zt
  UNION ALL
  SELECT 'vocab', v, round(v / n_total, 6) FROM zt
) z
"""

TEXT_LM_QUALITY_SQL = f"""
WITH pairs AS (
  SELECT id, l[i] AS w1, l[i + 1] AS w2
  FROM (SELECT doc_id AS id, {_TOKS} AS l FROM documents),
       unnest(range(1, greatest(len(l) - 1, 0) + 1)) AS r(i)
), c2 AS (
  SELECT w1, w2, count(*)::DOUBLE AS c2 FROM pairs GROUP BY 1, 2
), c1 AS (
  SELECT w1, count(*)::DOUBLE AS c1 FROM pairs GROUP BY 1
), vocab AS (
  SELECT count(DISTINCT tok)::DOUBLE AS v
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
)
SELECT id AS doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(ln((c2 + 1.0) / (c1 + v))), 6) AS avg_logp
FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
GROUP BY id
"""
