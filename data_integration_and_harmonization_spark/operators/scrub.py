"""Corpus hygiene for training-data pipelines (engine extension; no
reference counterpart — SURVEY §7 north-star ops): benchmark
decontamination and PII redaction.

Both operators are pure ``pyspark.sql.functions`` column expressions —
regex scans and n-gram joins stay inside whole-stage codegen, no
Python UDF anywhere.

Scale shape:

- ``decontaminate``: corpus n-grams explode to (id, md5-digest) rows
  that partial-aggregate before the join; the eval-set side is a
  distinct digest set (benchmarks are ~1e3..1e6 grams — tiny next to
  the corpus) joined on the 16-byte digest, never on gram text. The
  join is a shuffle equi-join; AQE broadcasts the eval side when it is
  provably small, and nothing corpus-sized is ever broadcast or
  collected.
- ``redact_pii``: one projection pass per document, k regex scans +
  k replacements, all JVM-side; output carries counts and the redacted
  text, so downstream stages never see the raw payload.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators.dedup import word_shingles
from data_integration_and_harmonization_spark.operators.text import tokens

# PII patterns restricted to constructs Java regex (Spark) and RE2
# (DuckDB / Go / Rust engines) treat identically: char classes, bounded
# repetition — no lookaround, no backreferences. Replacement ORDER is
# part of the contract (dict order below): each tag contains no digits,
# so earlier replacements cannot create later matches.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\d{3}-\d{2}-\d{4}",
    "phone": r"\d{3}[-. ]\d{3}[-. ]\d{4}",
    "ip": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
}


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose word
    ``gram``-gram sets overlap an evaluation set's gram set.

    The standard n-gram-overlap test (GPT-3 appendix C / PaLM-style):
    a doc with ``n_hit / n_grams >= threshold`` is contaminated and
    should be dropped before training.

    Join key is ``md5(gram)`` so only 16-byte digests shuffle. Docs
    with fewer than ``gram`` tokens have no grams and report
    ``n_grams = 0``, ``contamination = 0.0``, never flagged.

    Output: (id, n_grams, n_hit, contamination, contaminated).
    """
    # staged tokenize on both sides (r14): word_shingles references its
    # token array ~2*gram times, so the array is staged under an alias
    # in a prior projection (see dedup.word_shingles)
    ev = (
        eval_df.select(tokens(text_col).alias("__tk"))
        .select(F.explode(word_shingles(F.col("__tk"), gram)).alias("g"))
        .select(F.md5("g").alias("h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ex = (
        corpus.select(F.col(id_col).alias("id"), tokens(text_col).alias("__tk"))
        .select("id", F.explode(word_shingles(F.col("__tk"), gram)).alias("g"))
        .select("id", F.md5("g").alias("h"))
    )
    per_doc = (
        ex.join(ev, "h", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
    )
    # left join back so gram-less docs still appear (n_grams = 0)
    base = corpus.select(F.col(id_col).alias("id"))
    contamination = F.round(
        F.when(F.col("n_grams") > 0, F.col("n_hit") / F.col("n_grams")).otherwise(F.lit(0.0)), 6
    )
    return (
        base.join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        )
        .withColumn("contamination", contamination)
        .withColumn("contaminated", (F.col("contamination") >= threshold).cast("int"))
    )


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Typed PII redaction: count and replace each pattern class with
    a ``<CLASS>`` tag, in the declared pattern order.

    Counts are taken against the ORIGINAL text (so overlapping classes
    report what a scanner would see); replacements chain in order, so
    a span can only be consumed by the first class that matches it.

    Output: (id, n_<class>... , redacted, redacted_len).
    """
    pats = patterns or PII_PATTERNS
    t = F.col(text_col)
    out = [F.col(id_col).alias("id")]
    for name, pat in pats.items():
        out.append(F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long").alias(f"n_{name}"))
    red = t
    for name, pat in pats.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    out.append(red.alias("redacted"))
    return df.select(*out).withColumn("redacted_len", F.length("redacted").cast("long"))


def pseudonymize(
    df: DataFrame,
    cols: list[str],
    salt: str,
    prefix: str = "tok_",
) -> DataFrame:
    """Deterministic salt-keyed tokenization — the third leg of the
    privacy family (redact destroys, k-anonymity audits, pseudonymize
    PRESERVES JOINS): each value becomes ``prefix + md5(salt:value)``,
    so the same value maps to the same token in every table tokenized
    with the same salt — referential integrity survives, equality
    joins and groupBys still work, and without the salt the mapping is
    a one-way function (GDPR Art. 4(5) pseudonymization, not
    anonymization — the salt is the 'additional information' to keep
    separately). NULLs stay NULL.

    Pure codegen projection (one md5 per value), no shuffle, no
    lookup table to manage or leak — the salt IS the mapping.
    """
    targets = set(cols)

    def tok(c: str):
        col = F.col(c)
        return F.when(
            col.isNotNull(),
            F.concat(
                F.lit(prefix),
                F.md5(F.concat_ws(":", F.lit(salt), col.cast("string"))),
            ),
        ).alias(c)

    return df.select(
        *[tok(c) if c in targets else F.col(c) for c in df.columns]
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str | None = None,
    k: int = 5,
) -> DataFrame:
    """Per-equivalence-class privacy audit — k-anonymity (Sweeney 2002)
    with optional l-diversity (Machanavajjhala et al. 2007): group the
    table by its quasi-identifier columns; a class with fewer than
    ``k`` rows re-identifies its members, and a class whose sensitive
    column takes few distinct values leaks it even when k holds.

    The release-gate audit a curation pipeline runs AFTER
    :func:`redact_pii`: redaction removes direct identifiers, this
    measures what the remaining quasi-identifiers still disclose.

    Scale shape: ONE map-combinable groupBy on the quasi-identifier
    key (count + approx-free distinct via count(DISTINCT) per class —
    class-local, not global); no joins, nothing collected. Output is
    one row per equivalence class: (quasi..., class_size, l_distinct,
    k_anonymous).
    """
    aggs = [F.count(F.lit(1)).alias("class_size")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(sensitive_col).alias("l_distinct"))
    g = df.groupBy(*quasi_cols).agg(*aggs)
    if sensitive_col is None:
        g = g.withColumn("l_distinct", F.lit(None).cast("long"))
    return g.select(
        *quasi_cols,
        F.col("class_size").cast("long").alias("class_size"),
        F.col("l_distinct").cast("long").alias("l_distinct"),
        (F.col("class_size") >= k).cast("int").alias("k_anonymous"),
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str | None = None,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """Corpus-level summary of :func:`k_anonymity` — the single row a
    release gate checks: class counts, how many classes (and rows)
    fall below ``k``, the minimum class size, and how many classes
    fail ``l``-diversity. Two aggregations total (the class pass +
    this rollup over ~|classes| rows)."""
    cls = k_anonymity(df, quasi_cols, sensitive_col, k)
    return cls.agg(
        F.lit(",".join(quasi_cols)).alias("quasi_cols"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("class_size").cast("long").alias("n_rows"),
        F.min("class_size").cast("long").alias("min_class_size"),
        F.sum((F.col("k_anonymous") == 0).cast("long")).alias("n_small_classes"),
        F.sum(
            F.when(F.col("k_anonymous") == 0, F.col("class_size")).otherwise(F.lit(0))
        ).cast("long").alias("n_rows_at_risk"),
        F.sum((F.coalesce("l_distinct", F.lit(l)) < l).cast("long")).alias(
            "n_low_diversity"
        ),
        F.min(
            (F.col("k_anonymous") == 1)
            & (F.coalesce("l_distinct", F.lit(l)) >= l)
        ).cast("int").alias("ok"),
    )


# ------------------------------------------------------- queries and oracles


def q_text_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # eval set = 200-char passages of every 50th doc — how
    # benchmark contamination manifests (verbatim spans of corpus
    # docs inside the eval set), deterministic at every sf
    ev = docs.where(F.col("doc_id") % 50 == 0).select(
        F.substring("text", 1, 200).alias("text")
    )
    return decontaminate(docs, ev, gram=5, threshold=0.2)


def q_text_scrub(spark: SparkSession, sf: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # deterministic PII injection: the synthetic corpus carries no
    # PII, so the query plants one span per class keyed on doc_id
    # (both engines replay the same concat), then redacts
    d = F.col("doc_id")
    injected = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(F.lit("user"), d.cast("string"), F.lit("@example.com")),
        F.concat(F.lit("555-010-"), F.lpad((d % 10000).cast("string"), 4, "0")),
        F.concat(
            F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((d % 100).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
        ),
        F.concat(
            F.lit("10.0."),
            (d % 256).cast("string"),
            F.lit("."),
            ((d / 256).cast("long") % 256).cast("string"),
        ),
    )
    red = redact_pii(docs.select("doc_id", injected.alias("text")))
    # r9 third wave: pseudonymization rides as the author token —
    # ~50 docs share each synthetic author, so identical tokens
    # across rows prove the join-preserving property end to end
    authored = red.withColumn(
        "author",
        F.concat(F.lit("author"), (F.col("id") % 50).cast("string")),
    )
    tok = pseudonymize(authored, ["author"], salt="s3cret")
    return tok.select(
        "id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ip",
        F.md5("redacted").alias("redacted_fp"),
        "redacted_len",
        F.col("author").alias("author_token"),
    )


_TOKS = "regexp_extract_all(lower(text), '[A-Za-z0-9_]+')"

_GRAM5 = (
    "list_distinct(list_transform(range(1, greatest(len(t) - 4, 0) + 1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))"
)

_EMAIL, _SSN, _PHONE, _IP = (
    PII_PATTERNS["email"],
    PII_PATTERNS["ssn"],
    PII_PATTERNS["phone"],
    PII_PATTERNS["ip"],
)

TEXT_DECONTAMINATE_SQL = f"""
WITH ev_src AS (
  SELECT substr(text, 1, 200) AS text FROM documents WHERE doc_id % 50 = 0
), evg AS (
  SELECT DISTINCT md5(unnest({_GRAM5})) AS h
  FROM (SELECT {_TOKS} AS t FROM ev_src)
), ex AS (
  SELECT doc_id AS id, md5(unnest({_GRAM5})) AS g
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
), pd AS (
  SELECT id, count(*)::BIGINT AS n_grams,
         sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
  FROM ex LEFT JOIN evg ev ON ev.h = ex.g GROUP BY 1
)
SELECT d.doc_id AS id,
       coalesce(pd.n_grams, 0)::BIGINT AS n_grams,
       coalesce(pd.n_hit, 0)::BIGINT AS n_hit,
       round(CASE WHEN coalesce(pd.n_grams, 0) > 0
             THEN pd.n_hit::DOUBLE / pd.n_grams ELSE 0.0 END, 6) AS contamination,
       (CASE WHEN round(CASE WHEN coalesce(pd.n_grams, 0) > 0
             THEN pd.n_hit::DOUBLE / pd.n_grams ELSE 0.0 END, 6) >= 0.2
             THEN 1 ELSE 0 END)::INT AS contaminated
FROM documents d LEFT JOIN pd ON pd.id = d.doc_id
"""

TEXT_SCRUB_SQL = f"""
WITH inj AS (
  SELECT doc_id,
         text || ' user' || doc_id || '@example.com'
              || ' 555-010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              || ' ' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
              || '-' || lpad((doc_id % 100)::VARCHAR, 2, '0')
              || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              || ' 10.0.' || (doc_id % 256) || '.' || ((doc_id // 256) % 256) AS text
  FROM documents
), red AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_EMAIL}', '<EMAIL>', 'g'),
               '{_SSN}', '<SSN>', 'g'),
             '{_PHONE}', '<PHONE>', 'g'),
           '{_IP}', '<IP>', 'g') AS redacted,
         len(regexp_extract_all(text, '{_EMAIL}'))::BIGINT AS n_email,
         len(regexp_extract_all(text, '{_SSN}'))::BIGINT AS n_ssn,
         len(regexp_extract_all(text, '{_PHONE}'))::BIGINT AS n_phone,
         len(regexp_extract_all(text, '{_IP}'))::BIGINT AS n_ip
  FROM inj
)
SELECT doc_id AS id, n_email, n_ssn, n_phone, n_ip,
       md5(redacted) AS redacted_fp, length(redacted)::BIGINT AS redacted_len,
       'tok_' || md5('s3cret:author' || (doc_id % 50)) AS author_token
FROM red
"""
