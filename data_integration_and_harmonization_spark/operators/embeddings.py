"""Embedding-column transforms (engine extension; SURVEY §7
north-star similarity/multimodal ops — no reference counterpart).

The embedding table stores vectors as ``array<float>`` — a native
Spark type, no UDT needed. Three transforms a training-data pipeline
runs constantly:

- L2 normalization: narrow per-row ``transform`` over the array; the
  norm is one interpreted-HOF ``aggregate`` per row, evaluated once
  (the lambda captures nothing).
- mean pooling per group (centroids per label / per source / per
  shard): posexplode -> (group, pos) partial-agg shuffle -> re-pack.
  Only (group, pos, sum, count) ever shuffles — dims × groups rows,
  independent of corpus size.
- int8 quantization: per-vector symmetric scale (127 / max|x|),
  ``round(x * scale)`` — narrow, no shuffle, an 8x wire-size cut for
  downstream ANN transport.

All three stay in JVM column expressions — no Python UDF.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def l2_norm(col: Column) -> Column:
    """Euclidean norm of an array column (double)."""
    return F.sqrt(
        F.aggregate(
            _as_double(col), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """Unit-normalize a vector column; all-zero vectors stay zero.

    The norm is materialized into a column FIRST so the division
    lambda captures only a column reference — a lambda capturing the
    aggregate subtree would re-evaluate the O(d) norm per element
    (interpreted HOFs don't CSE captured expressions; same trap as
    ``dedup.word_shingles``)."""
    nrm_col = f"__{vec_col}_nrm"
    while nrm_col in df.columns:  # never clobber a caller column
        nrm_col += "_"
    out = df.withColumn(nrm_col, l2_norm(F.col(vec_col)))
    unit = F.when(
        F.col(nrm_col) > 0,
        F.transform(_as_double(F.col(vec_col)), lambda x: x / F.col(nrm_col)),
    ).otherwise(_as_double(F.col(vec_col)))
    return out.withColumn(out_col or vec_col, unit).drop(nrm_col)


def mean_pool(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    out_col: str = "pooled",
    exact_mean: bool = False,
) -> DataFrame:
    """Per-group mean vector (e.g. class centroids, per-source
    centroids for drift monitoring).

    posexplode -> groupBy(group, pos) avg (map-side combinable) ->
    re-pack ordered by position. The repack's collect_list is bounded
    by the vector dimension, never by group size.

    ``exact_mean``: sum the components in ``decimal(27,18)`` (exact,
    partition-order independent) and divide once at the end — the same
    drift-proofing the relational money aggregates use. A plain double
    ``avg`` can land either side of a rounding boundary depending on
    summation order, so any pipeline that ROUNDS the pooled value for
    cross-engine comparison should pin it with ``exact_mean=True``;
    the double path stays the cheap default for training-side use.
    (double->decimal(·,18) is deterministic: a tie at the 18th digit
    would need a dyadic value with exactly 19 decimal digits, which
    only multiples of 2^-19 have — never full-precision components.)
    """
    ex = df.select(
        F.col(group_col).alias("grp"), F.posexplode(_as_double(F.col(vec_col)))
    )
    if exact_mean:
        per_pos = ex.groupBy("grp", "pos").agg(
            (
                F.sum(F.col("col").cast("decimal(27,18)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    else:
        per_pos = ex.groupBy("grp", "pos").agg(F.avg("col").alias("m"))
    packed = (
        per_pos.groupBy("grp")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("grp").alias(group_col),
            F.transform(F.col("pm"), lambda s: s["m"]).alias(out_col),
        )
    )
    return packed


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q = round(x * scale)``
    with ``scale = 127 / max|x|`` (zero vectors get scale 0 and an
    all-zero code). Dequantize: ``x ~ q / scale``."""
    v = _as_double(F.col(vec_col))
    mx = F.array_max(F.transform(v, F.abs))
    scale = F.when(mx > 0, 127.0 / mx).otherwise(F.lit(0.0))
    return df.withColumn(scale_col, scale).withColumn(
        out_col,
        F.transform(v, lambda x: F.round(x * F.col(scale_col)).cast("int")),
    )


def truncate_dim(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    out_col: str | None = None,
    renormalize: bool = True,
) -> DataFrame:
    """Matryoshka-style dimension truncation: keep the first ``dim``
    components and (by default) re-unit-normalize — the standard way
    MRL-trained embeddings trade recall for index size (a 4x-shorter
    prefix costs a few recall points but quarters every ANN
    structure's memory and the brute-force FLOPs). Pure narrow
    column expressions, no shuffle; vectors shorter than ``dim`` pass
    through unchanged (slice caps at length).
    """
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    out = df.withColumn(out_col or vec_col, F.slice(_as_double(F.col(vec_col)), 1, dim))
    if renormalize:
        out = l2_normalize(out, out_col or vec_col)
    return out


def projection_matrix(in_dim: int, out_dim: int, seed: int = 42):
    """Deterministic Gaussian JL matrix, rows scaled by 1/sqrt(k) so
    E[||Pv||^2] = ||v||^2. Shared by the engine and the oracle (the
    oracle inlines the same literals), so the projection is exactly
    reproducible anywhere."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((out_dim, in_dim)) / (out_dim ** 0.5)


def random_projection(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    out_col: str | None = None,
    seed: int = 42,
    in_dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: dense seeded-Gaussian
    dimensionality reduction for the embedding column — the cheap
    alternative to PCA when you need distance-approximate shorter
    vectors for ANN shortlisting (norms and pairwise distances are
    preserved within 1±eps w.h.p., the JL lemma).

    Plan shape: the k x d matrix rides as k literal-array dot-product
    expressions (zip_with multiply + aggregate fold, all inside
    whole-stage codegen) — ONE narrow projection, no shuffle, no
    join, no Python. n*d*k FLOPs is the irreducible dense-projection
    cost; at k*d beyond ~10^4 terms switch the matrix to a broadcast
    table + exploded aggregate (the PQ-centers trade documented in
    q_dedup's SemDeDup notes).
    """
    if in_dim is None:
        row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is None:
            return df.withColumn(out_col or vec_col, F.col(vec_col))
        in_dim = row["d"]
    R = projection_matrix(in_dim, out_dim, seed)
    # r13: the k x d literal matrix used to be assembled as k*d
    # separate F.lit() calls plus k python-lambda HOF builds — ~2.4 s
    # of pure DRIVER py4j time per invocation at k=32, d=64 (the
    # executors were idle; the bench's build/serve split exposed it).
    # One SQL string per component parses JVM-side in ~0.3 s total.
    # The expression tree is semantically identical (same transform/
    # zip_with/aggregate ladder, same literal doubles — repr() is the
    # shortest round-trip form and Double.parseDouble returns the
    # exact same IEEE value), so results are bit-identical.
    # a non-finite matrix entry would render as unparseable SQL
    # ('nanD'); the seeded generator only emits finite values, so this
    # is an assertion with a clear message rather than a fallback
    if not all(math.isfinite(float(w)) for row in R for w in row):
        raise ValueError("projection_matrix produced a non-finite entry")
    vec = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    comps = [
        F.expr(
            f"aggregate(zip_with({vec}, array("
            + ",".join(repr(float(w)) + "D" for w in R[j])
            + "), (x, w) -> x * w), 0.0D, (a, x) -> a + x)"
        )
        for j in range(out_dim)
    ]
    return df.withColumn(out_col or vec_col, F.array(*comps))


# ------------------------------------------------------- queries and oracles


def q_emb_pool_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Normalize -> per-label mean-pool + per-vector int8 quantize,
    hashed in one tagged long-format result:

    - kind='pool':  key=label, pos, val=round(pooled component, 6)
    - kind='quant': key=vec_id, pos=-1, val=sum(q) (code checksum)
    - kind='scale': key=vec_id, pos=-1, val=round(scale, 6)
    - kind='trunc': key=vec_id, pos=-1, val=round(sum of the
      16-dim matryoshka prefix after re-normalization, 6) — the
      oracle replays the identical slice -> norm -> divide -> sum
      ladder, element order and all, so the checksum pins
      truncate_dim's exact arithmetic.
    """
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    unit = l2_normalize(emb)
    pooled = mean_pool(unit, "label", exact_mean=True).select(
        F.lit("pool").alias("kind"),
        F.col("label").cast("long").alias("key"),
        F.posexplode("pooled"),
    ).select("kind", "key", F.col("pos").cast("long").alias("pos"), F.round("col", 6).alias("val"))
    q = quantize_int8(unit)
    quant = q.select(
        F.lit("quant").alias("kind"),
        F.col("vec_id").alias("key"),
        F.lit(-1).cast("long").alias("pos"),
        F.aggregate("q", F.lit(0.0), lambda a, x: a + x.cast("double")).alias("val"),
    )
    scales = q.select(
        F.lit("scale").alias("kind"),
        F.col("vec_id").alias("key"),
        F.lit(-1).cast("long").alias("pos"),
        F.round("q_scale", 6).alias("val"),
    )
    trunc = truncate_dim(emb, 16).select(
        F.lit("trunc").alias("kind"),
        F.col("vec_id").alias("key"),
        F.lit(-1).cast("long").alias("pos"),
        F.round(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("val"),
    )
    # r8 'jl' legs: JL random projection of the unit vectors to 32
    # dims — val is round(||Pv||^2, 6) per vector (the quantity the
    # JL lemma bounds; the oracle inlines the SAME seeded Gaussian
    # literals via list_dot_product), plus one 'jl_ok' verdict row:
    # the fraction of vectors whose projected squared norm lands in
    # [0.4, 1.6] must be >= 0.95 (k=32, unit inputs — far inside
    # the lemma's envelope; a wiring bug nukes it to ~0).
    proj = random_projection(unit, 32, out_col="p")
    jl = proj.select(
        F.lit("jl").alias("kind"),
        F.col("vec_id").alias("key"),
        F.lit(-1).cast("long").alias("pos"),
        F.round(
            F.aggregate("p", F.lit(0.0), lambda a, x: a + x * x), 6
        ).alias("val"),
    )
    jl_ok = jl.agg(
        F.lit("jl_ok").alias("kind"),
        F.lit(-1).cast("long").alias("key"),
        F.lit(-1).cast("long").alias("pos"),
        F.when(
            F.avg(
                F.col("val").between(0.4, 1.6).cast("double")
            )
            >= 0.95,
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("val"),
    )
    return (
        pooled.unionByName(quant)
        .unionByName(scales)
        .unionByName(trunc)
        .unionByName(jl)
        .unionByName(jl_ok)
    )


_UNIT = (
    "CASE WHEN sqrt(list_sum(list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0 "
    "THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / "
    "sqrt(list_sum(list_transform(embedding, "
    "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) "
    "ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END"
)

# the SAME seeded Gaussian literals the engine projects with
# (full-precision repr round-trips identically into both engines'
# doubles); ||Pv||^2 = sum_j dot(v, R_j)^2
_R = projection_matrix(64, 32, seed=42)

_JL_SQ = " + ".join(
    "power(list_dot_product(v, ["
    + ", ".join(repr(float(w)) for w in _R[j])
    + "]), 2)"
    for j in range(32)
)

EMB_POOL_QUANTIZE_SQL = f"""
WITH unit AS (
  SELECT vec_id, label, {_UNIT} AS v FROM embeddings
), ex AS (
  SELECT label, vec_id, i - 1 AS pos, v[i] AS x
  FROM unit, unnest(range(1, len(v) + 1)) AS r(i)
), pool AS (
  -- decimal-exact sum, one double division at the end: mirrors
  -- mean_pool(exact_mean=True); a double avg would be summation-order
  -- dependent on both engines
  SELECT 'pool' AS kind, label::BIGINT AS key, pos::BIGINT AS pos,
         round(CAST(sum(CAST(x AS DECIMAL(27,18))) AS DOUBLE) / count(*), 6) AS val
  FROM ex GROUP BY 1, 2, 3
), scl AS (
  SELECT vec_id,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
              ELSE 0.0 END AS scale
  FROM unit
), quant AS (
  SELECT 'quant' AS kind, e.vec_id AS key, -1::BIGINT AS pos,
         sum(round(e.x * s.scale))::DOUBLE AS val
  FROM ex e JOIN scl s USING (vec_id) GROUP BY 1, 2, 3
), scale_rows AS (
  SELECT 'scale' AS kind, vec_id AS key, -1::BIGINT AS pos,
         round(scale, 6) AS val
  FROM scl
), trunc AS (
  -- matryoshka 16-dim prefix, re-normalized: the same slice -> norm ->
  -- divide -> left-to-right sum ladder truncate_dim runs, so the
  -- checksum matches bit-for-bit before the 6-decimal round
  SELECT 'trunc' AS kind, vec_id AS key, -1::BIGINT AS pos,
         round(CASE WHEN nrm > 0
                    THEN list_sum(list_transform(p, x -> x / nrm))
                    ELSE coalesce(list_sum(p), 0.0) END, 6) AS val
  FROM (
    SELECT vec_id, p,
           sqrt(list_sum(list_transform(p, x -> x * x))) AS nrm
    FROM (
      SELECT vec_id,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS p
      FROM embeddings
    )
  )
)
SELECT * FROM pool UNION ALL SELECT * FROM quant
UNION ALL SELECT * FROM scale_rows UNION ALL SELECT * FROM trunc
UNION ALL
SELECT 'jl' AS kind, vec_id AS key, -1::BIGINT AS pos,
       round({_JL_SQ}, 6) AS val
FROM unit
UNION ALL
SELECT 'jl_ok', -1::BIGINT, -1::BIGINT, CAST(1.0 AS DOUBLE)
"""
