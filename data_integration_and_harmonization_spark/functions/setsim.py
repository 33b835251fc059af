"""The one set-similarity join: exact Jaccard pairs over array-valued
sets, shared by near-duplicate removal (word-shingle sets) and record
linkage (name-token sets).

Candidate pairs come from the inputs, never from a flag:

- ``candidates`` given: exactly those pairs are verified (the
  MinHash-LSH route, where banding already proposed them);
- ``threshold > 0``: the AllPairs prefix filter on (keys, element) —
  each set keeps only its ``m - ceil(threshold*m) + 1`` globally
  rarest elements (m = its size), and two sets are candidates iff
  they share a prefix element under the same keys. Any pair with
  Jaccard >= threshold must share one, so the filter is lossless
  while hot elements ("inc", "the quick brown") stop generating
  key-wide candidate floods (Bayardo et al., WWW 2007; the streaming
  form is *Distributed Streaming Set Similarity Join*, ICDE 2020);
- otherwise every pair sharing ``keys`` (a keyed self-join; with no
  keys that would be an all-pairs cartesian, so it is refused).

Verification is written once, below. Every join is a shuffle
equi-join; nothing corpus-sized is broadcast or collected.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def jaccard_pairs(
    sets: DataFrame,
    threshold: float,
    keys: Sequence[str] = (),
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard of every candidate pair of ``sets``, kept at
    ``>= threshold``.

    ``sets``: (id, *keys, set) with ``set`` a distinct array (a null
    set counts as empty); ids are unique. ``candidates``: (id_a, id_b)
    pairs over those ids, id_a < id_b. Jaccard is
    ``|a ∩ b| / (|a| + |b| - |a ∩ b|)`` rounded to 6 decimals, and 0.0
    for two empty sets.

    Output: (id_a, id_b, jaccard), id_a < id_b.
    """
    keys = list(keys)
    sets = sets.withColumn(
        "set", F.coalesce("set", F.array().cast(sets.schema["set"].dataType))
    )
    if candidates is None and threshold <= 0:
        if not keys:
            raise ValueError(
                "keys must be non-empty at threshold <= 0: every pair "
                "qualifies, so an unkeyed join is an all-pairs cartesian"
            )
        a = sets.select(F.col("id").alias("id_a"), *keys, F.col("set").alias("set_a"))
        b = sets.select(F.col("id").alias("id_b"), *keys, F.col("set").alias("set_b"))
        pairs = a.join(b, keys).where(F.col("id_a") < F.col("id_b"))
    else:
        if candidates is None:
            candidates = _prefix_candidates(sets, threshold, keys)
        pairs = (
            candidates.select("id_a", "id_b")
            .join(sets.select(F.col("id").alias("id_a"), F.col("set").alias("set_a")), "id_a")
            .join(sets.select(F.col("id").alias("id_b"), F.col("set").alias("set_b")), "id_b")
        )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return pairs.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def _prefix_candidates(sets: DataFrame, threshold: float, keys: list[str]) -> DataFrame:
    """(id_a, id_b) pairs sharing a prefix element under ``keys``.

    Element order is (document frequency, element), global across
    keys — df via groupBy+join rather than a count-over-window, so a
    degenerate mega-element skews an AQE-splittable join, not an
    unsplittable window partition."""
    base = sets.select(
        "id", *keys, F.size("set").alias("__m"), F.explode("set").alias("__e")
    )
    df_freq = base.groupBy("__e").agg(F.count(F.lit(1)).alias("__df"))
    rank = F.row_number().over(Window.partitionBy("id").orderBy("__df", "__e"))
    # minimum overlap for Jaccard >= t is ceil(t*m), computed with an
    # epsilon guard: the double product overshoots exact integers
    # (0.56 * 25 = 14.000000000000002 -> ceil 15 instead of 14), which
    # would shorten the prefix by one and silently drop pairs whose
    # Jaccard EQUALS the threshold
    min_overlap = F.ceil(F.lit(threshold) * F.col("__m") - F.lit(1e-9))
    prefix = (
        base.join(df_freq, "__e")
        .withColumn("__rn", rank)
        .where(F.col("__rn") <= F.col("__m") - min_overlap + 1)
        .select("id", *keys, "__e")
    )
    return (
        prefix.withColumnRenamed("id", "id_a")
        .join(prefix.withColumnRenamed("id", "id_b"), [*keys, "__e"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
