"""Entity resolution / record linkage (engine extension; SURVEY §7
north-star ops — the reference harmonizes by column-name union only,
ref:20-23; linking ROWS that denote the same real-world entity is the
other half of data integration, so the engine ships it as a
first-class operator family).

The classic three-stage shape, each stage a plain DataFrame op:

1. **Blocking** — a self-equi-join on user-chosen block keys
   (country, segment, zip-prefix, phonetic code, ...). This is what
   makes linkage tractable at scale: the quadratic pair generation is
   confined to one block, never the corpus. The join is a shuffle
   equi-join on the block key — nothing corpus-sized is broadcast,
   and AQE's skew-join splitting handles an oversized block. Block
   granularity is the recall/cost dial the caller owns (same contract
   as LSH banding in :mod:`.dedup`).
2. **Pairwise scoring** — Levenshtein edit distance on the name/title
   column, JVM-side (``F.levenshtein`` with the early-exit threshold
   form: cost O(max_edit · len) per pair instead of O(len²)).
3. **Transitive closure** — matched pairs are edges; entities are
   connected components, resolved by the size-adaptive
   :func:`~.dedup.duplicate_clusters` (driver union-find for small
   edge sets, distributed min-label propagation above the threshold).
   The entity id is the component's minimum record id, so labels are
   deterministic at any parallelism.

Singleton records (no match partner) never appear in the pair graph;
:func:`assign_entity_ids` completes the picture by left-joining the
clusters back and defaulting every unmatched record to its own id —
the full-corpus "golden record key" a downstream merge needs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators.dedup import duplicate_clusters

__all__ = [
    "phonetic_key",
    "blocking_stats",
    "candidate_links",
    "token_links",
    "resolve_entities",
    "assign_entity_ids",
    "assign_entity_ids_from_links",
    "merge_entities",
]


def token_links(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str],
    threshold: float = 0.5,
    prefix_filter: bool = True,
) -> DataFrame:
    """Order-insensitive name matching: records sharing every block
    key link when the Jaccard similarity of their DISTINCT name-token
    sets reaches ``threshold`` — this is what catches "Smith, John" vs
    "John Smith" (edit distance 10, token Jaccard 1.0), the word-
    reordering family Levenshtein structurally misses. Complementary
    to :func:`candidate_links`' typo tolerance; feed either (or the
    union of both) into :func:`~.dedup.duplicate_clusters`.

    Scale shape: names explode to (block, token) rows — pairs are
    generated by an equi-join on (block_cols, token), so only pairs
    sharing at least one token in the same block ever materialize
    (never block² for blocks with diverse names). With
    ``prefix_filter`` (default), the join keys are further cut to each
    record's PREFIX — its ``m - ceil(threshold*m) + 1`` globally
    rarest tokens (m = its token count), the classic AllPairs/PPJoin
    bound: any pair with Jaccard >= threshold MUST share a prefix
    token, so corporate-suffix hot tokens ("inc", "llc") stop
    generating block-wide candidate floods while the result stays
    EXACTLY the unfiltered output (pinned by tests). Candidates are
    then verified against the full token sets (equi-joins on id).
    Token order for the prefix is (document frequency, token) — df via
    groupBy+join rather than a count-over-window so a degenerate
    mega-token skews an AQE-splittable join, not an unsplittable
    window partition. Tokens are the canonical :func:`~.text.normalized`
    words, so case and punctuation never split a token.

    Output: (id_a, id_b, jaccard), id_a < id_b.
    """
    if not block_cols:
        raise ValueError(
            "block_cols must be non-empty: unblocked linkage is an "
            "all-pairs cartesian product (see candidate_links)"
        )
    from data_integration_and_harmonization_spark.operators.text import normalized

    toks = F.array_distinct(F.split(normalized(name_col), " "))
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("n_tok"),
        F.explode(toks).alias("__t"),
        *block_cols,
    ).where(F.col("__t") != "")
    if not prefix_filter:
        left = base.select(
            F.col("id").alias("id_a"), F.col("n_tok").alias("n_a"), "__t", *block_cols
        )
        right = base.select(
            F.col("id").alias("id_b"), F.col("n_tok").alias("n_b"), "__t", *block_cols
        )
        inter = (
            left.join(right, [*block_cols, "__t"])
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("__inter"))
        )
        jac = F.col("__inter") / (F.col("n_a") + F.col("n_b") - F.col("__inter"))
        return (
            inter.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .where(F.col("jaccard") >= threshold)
        )
    # ---- prefix-filtered path (lossless for the given threshold)
    df_freq = base.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    ranked = base.join(df_freq, "__t")
    w_id = Window.partitionBy("id").orderBy("__df", "__t")
    m = F.count(F.lit(1)).over(Window.partitionBy("id"))
    # minimum overlap for Jaccard >= t is ceil(t*m) — computed with an
    # epsilon guard: the double product overshoots exact integers
    # (0.56 * 25 = 14.000000000000002 -> ceil 15 instead of 14), which
    # would shorten the prefix by one and silently drop pairs whose
    # Jaccard EQUALS the threshold (caught in review; pinned by
    # test_token_links_prefix_filter_is_lossless's boundary case)
    min_overlap = F.ceil(F.lit(threshold) * F.col("__m") - F.lit(1e-9))
    prefix = (
        ranked.withColumn("__rn", F.row_number().over(w_id))
        .withColumn("__m", m)
        .where(F.col("__rn") <= F.col("__m") - min_overlap + 1)
        .select("id", "__t", *block_cols)
    )
    cand = (
        prefix.withColumnRenamed("id", "id_a")
        .join(prefix.withColumnRenamed("id", "id_b"), [*block_cols, "__t"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verify against the full token sets: n_tok keeps the
    # unfiltered size and the intersection ignores empty tokens, so
    # the Jaccard matches the unfiltered path's arithmetic exactly
    ne = F.filter(toks, lambda x: x != "")
    sets = df.select(
        F.col(id_col).alias("id"), F.size(toks).alias("n_tok"), ne.alias("__set")
    )
    j = (
        cand.join(
            sets.select(
                F.col("id").alias("id_a"),
                F.col("n_tok").alias("n_a"),
                F.col("__set").alias("__set_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"),
                F.col("n_tok").alias("n_b"),
                F.col("__set").alias("__set_b"),
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("__set_a"), F.col("__set_b")))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        j.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def blocking_stats(df: DataFrame, block_cols: Sequence[str]) -> DataFrame:
    """Size the blocking scheme BEFORE paying for the pairwise pass —
    the operational dial-check every linkage run at scale starts with.
    One aggregate over the block-size distribution; no pairs are
    generated.

    One row: ``n_records`` (input rows), ``n_comparable`` (rows with
    no null block key — the only rows the equi-join can pair),
    ``n_blocks``, ``candidate_pairs`` (sum nb*(nb-1)/2 — exactly what
    :func:`candidate_links` will score), ``all_pairs`` (unblocked
    n*(n-1)/2), ``reduction_ratio`` (1 - candidate/all — the fraction
    of the quadratic cost blocking eliminates), ``max_block_size``
    (the skew hotspot: one huge block is where the plan's wall-clock
    goes).
    """
    if not block_cols:
        raise ValueError("block_cols must be non-empty")
    # ONE scan: group the full input (null keys form groups too), tag
    # each group comparable iff no block key is null — exactly the
    # rows the equi-join can pair
    comparable = F.lit(True)
    for c in block_cols:
        comparable = comparable & F.max(F.col(c).isNotNull())
    sizes = df.groupBy(*block_cols).agg(
        F.count(F.lit(1)).alias("nb"),
        # within a group every row has the SAME key values, so any
        # row's nullness is the group's nullness
        comparable.alias("cmp"),
    )
    # pair counts in decimal(38,0): nb*(nb-1)/2 wraps int64 once a
    # block passes ~3e9 rows — the degenerate-key hotspot this
    # diagnostic exists to expose must not report garbage there
    nbd = F.col("nb").cast("decimal(38,0)")
    pair_d = (nbd * (nbd - F.lit(1)) / F.lit(2)).cast("decimal(38,0)")
    cmp_nb = F.when(F.col("cmp"), F.col("nb")).otherwise(F.lit(0))
    row = sizes.agg(
        F.sum("nb").cast("decimal(38,0)").alias("n_records"),
        F.sum(cmp_nb).cast("decimal(38,0)").alias("n_comparable"),
        F.sum(F.when(F.col("cmp"), 1).otherwise(0)).alias("n_blocks"),
        F.sum(F.when(F.col("cmp"), pair_d).otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)")
        .alias("candidate_pairs"),
        F.max(F.when(F.col("cmp"), F.col("nb"))).alias("max_block_size"),
    )
    nr = F.coalesce(F.col("n_records"), F.lit(0).cast("decimal(38,0)"))
    all_pairs = (nr * (nr - F.lit(1)) / F.lit(2)).cast("decimal(38,0)")
    cand = F.coalesce(F.col("candidate_pairs"), F.lit(0).cast("decimal(38,0)"))
    return row.select(
        nr.alias("n_records"),
        F.coalesce("n_comparable", F.lit(0).cast("decimal(38,0)")).alias("n_comparable"),
        F.coalesce("n_blocks", F.lit(0)).alias("n_blocks"),
        cand.alias("candidate_pairs"),
        all_pairs.alias("all_pairs"),
        F.round(
            # ratio in DOUBLE (counts stay decimal for overflow
            # safety): Spark's decimal/decimal division rounds to a
            # 6-digit scale first, which an external engine dividing in
            # double would not reproduce at the 6th-decimal boundary
            F.when(
                all_pairs > 0,
                F.lit(1.0) - cand.cast("double") / all_pairs.cast("double"),
            ).otherwise(F.lit(1.0)),
            6,
        ).alias("reduction_ratio"),
        F.coalesce("max_block_size", F.lit(0)).alias("max_block_size"),
    )


def phonetic_key(name_col: str | Column) -> Column:
    """Soundex blocking key: records whose names SOUND alike land in
    one block even when spelled differently ("Jon Smith" / "John
    Smyth"), the standard recall-booster edit-distance blocking
    misses. Derive it as a column and pass it as a block key:

        df = df.withColumn("ph", phonetic_key("name"))
        candidate_links(df, "id", "name", ["country", "ph"], ...)

    Pure JVM (``F.soundex``), null-safe (null name -> null key, which
    equi-join semantics then exclude from every block).
    """
    col = F.col(name_col) if isinstance(name_col, str) else name_col
    return F.soundex(F.upper(F.trim(col)))


def _name_expr(name_col: str, canonicalize: bool) -> Column:
    if canonicalize:
        # lower + collapse non-alnum runs: make "Acme Corp." link to
        # "acme corp" at edit distance 0 before typo tolerance kicks in
        from data_integration_and_harmonization_spark.operators.text import normalized

        return normalized(name_col)
    return F.col(name_col)


def candidate_links(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str],
    max_edit: int = 2,
    canonicalize: bool = False,
) -> DataFrame:
    """Blocked pairwise record matching: records sharing every
    ``block_cols`` value are compared by Levenshtein distance on
    ``name_col``; pairs within ``max_edit`` become link edges.

    Output: (id_a, id_b, edit_distance), id_a < id_b. Null block keys
    match nothing (SQL equi-join semantics) — a record with an unknown
    block value generates no pairs rather than pairing with every
    other unknown.
    """
    if not block_cols:
        raise ValueError(
            "block_cols must be non-empty: unblocked linkage is an "
            "all-pairs cartesian product — at corpus scale that is "
            "never the right plan (pick a coarse key, or use the "
            "LSH/SimHash families in operators.dedup for text blobs)"
        )
    nm = _name_expr(name_col, canonicalize)
    left = df.select(
        F.col(id_col).alias("id_a"), nm.alias("__nm_a"), *block_cols
    )
    right = df.select(
        F.col(id_col).alias("id_b"), nm.alias("__nm_b"), *block_cols
    )
    # threshold form early-exits the DP once the running distance
    # exceeds max_edit and returns -1 — strictly cheaper than
    # computing the full distance then filtering
    ed = F.levenshtein(F.col("__nm_a"), F.col("__nm_b"), max_edit)
    return (
        left.join(right, list(block_cols))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ed.alias("edit_distance"))
        .where(F.col("edit_distance") >= 0)
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str],
    max_edit: int = 2,
    canonicalize: bool = False,
) -> DataFrame:
    """Link records and resolve the match graph to entities:
    connected components over :func:`candidate_links` edges.

    Output: (id, cluster_id) for every record that matched at least
    one other record; cluster_id = the component's minimum id. Records
    with no match partner are absent (see :func:`assign_entity_ids`).
    """
    links = candidate_links(df, id_col, name_col, block_cols, max_edit, canonicalize)
    return duplicate_clusters(links)


def assign_entity_ids(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str],
    max_edit: int = 2,
    canonicalize: bool = False,
    entity_col: str = "entity_id",
) -> DataFrame:
    """The full-corpus resolution: every record gets an ``entity_col``
    — its component's minimum id if it matched anything, its own id
    otherwise. Downstream "merge duplicates / pick golden record"
    steps group by this column.

    The join back is on the record id (shuffle equi-join; the cluster
    side holds only matched records, which is small whenever matches
    are — AQE broadcasts it when it can prove that).
    """
    links = candidate_links(df, id_col, name_col, block_cols, max_edit, canonicalize)
    return assign_entity_ids_from_links(df, links, id_col, entity_col)


def assign_entity_ids_from_links(
    df: DataFrame,
    links: DataFrame,
    id_col: str,
    entity_col: str = "entity_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Complete ANY link table (:func:`candidate_links`,
    :func:`token_links`, a union of both, LSH pairs from
    :mod:`.dedup`, ...) to a full-corpus entity labeling: connected
    components over the links, left-joined back onto ``df``, every
    unmatched record defaulting to its own id. This is the composition
    point the three-stage pipeline shares — the link generator is
    pluggable, the closure+completion shape is not."""
    clusters = duplicate_clusters(links, id_a, id_b)
    lab = clusters.select(
        F.col("id").alias(id_col), F.col("cluster_id").alias(entity_col)
    )
    return df.join(lab, id_col, "left").withColumn(
        entity_col, F.coalesce(F.col(entity_col), F.col(id_col))
    )


_SURVIVORSHIP = {
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "avg": F.avg,
}


def merge_entities(
    df: DataFrame,
    id_col: str,
    entity_col: str = "entity_id",
    rules: dict[str, str] | None = None,
    provenance: bool = False,
) -> DataFrame:
    """Survivorship: collapse each entity to ONE golden record.

    Input is :func:`assign_entity_ids` output (every record labeled).
    Per attribute the survivor value follows ``rules`` —
    ``{'col': 'min'|'max'|'sum'|'avg'|'first_non_null'}`` — and
    attributes without a rule default to ``first_non_null``: the value
    from the lowest-id record that has one (``min_by`` over the record
    id, rows with a null attribute skipped), so the merge is
    deterministic at any parallelism, unlike ``first(ignorenulls)``
    whose winner depends on partition order. ``n_records`` counts the
    merged group.

    ``provenance=True`` adds a ``<col>__src`` column per
    first_non_null attribute — the record id the surviving value came
    from (NULL when every record's value was null) — the lineage an
    integration audit needs to answer "which source supplied this
    field?". Rule-based aggregates (min/max/sum/avg) blend values
    across records, so no single provenance id exists for them and
    none is emitted. Same single hash-aggregate: provenance rides as
    one extra ``min()`` per column, no added shuffle.

    One hash-aggregate on the entity id — the same shuffle shape as
    any groupBy; no windows, no self-joins.
    """
    rules = rules or {}
    unknown = {
        c: r
        for c, r in rules.items()
        if r not in _SURVIVORSHIP and r != "first_non_null"
    }
    if unknown:
        raise ValueError(
            f"unknown survivorship rules {unknown}; pick from "
            f"{sorted(_SURVIVORSHIP) + ['first_non_null']}"
        )
    missing = [c for c in rules if c not in df.columns]
    if missing:
        raise ValueError(f"survivorship rules for absent columns: {missing}")
    keyed = [c for c in rules if c in (id_col, entity_col)]
    if keyed:
        # id/entity columns are excluded from the merged attributes, so
        # a rule keyed on them would validate but silently do nothing
        raise ValueError(
            f"survivorship rules may not target the id/entity columns: {keyed}"
        )

    def survive(c: str) -> list:
        rule = rules.get(c, "first_non_null")
        if rule == "first_non_null":
            # value from the lowest-id record where c is non-null:
            # min_by skips rows whose ordering expression is null
            winner_id = F.min(F.when(F.col(c).isNotNull(), F.col(id_col)))
            out = [
                F.min_by(
                    F.col(c), F.when(F.col(c).isNotNull(), F.col(id_col))
                ).alias(c)
            ]
            if provenance:
                out.append(winner_id.alias(f"{c}__src"))
            return out
        return [_SURVIVORSHIP[rule](c).alias(c)]

    attrs = [c for c in df.columns if c not in (id_col, entity_col)]
    return df.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_records"),
        *[expr for c in attrs for expr in survive(c)],
    )


# ------------------------------------------------------- queries and oracles

def _dirty_contacts(spark, sf):
    g = F.expr("c_custkey DIV 2")
    gs = g.cast("string")
    ck = F.col("c_custkey").cast("string")
    name = (
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.lit("zeta"), ck, F.lit(" solo ltd")),
        )
        .when(
            F.col("c_custkey") % 2 == 0,
            F.concat(F.lit("alpha"), gs, F.lit(" beta"), gs, F.lit(" inc")),
        )
        .otherwise(
            F.concat(F.lit("beta"), gs, F.lit(" alpha"), gs, F.lit(" inc"))
        )
    )
    return spark.read.parquet(f"{sf}/customer.parquet").select(
        F.col("c_custkey").alias("id"),
        name.alias("name"),
        (g % 5).alias("country"),
        (g % 100).alias("blk"),
        "c_nationkey",
        "c_acctbal",
    )


def q_link_golden(spark: SparkSession, sf: str) -> DataFrame:
    """Driver-artifact coverage for the golden-record half of the
    linkage family (token_links -> assign_entity_ids_from_links ->
    merge_entities, plus blocking_stats), previously pytest-only.

    The input is a derived "dirty contacts" table over customer —
    the raw c_name is a single unique token per record, which makes
    order-insensitive token matching trivially empty, so the query
    synthesizes the classic record-linkage shape from SQL-expressible
    arithmetic (every derivation is replayed by the oracle):

    - pair group g = c_custkey DIV 2: records 2g / 2g+1 carry the
      same two discriminative tokens in OPPOSITE order plus a shared
      corporate suffix -> token Jaccard 1.0, the word-reordering
      family Levenshtein misses (edit distance ~ full name length);
    - every 7th record gets an unlinkable singleton name (Jaccard to
      anything <= 0.5 < threshold) -> exercises singleton completion;
    - blocks (country, blk) = (g % 5, g % 100) bound the pair join.

    One tagged result, schema (kind, key, metric, val):

    - 'stats':  blocking_stats unpivoted (the dial-check a linkage
                run starts with);
    - 'tok':    the token-Jaccard link edges;
    - 'assign': full-corpus entity ids (components + singletons);
    - 'golden': merge_entities survivorship per entity — n_records,
                max(acctbal), min(nationkey), and length of the
                min_by-id survivor name (pins the deterministic
                first_non_null rule without comparing raw strings).
    """
    from data_integration_and_harmonization_spark.functions.caching import track

    recs = _dirty_contacts(spark, sf)
    # links feed BOTH the 'tok' rows and the closure -> persist;
    # released by the driver wrapper at the next query boundary
    links = track(
        token_links(recs, "id", "name", ["country", "blk"], threshold=0.6).persist()
    )
    tok_rows = links.select(
        F.lit("tok").alias("kind"),
        F.concat_ws(":", "id_a", "id_b").alias("key"),
        F.lit("jaccard").alias("metric"),
        F.col("jaccard").alias("val"),
    )
    stats = blocking_stats(recs, ["country", "blk"])
    stat_rows = stats.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("metric"),
                        F.col(c).cast("double").alias("val"),
                    )
                    for c in stats.columns
                ]
            )
        ).alias("s")
    ).select(
        F.lit("stats").alias("kind"),
        F.lit("").alias("key"),
        F.col("s.metric").alias("metric"),
        F.col("s.val").alias("val"),
    )
    labeled = track(
        assign_entity_ids_from_links(recs, links, "id").persist()
    )
    assign_rows = labeled.select(
        F.lit("assign").alias("kind"),
        F.col("id").cast("string").alias("key"),
        F.lit("entity_id").alias("metric"),
        F.col("entity_id").cast("double").alias("val"),
    )
    golden = merge_entities(
        labeled, "id", rules={"c_acctbal": "max", "c_nationkey": "min"}
    )
    golden_rows = golden.select(
        F.col("entity_id").cast("string").alias("key"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("n_records").alias("metric"),
                    F.col("n_records").cast("double").alias("val"),
                ),
                F.struct(
                    F.lit("bal_max").alias("metric"),
                    F.round("c_acctbal", 6).alias("val"),
                ),
                F.struct(
                    F.lit("nat_min").alias("metric"),
                    F.col("c_nationkey").cast("double").alias("val"),
                ),
                F.struct(
                    F.lit("name_len").alias("metric"),
                    F.length("name").cast("double").alias("val"),
                ),
            )
        ).alias("s"),
    ).select(
        F.lit("golden").alias("kind"),
        "key",
        F.col("s.metric").alias("metric"),
        F.col("s.val").alias("val"),
    )
    return (
        stat_rows.unionByName(tok_rows)
        .unionByName(assign_rows)
        .unionByName(golden_rows)
    )


_RECS = """
  SELECT c_custkey AS id,
    CASE WHEN c_custkey % 7 = 0
           THEN concat('zeta', c_custkey, ' solo ltd')
         WHEN c_custkey % 2 = 0
           THEN concat('alpha', c_custkey // 2, ' beta', c_custkey // 2, ' inc')
         ELSE concat('beta', c_custkey // 2, ' alpha', c_custkey // 2, ' inc')
    END AS name,
    (c_custkey // 2) % 5 AS country,
    (c_custkey // 2) % 100 AS blk,
    c_nationkey, c_acctbal
  FROM customer
"""

LINK_GOLDEN_SQL = f"""
WITH RECURSIVE recs AS ({_RECS}
), tok AS (
  SELECT id, country, blk,
         len(list_distinct(string_split(name, ' '))) AS n_tok,
         unnest(list_distinct(string_split(name, ' '))) AS t
  FROM recs
), links AS (
  SELECT id_a, id_b, jaccard FROM (
    SELECT l.id AS id_a, r.id AS id_b,
           round(count(*)::DOUBLE
                 / (any_value(l.n_tok) + any_value(r.n_tok) - count(*)), 6) AS jaccard
    FROM tok l JOIN tok r
      ON l.country = r.country AND l.blk = r.blk AND l.t = r.t AND l.id < r.id
    GROUP BY 1, 2
  ) WHERE jaccard >= 0.6
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM links
  UNION
  SELECT id_b, id_a FROM links
), reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
), comp AS (
  SELECT id, min(lbl) AS ent FROM reach GROUP BY 1
), labeled AS (
  SELECT recs.*, coalesce(comp.ent, recs.id) AS entity_id
  FROM recs LEFT JOIN comp ON comp.id = recs.id
), blocks AS (
  SELECT country, blk, count(*)::BIGINT AS nb FROM recs GROUP BY 1, 2
), golden AS (
  SELECT entity_id, count(*)::BIGINT AS n_records,
         max(c_acctbal) AS bal_max, min(c_nationkey) AS nat_min,
         length(arg_min(name, id)) AS name_len
  FROM labeled GROUP BY 1
)
SELECT 'stats' AS kind, '' AS key, u.metric, u.val FROM (
  SELECT unnest(['n_records', 'n_comparable', 'n_blocks', 'candidate_pairs',
                 'all_pairs', 'reduction_ratio', 'max_block_size']) AS metric,
         unnest([n_records, n_comparable, n_blocks, candidate_pairs,
                 all_pairs, reduction_ratio, max_block_size]) AS val
  FROM (
    SELECT (SELECT count(*) FROM recs)::DOUBLE AS n_records,
           (SELECT count(*) FROM recs)::DOUBLE AS n_comparable,
           count(*)::DOUBLE AS n_blocks,
           sum(nb * (nb - 1) // 2)::DOUBLE AS candidate_pairs,
           ((SELECT count(*) FROM recs) * ((SELECT count(*) FROM recs) - 1) // 2)::DOUBLE AS all_pairs,
           round(1.0 - sum(nb * (nb - 1) // 2)::DOUBLE
                 / ((SELECT count(*) FROM recs) * ((SELECT count(*) FROM recs) - 1) // 2)::DOUBLE,
                 6) AS reduction_ratio,
           max(nb)::DOUBLE AS max_block_size
    FROM blocks
  )
) u
UNION ALL
SELECT 'tok', concat(id_a, ':', id_b), 'jaccard', jaccard FROM links
UNION ALL
SELECT 'assign', CAST(id AS VARCHAR), 'entity_id', entity_id::DOUBLE FROM labeled
UNION ALL
SELECT 'golden', CAST(entity_id AS VARCHAR), u.metric, u.val FROM golden, LATERAL (
  SELECT unnest(['n_records', 'bal_max', 'nat_min', 'name_len']) AS metric,
         unnest([n_records::DOUBLE, round(bal_max, 6), nat_min::DOUBLE,
                 name_len::DOUBLE]) AS val
) u
"""
