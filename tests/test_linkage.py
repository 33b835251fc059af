"""Entity-resolution pins: blocking confinement, edit-threshold
semantics, transitive closure to a deterministic min-id entity, the
singleton-completion contract of assign_entity_ids_from_links, and the
plan shape (blocked equi-join, never a cartesian product)."""

from __future__ import annotations

import pytest

from data_integration_and_harmonization_spark.operators.linkage import (
    assign_entity_ids_from_links,
    candidate_links,
    merge_entities,
    resolve_entities,
)

ROWS = [
    # (id, name, country)
    (1, "acme corp", "US"),
    (2, "acme corpx", "US"),   # edit 1 from #1
    (3, "acme corpxy", "US"),  # edit 1 from #2, edit 2 from #1
    (4, "acme corp", "EU"),    # identical name, different block
    (5, "zenith ltd", "US"),   # singleton
]


def _df(spark):
    return spark.createDataFrame(ROWS, "id long, name string, country string")


def test_blocking_confines_pairs(spark):
    links = candidate_links(_df(spark), "id", "name", ["country"], max_edit=2)
    pairs = {(r.id_a, r.id_b) for r in links.collect()}
    # 1-4 are identical names but in different blocks: never compared
    assert (1, 4) not in pairs
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) in pairs


def test_edit_threshold_and_distance_values(spark):
    links = candidate_links(_df(spark), "id", "name", ["country"], max_edit=1)
    got = {(r.id_a, r.id_b): r.edit_distance for r in links.collect()}
    # the distance-2 pair is excluded; surviving distances are exact
    assert got == {(1, 2): 1, (2, 3): 1}


def test_transitive_closure_min_id_label(spark):
    # 1-2 and 2-3 link at edit<=1; 1-3 joins the entity transitively
    ents = resolve_entities(_df(spark), "id", "name", ["country"], max_edit=1)
    got = {r.id: r.cluster_id for r in ents.collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_assign_entity_ids_completes_singletons(spark):
    df = _df(spark)
    out = assign_entity_ids_from_links(
        df, candidate_links(df, "id", "name", ["country"], max_edit=1), "id"
    )
    got = {r.id: r.entity_id for r in out.collect()}
    # matched records share the component min; everyone else keeps
    # their own id — every input record is present exactly once
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}
    assert out.count() == len(ROWS)


def test_canonicalize_links_punctuation_variants(spark):
    df = spark.createDataFrame(
        [(1, "Acme Corp.", "US"), (2, "acme corp", "US")],
        "id long, name string, country string",
    )
    assert candidate_links(df, "id", "name", ["country"], max_edit=0).count() == 0
    got = candidate_links(
        df, "id", "name", ["country"], max_edit=0, canonicalize=True
    ).collect()
    assert [(r.id_a, r.id_b, r.edit_distance) for r in got] == [(1, 2, 0)]


def test_empty_block_cols_rejected(spark):
    with pytest.raises(ValueError, match="block_cols"):
        candidate_links(_df(spark), "id", "name", [], max_edit=1)


def test_null_block_key_matches_nothing(spark):
    df = spark.createDataFrame(
        [(1, "acme", None), (2, "acme", None), (3, "acme", "US")],
        "id long, name string, country string",
    )
    assert candidate_links(df, "id", "name", ["country"], max_edit=2).count() == 0


def test_merge_entities_survivorship(spark):
    df = spark.createDataFrame(
        [
            (1, 1, "acme corp", 10.0, None),
            (2, 1, "acme corpx", 5.0, "x@y.z"),
            (3, 1, None, 7.0, "a@b.c"),
            (4, 4, "zenith", 2.0, None),
        ],
        "id long, entity_id long, name string, bal double, email string",
    )
    out = merge_entities(
        df, "id", "entity_id", rules={"bal": "max"}
    ).orderBy("entity_id")
    rows = out.collect()
    assert [r.entity_id for r in rows] == [1, 4]
    g = rows[0]
    # default first_non_null = lowest-id record holding a value
    assert g.n_records == 3 and g.name == "acme corp" and g.email == "x@y.z"
    assert g.bal == 10.0  # explicit max rule
    s = rows[1]
    assert s.n_records == 1 and s.name == "zenith" and s.email is None

    # provenance=True: each first_non_null column reports the record
    # id its survivor came from; rule-based columns get no __src
    prov = {
        r.entity_id: r
        for r in merge_entities(
            df, "id", "entity_id", rules={"bal": "max"}, provenance=True
        ).collect()
    }
    g2 = prov[1]
    assert g2["name__src"] == 1 and g2["email__src"] == 2
    assert "bal__src" not in prov[1].asDict()
    assert prov[4]["email__src"] is None  # all-null column -> no provenance


def test_merge_entities_rejects_bad_rules(spark):
    df = spark.createDataFrame([(1, 1, 1.0)], "id long, entity_id long, x double")
    with pytest.raises(ValueError, match="unknown survivorship"):
        merge_entities(df, "id", rules={"x": "mode"})
    with pytest.raises(ValueError, match="absent columns"):
        merge_entities(df, "id", rules={"nope": "max"})


def test_plan_is_blocked_equi_join_not_cartesian(spark):
    links = candidate_links(_df(spark), "id", "name", ["country"], max_edit=1)
    plan = links._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocking_stats_report(spark):
    df = spark.createDataFrame(
        [(1, "a", "US"), (2, "b", "US"), (3, "c", "US"), (4, "d", "EU"), (5, "e", None)],
        "id long, name string, country string",
    )
    from data_integration_and_harmonization_spark.operators.linkage import (
        blocking_stats,
    )

    r = blocking_stats(df, ["country"]).first()
    assert r.n_records == 5
    assert r.n_comparable == 4  # the null-key row can never pair
    assert r.n_blocks == 2
    assert r.candidate_pairs == 3  # C(3,2) + C(1,2) = 3 + 0
    assert r.all_pairs == 10
    assert r.reduction_ratio == pytest.approx(0.7)
    assert r.max_block_size == 3


def test_token_links_catches_word_reorder(spark):
    from data_integration_and_harmonization_spark.operators.linkage import (
        token_links,
    )

    df = spark.createDataFrame(
        [
            (1, "Smith, John", "US"),
            (2, "John Smith", "US"),     # same token set, reordered
            (3, "John Smythe", "US"),    # one shared token of three distinct
            (4, "John Smith", "EU"),     # other block: never compared
            (5, "Acme", "US"),           # no shared tokens with anyone
        ],
        "id long, name string, country string",
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in
           token_links(df, "id", "name", ["country"], threshold=0.5).collect()}
    assert got == {(1, 2): 1.0}
    # lowering the threshold admits the partial-overlap pair at 1/3
    loose = {(r.id_a, r.id_b): r.jaccard for r in
             token_links(df, "id", "name", ["country"], threshold=0.3).collect()}
    assert loose[(1, 3)] == pytest.approx(1 / 3, abs=1e-6)
    assert loose[(2, 3)] == pytest.approx(1 / 3, abs=1e-6)
    assert (1, 4) not in loose and (2, 4) not in loose


def test_token_links_edges_feed_clusters(spark):
    from data_integration_and_harmonization_spark.operators.dedup import (
        duplicate_clusters,
    )
    from data_integration_and_harmonization_spark.operators.linkage import (
        token_links,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta", "X"), (2, "beta alpha", "X"), (3, "gamma delta", "X")],
        "id long, name string, country string",
    )
    links = token_links(df, "id", "name", ["country"], threshold=0.9)
    got = {r.id: r.cluster_id for r in duplicate_clusters(links).collect()}
    assert got == {1: 1, 2: 1}


def _brute_token_links(rows, threshold):
    """Python brute force of token_links over (id, name, country)
    rows: every same-country pair, normalized distinct name tokens."""
    import itertools
    import re

    from tests.test_setsim import brute_jaccard_pairs

    sets = {
        i: set(re.sub("[^a-z0-9]+", " ", name.lower()).split()) for i, name, _ in rows
    }
    country = {i: c for i, _, c in rows}
    pairs = [
        (a, b)
        for a, b in itertools.combinations(sorted(sets), 2)
        if country[a] == country[b]
    ]
    return brute_jaccard_pairs(sets, threshold, pairs)


def test_token_links_prefix_filter_is_lossless(spark):
    """The AllPairs/PPJoin prefix filter prunes candidate GENERATION
    only — for any threshold the result must equal a Python brute
    force pair-for-pair (including jaccard values). Names engineered
    with a block-wide hot suffix token ('inc') so the prefix path
    actually prunes something."""
    from data_integration_and_harmonization_spark.operators.linkage import token_links

    rows = [
        (1, "alpha one inc", "US"),
        (2, "one alpha inc", "US"),     # reorder of 1 -> jaccard 1.0
        (3, "beta two inc", "US"),      # shares only 'inc' with 1/2
        (4, "two beta inc", "US"),      # reorder of 3
        (5, "gamma three inc", "US"),   # singleton-ish
        (6, "alpha one inc", "EU"),     # other block
    ]
    df = spark.createDataFrame(rows, "id long, name string, country string")
    for thr in (0.4, 0.6, 0.9):
        fast = {
            (r.id_a, r.id_b): r.jaccard
            for r in token_links(df, "id", "name", ["country"], thr).collect()
        }
        slow = _brute_token_links(rows, thr)
        assert fast == slow, f"threshold {thr}: {fast} != {slow}"
    assert (1, 2) in fast and (3, 4) in fast


def test_token_links_prefix_boundary_threshold(spark):
    """Float-ceil boundary (review finding): 25-token A vs B sharing
    exactly 14 tokens, threshold 0.56 -> Jaccard = 14/25 = 0.56, ON
    the threshold. 0.56 * 25 = 14.000000000000002 in doubles; a naive
    ceil makes the required overlap 15 and shortens A's prefix by one,
    silently dropping the pair. The epsilon-guarded ceil must keep the
    prefix path identical to a Python brute force here."""
    from data_integration_and_harmonization_spark.operators.linkage import token_links

    a = " ".join(f"t{i:02d}" for i in range(1, 26))    # t01..t25
    b = " ".join(f"t{i:02d}" for i in range(12, 26))   # t12..t25 (14 shared)
    df = spark.createDataFrame(
        [(1, a, "US"), (2, b, "US")], "id long, name string, country string"
    )
    fast = {
        (r.id_a, r.id_b): r.jaccard
        for r in token_links(df, "id", "name", ["country"], 0.56).collect()
    }
    slow = _brute_token_links([(1, a, "US"), (2, b, "US")], 0.56)
    assert fast == slow == {(1, 2): 0.56}
