"""functions/setsim.py: the one set-similarity join.

Every candidate mode (given candidates, the prefix filter, the keyed
self-join) must equal a Python brute force pair for pair, jaccard
included; the guard keeps Jaccard verification from forking again.
"""

from __future__ import annotations

import itertools
import pathlib
import random

import pytest

from data_integration_and_harmonization_spark.functions.setsim import jaccard_pairs

ROOT = pathlib.Path(__file__).resolve().parent.parent
THRESHOLDS = (0.0, 0.3, 0.5, 0.56, 0.9, 1.0)
SCHEMA = "id long, k string, set array<string>"


def brute_jaccard_pairs(sets: dict, threshold: float, pairs) -> dict:
    """{(id_a, id_b): jaccard} over ``pairs`` (id_a < id_b) of the
    ``sets`` dict id -> set, kept at ``>= threshold``; 0.0 for two
    empty sets."""
    out = {}
    for a, b in pairs:
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        j = round(inter / union, 6) if union else 0.0
        if j >= threshold:
            out[(a, b)] = j
    return out


def _collect(df) -> dict:
    assert df.columns == ["id_a", "id_b", "jaccard"]
    return {(r.id_a, r.id_b): r.jaccard for r in df.collect()}


def _random_rows(seed: int = 7, n: int = 40) -> list[tuple]:
    """Sets from an 8-word vocabulary (so pairs collide at every
    similarity) in two key blocks; every tenth set is empty."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(8)]
    rows = []
    for i in range(n):
        size = 0 if i % 10 == 0 else rng.randint(1, 6)
        rows.append((i, "ab"[i % 2], sorted(rng.sample(vocab, size))))
    return rows


def _check_all_modes(spark, rows: list[tuple], candidates: list[tuple]) -> None:
    sets = {i: set(s) for i, _, s in rows}
    key = {i: k for i, k, _ in rows}
    every = list(itertools.combinations(sorted(sets), 2))
    same_key = [(a, b) for a, b in every if key[a] == key[b]]
    df = spark.createDataFrame(rows, SCHEMA)
    cand_df = spark.createDataFrame(candidates, "id_a long, id_b long")
    for thr in THRESHOLDS:
        keyed = _collect(jaccard_pairs(df, thr, ["k"]))
        assert keyed == brute_jaccard_pairs(sets, thr, same_key), thr
        given = _collect(jaccard_pairs(df, thr, candidates=cand_df))
        assert given == brute_jaccard_pairs(sets, thr, candidates), thr
        if thr > 0:
            unkeyed = _collect(jaccard_pairs(df, thr))
            assert unkeyed == brute_jaccard_pairs(sets, thr, every), thr


def test_every_mode_matches_brute_force(spark):
    rows = _random_rows()
    rng = random.Random(11)
    every = list(itertools.combinations(range(len(rows)), 2))
    # candidates cross key blocks and include empty-set pairs
    candidates = sorted(rng.sample(every, 150)) + [(0, 10), (0, 20)]
    _check_all_modes(spark, rows, sorted(set(candidates)))


def test_prefix_bound_keeps_pair_on_the_threshold(spark):
    """25 tokens vs 14 of them: Jaccard 14/25 = 0.56, ON the
    threshold. 0.56 * 25 = 14.000000000000002 in doubles; a naive ceil
    makes the required overlap 15, shortens the prefix by one and
    drops the pair."""
    a = [f"t{i:02d}" for i in range(1, 26)]
    b = [f"t{i:02d}" for i in range(12, 26)]
    rows = [(1, "x", a), (2, "x", b)]
    df = spark.createDataFrame(rows, SCHEMA)
    assert _collect(jaccard_pairs(df, 0.56, ["k"])) == {(1, 2): 0.56}
    _check_all_modes(spark, rows, [(1, 2)])


def test_unkeyed_zero_threshold_without_candidates_is_refused(spark):
    df = spark.createDataFrame(_random_rows(n=4), SCHEMA)
    with pytest.raises(ValueError, match="cartesian"):
        jaccard_pairs(df, 0.0)


def test_jaccard_verification_exists_once():
    """Only functions/setsim.py may spell ``array_intersect(`` in the
    program: every Jaccard pair path goes through the one kernel."""
    files = [
        *sorted((ROOT / "data_integration_and_harmonization_spark").rglob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
    ]
    offenders = [
        p.relative_to(ROOT).as_posix()
        for p in files
        if "array_intersect(" in p.read_text()
    ]
    assert offenders == ["data_integration_and_harmonization_spark/functions/setsim.py"]
